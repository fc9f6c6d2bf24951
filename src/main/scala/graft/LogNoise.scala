package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.Filter.Result
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.logging.log4j.core.filter.RegexFilter

/** Targeted suppression of KNOWN-BENIGN warn lines in the mains'
  * tails — by message REGEX, not by logger level. [[Session]] applies
  * it to every session it builds.
  *
  * Rounds 11/15 silenced the two flood classes by setting whole
  * loggers (`...execution.window`, `...rdd.MapPartitionsRDD`) to
  * ERROR, which also swallowed every OTHER warning those loggers
  * might emit — e.g. any future WARN the RDD base class logs through
  * the concrete-class logger (round-15 advice). A message filter
  * drops exactly the line whose benignity is argued, and nothing
  * else:
  *
  *  - "No Partition Defined for Window operation": the registry's
  *    ~20 reviewed global windows are all over bounded aggregates
  *    (Qdsl.boundedWindow sites); scale discipline is enforced
  *    STATICALLY by PlanGuardrailSpec, which rejects any
  *    unallowlisted empty-key window over raw rows, so the runtime
  *    line carries no remaining signal — but hundreds of identical
  *    copies bury any real new warning in the official tail.
  *  - "was locally checkpointed, its lineage has been truncated":
  *    one line per release of a consumed cut. The releases are
  *    deliberate — Scratch.scoped and the loops' one-round-behind
  *    discipline free ONLY cuts whose contents are consumed
  *    (CheckpointBridge's scaladoc contract, exercised by the kernel
  *    specs).
  *
  * (The third historical flood class — ChecksumCheckpointFileManager
  * "No checksum file found" from streaming state snapshots — is fixed
  * at the SOURCE instead: [[Session]] sets
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled=false`, so
  * the verification that could never succeed on checksum-less state
  * snapshot files is not attempted at all.)
  */
object LogNoise {

  /** Attach a DENY filter for messages matching `regex` (whole-message
    * match, log4j2 RegexFilter semantics) to `loggerName`'s config,
    * creating an additive LoggerConfig at the parent's level if none
    * exists at exactly that name. Non-matching events pass NEUTRAL and
    * reach the parent appenders unchanged. */
  def denyMatching(loggerName: String, regex: String): Unit = synchronized {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val lc = {
      val nearest = cfg.getLoggerConfig(loggerName)
      if (nearest.getName == loggerName) nearest
      else {
        // additive=true with no appenders: events that pass the filter
        // still flow to the parent config's appenders at its level
        val created = new LoggerConfig(loggerName, nearest.getLevel, true)
        cfg.addLogger(loggerName, created)
        created
      }
    }
    lc.addFilter(RegexFilter.createFilter(
      regex, null, java.lang.Boolean.FALSE, Result.DENY, Result.NEUTRAL))
    ctx.updateLoggers()
  }

  /** The benign-flood filters every [[Session]] applies (rationale in
    * the object scaladoc). */
  def suppressKnownBenign(): Unit = {
    denyMatching("org.apache.spark.sql.execution.window",
      ".*No Partition Defined for Window operation.*")
    denyMatching("org.apache.spark.rdd.MapPartitionsRDD",
      ".*was locally checkpointed, its lineage has been truncated.*")
  }
}
