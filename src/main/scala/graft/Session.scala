package graft

import org.apache.spark.sql.SparkSession

/** The one way this engine builds a Spark session: every main
  * (`Bench`, `Verify`, `Debug`) and the test suites get
  * the same engine, so a profile, a bench row, a verify dump and a
  * spec all measure and check one configuration. Session-wide
  * settings live HERE and nowhere else — query code never sets a
  * session conf as a side effect of reading a table. */
object Session {

  def local(cpus: Int): SparkSession = {
    // SPARK_GRAFT_RELIABLE_CKPT=true prices reliable (checkpoint-dir)
    // scratch checkpoints instead of localCheckpoint — the
    // preemptible-fleet deployment shape (see graft.Scratch)
    val reliable = sys.env.getOrElse("SPARK_GRAFT_RELIABLE_CKPT", "false")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's coalescing floor (minPartitionSize) stays at its 1 MB
      // default DELIBERATELY: a round-17 A/B at 16 KB spread every
      // small post-shuffle stage cores-wide and made a 20-row mixed
      // subset 1.8× SLOWER (e.g. sim_matryoshka_eval 2.14 → 6.67 s) —
      // per-task launch overhead across every widened stage swamps
      // the single-task CPU it recovers. Compute-dense stages that
      // genuinely need width get a TARGETED spread instead
      // (graft.Spread); see OPTIMIZATION_r17.md.
      .config("spark.sql.session.timeZone", "UTC")
      // saveAsTable queries (bucketed_join) must not drop a
      // spark-warehouse dir in whatever cwd the process launched from
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config(Scratch.ReliableConf, reliable)
      // reliable mode writes real checkpoint files; released cuts are
      // cleaned deterministically (Scratch.scoped), and this
      // lets the ContextCleaner reclaim any cut that outlives its
      // Dataset so a full-registry run's checkpoint dir stays bounded
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", reliable)
      // events.parquet has shipped ts as TIMESTAMP(NANOS) in some data
      // drops, which Spark 4's parquet reader rejects unless read as a
      // long; Qdsl.normalizeTs schema-dispatches either layout to
      // TimestampType. Set once here, so no read site mutates the
      // session (a no-op for TIMESTAMP(MICROS) files).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming state snapshot files are written without checksum
      // side-files, so the read-side verification can never succeed —
      // it WARNs "No checksum file found" once per state file per
      // attempt, hundreds of lines in a round-15 log tail. Local
      // temp checkpoints gain nothing from corruption detection;
      // disable the feature rather than filter its noise.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Drop the two known-benign WARN flood classes BY MESSAGE REGEX —
    // not by logger level, which also swallowed real warnings those
    // loggers might emit (round-15 advice). Rationale per line lives
    // in LogNoise's scaladoc.
    LogNoise.suppressKnownBenign()
    spark
  }

  /** Runs `body` with session conf `key` set to `value`, then restores
    * the key's previous EXPLICIT setting — or unsets it if it had none.
    * Saving `conf.get(key)` instead would read back the DEFAULT and pin
    * it into the session on restore: a session-global side effect of
    * a query, visible to every later `conf.getAll`. */
  private[graft] def withConf[T](s: SparkSession, key: String,
                                 value: String)(body: => T): T = {
    val prev = s.conf.getAll.get(key)
    s.conf.set(key, value)
    try body
    finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** `SPARK_GRAFT_CPUS`: the local core count Bench, Verify and Debug
    * run at. */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS", 4)

  /** A positive-integer env setting, `default` when unset. A bad value
    * fails naming the variable and the value — a bare `.toInt` throws
    * an anonymous NumberFormatException, and a non-number spliced into
    * `local[...]` surfaces as a master-URL error far from its cause. */
  private[graft] def positiveInt(env: collection.Map[String, String],
                                 name: String, default: Int): Int =
    env.get(name).fold(default) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"env $name must be a positive integer, got '$v'"))
    }
}
