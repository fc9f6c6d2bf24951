package graft.etl

import graft.sources.ControlFile
import org.apache.spark.sql.SparkSession

/** The run-level ops artifact: one JSON document per pipeline run tying
  * together the run timestamp, completion status, and every frame's
  * observed DQ metrics (total rows, approx distinct keys, null/empty
  * key counts — collected by `observe()` as a side effect of the
  * silver writes, see [[Quality.observedReport]]).
  *
  * This is the monitoring surface the reference operates by hand (its
  * ops checklist asks operators to eyeball row counts and failure logs
  * daily, guide p.32): here a run's health is a single machine-readable
  * file next to the data it describes, so an orchestrator alert is a
  * file read, not a log grep. Written by [[graft.sources.ControlFile]]:
  * a few hundred bytes on the driver, no Spark job. */
object RunReport {

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case n: Long => n.toString
    case n: Int => n.toString
    case n: Double =>
      if (n.isNaN || n.isInfinite) "null" else n.toString
    case b: Boolean => b.toString
    case other => ControlFile.jsonString(other.toString)
  }

  /** Contract metrics are the `expect_<rule>` violation counts emitted
    * by [[Quality.observedReport]]; they render as their own
    * `contracts` block (rule → violations, per-frame and overall
    * pass/fail) so an orchestrator gate is one boolean read, while
    * `frames` keeps the plain observed DQ metrics. */
  private def isViolated(v: Any): Boolean = v match {
    case n: Long => n != 0L
    case n: Int => n != 0
    case n: Double => n != 0.0
    case _ => true // a contract metric that isn't a count is a bug
  }

  /** `contractRules` names each frame's contract metric keys
    * EXPLICITLY (frame → metric names as they appear in its report) —
    * the caller registered the expectations, so the caller says which
    * metrics are contracts. Routing by the `expect_` name prefix
    * instead would misfile the observed DQ metric of any key column
    * whose own name starts with `expect_` (its `…_null_or_empty`
    * count, usually nonzero, would flip `contracts_status` to fail). */
  private[graft] def render(runTs: String, status: String,
                          reports: Map[String, Map[String, Any]],
                          contractRules: Map[String, Set[String]] =
                            Map.empty): String = {
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonValue(k)}:$v" }
        .mkString("{", ",", "}")
    def isContract(frame: String, metric: String): Boolean =
      contractRules.getOrElse(frame, Set.empty)(metric)
    val frames = obj(reports.toSeq.sortBy(_._1).map { case (frame, ms) =>
      frame -> obj(ms.toSeq.filterNot(kv => isContract(frame, kv._1))
        .sortBy(_._1).map { case (k, v) => k -> jsonValue(v) })
    })
    val contractFrames = reports.toSeq.sortBy(_._1).flatMap {
      case (frame, ms) =>
        val rules = ms.toSeq.filter(kv => isContract(frame, kv._1))
          .sortBy(_._1)
        if (rules.isEmpty) None
        else Some(frame -> (rules, rules.forall(r => !isViolated(r._2))))
    }
    val contracts = obj(contractFrames.map { case (frame, (rules, ok)) =>
      frame -> obj(rules.map { case (k, v) =>
        k.stripPrefix("expect_") -> jsonValue(v) } :+
        ("passed" -> ok.toString))
    })
    val allOk = contractFrames.forall(_._2._2)
    s"""{"run_ts":${jsonValue(runTs)},"status":${jsonValue(status)},""" +
      s""""contracts_status":${jsonValue(if (allOk) "pass" else "fail")},""" +
      s""""contracts":$contracts,"frames":$frames}"""
  }

  /** Write the artifact: one report per silver root, replacing the
    * previous run's like the watermark is, through
    * [[graft.sources.ControlFile]] (a reader never sees a truncated
    * report). */
  def write(spark: SparkSession, path: String, runTs: String,
            status: String,
            reports: Map[String, Map[String, Any]],
            contractRules: Map[String, Set[String]] = Map.empty): Unit =
    ControlFile.replace(spark, path,
      render(runTs, status, reports, contractRules))
}
