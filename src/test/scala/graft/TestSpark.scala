package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (lazy, never stopped —
  * stopping between suites costs more than it saves), built by
  * [[Session.local]] so the specs check the engine the mains run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body` with every conf of `confs` set, one nested
    * [[Session.withConf]] scope per key. */
  def withConfs[T](s: SparkSession, confs: Seq[(String, String)])(
      body: => T): T = confs match {
    case (k, v) +: rest => Session.withConf(s, k, v)(withConfs(s, rest)(body))
    case _ => body
  }
}
