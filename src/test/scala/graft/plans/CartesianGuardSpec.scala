package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, TestSpark}

/** The library-level cartesian guardrail: refuses un-hinted
  * condition-less joins, allows broadcast composes and the explicit
  * opt-in, and actually fires when wired through
  * SparkSessionExtensions (the deployment path). */
class CartesianGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def big = (1 to 100).toDF("a")
  private def small = (1 to 5).toDF("b")

  test("rule refuses an un-hinted cartesian, allows broadcast + opt-in") {
    // optimizedPlan: the injection point sits after hint resolution,
    // so Join.hint is populated there (analyzed plans still carry
    // ResolvedHint wrappers instead)
    val guard = CartesianGuard(spark)
    val bad = big.crossJoin(small).queryExecution.optimizedPlan
    val e = intercept[IllegalStateException](guard(bad))
    assert(e.getMessage.contains("CartesianProduct"))
    // broadcast compose — the sanctioned shape — passes untouched
    val ok = big.crossJoin(broadcast(small)).queryExecution.optimizedPlan
    assert(guard(ok) eq ok)
    // equi-joins never trip it
    val ej = big.join(small, col("a") === col("b")).queryExecution.optimizedPlan
    assert(guard(ej) eq ej)
    // explicit opt-in
    Session.withConf(spark, "spark.graft.allowCartesian", "true") {
      assert(guard(bad) eq bad)
    }
  }

  test("provably-1-row sides are exempt (scalar-aggregate compose)") {
    val guard = CartesianGuard(spark)
    // the registry's standard idiom: enrich every row with a corpus-
    // wide scalar via an un-hinted crossJoin against a grouping-less
    // aggregate — Catalyst proves maxRows == 1, so this is a bounded
    // broadcast nested-loop, not a cartesian detonation
    val scalar = big.agg(sum(col("a")).as("total"))
    val ok = big.crossJoin(scalar).queryExecution.optimizedPlan
    assert(guard(ok) eq ok)
    // 1-row side on the LEFT too
    val okL = scalar.crossJoin(big).queryExecution.optimizedPlan
    assert(guard(okL) eq okL)
    // LIMIT 1 is equally provable
    val okLim = big.crossJoin(small.limit(1)).queryExecution.optimizedPlan
    assert(guard(okLim) eq okLim)
  }

  test("fires end-to-end through SparkSessionExtensions") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      val l = (1 to 100).toDF("a")
      val r = (1 to 5).toDF("b")
      val e = intercept[Exception](l.crossJoin(r).collect())
      assert(e.getMessage != null &&
        e.getMessage.contains("CartesianGuard"), e.getMessage)
      // the broadcast compose still executes fine under the guard
      assert(l.crossJoin(broadcast(r)).count() == 500)
      // and so does the registry's scalar-aggregate compose — the
      // guard must not reject what the library's own queries do
      // (un-hinted crossJoin against a grouping-less aggregate)
      assert(l.crossJoin(l.agg(sum(col("a")).as("t"))).count() == 100)
      // the REGISTRY ITSELF must be deployable under the shipped
      // extensions: run real registered queries that compose 1-row
      // aggregates via condition-less crossJoin end-to-end in the
      // extension-loaded session (the conflict class the guard's
      // maxRows exemption exists for)
      // corpus_ks_drift adds the HINTED MULTI-ROW crossJoin class
      // (sources × length-histogram fill domain)
      Seq("reco_eval_hitrate", "text_pmi_collocations",
        "kpi_engagement_rate", "corpus_ks_drift").foreach { name =>
        val q = graft.Queries.all.find(_.name == name).get
        assert(q.run(s2, "/root/testdata/sf0.001").count() > 0,
          s"$name failed under GraftExtensions")
      }
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
