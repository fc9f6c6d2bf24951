package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every registered query runs on sf0.001, produces a sane
  * frame and leaves the session as it found it. (Exact value
  * correctness is enforced by the DuckDB oracle via Verify +
  * scripts/verify_local.py; this keeps `sbt test` covering the full
  * registry.) */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // queries whose correct result may legitimately be empty at tiny SF
  private val mayBeEmpty = Set("dup_groups", "dedup_minhash_lsh",
    "dedup_simhash", "dedup_ngram_jaccard", "dedup_embedding")

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  // Session hygiene, no allowlist: a row leaves the explicit session
  // conf, the temp views and ImageIO's process-wide cache setting as
  // it found them, stops every stream it started, and keeps at most
  // one new persisted RDD, its result cut (Scratch.scoped frees every
  // other cut). Persistent catalog tables a Scratch.memo build stages
  // once per JVM (bucketed_join's bucketed tables) are scratch
  // artifacts, not checked here. Every stream a row drains is named
  // after the row, so each streaming job is booked under its name.
  Queries.all.foreach { q =>
    test(s"query ${q.name} runs on sf0.001") {
      val (conf0, views0, rdds0) = (spark.conf.getAll, tempViews, persisted)
      val imageCache0 = javax.imageio.ImageIO.getUseCache
      val ((df, n), costs) = Ledger.measure(spark) {
        val df = q.run(spark, dir)
        (df, df.count())
      }
      assert(df.columns.nonEmpty)
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      val conf = spark.conf.getAll
      assert(conf == conf0, s"${q.name} changed session confs: " +
        s"${conf.toSet diff conf0.toSet}, was ${conf0.toSet diff conf.toSet}")
      assert(tempViews == views0,
        s"${q.name} left temp views: ${tempViews diff views0}")
      assert(javax.imageio.ImageIO.getUseCache == imageCache0,
        s"${q.name} changed ImageIO's process-wide cache setting")
      val unnamed = costs.jobs.map(_.description)
        .filter(d => d.contains("runId = ") && !d.startsWith(s"${q.name} "))
      assert(unnamed.isEmpty, s"${q.name} ran streaming jobs not named " +
        s"after the row: ${unnamed.distinct.mkString("; ")}")
      assert(spark.streams.active.isEmpty,
        s"${q.name} left streams running: " +
          spark.streams.active.map(_.name).mkString(","))
      val fresh = persisted -- rdds0
      assert(fresh.size <= 1, s"${q.name} left ${fresh.size} persisted " +
        "RDDs; free intermediates with Scratch.scoped and end in one " +
        "result cut")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracled query name exists in queries") {
    val qn = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qn))
  }

  test("registry names are unique (a duplicate silently shadows a row)") {
    val names = Queries.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate registry names: ${dups.mkString(",")}")
  }

  test("every registered query carries an oracle") {
    // the correctness gate only audits rows that HAVE oracle SQL — a
    // registry entry without one silently escapes the driver's compare
    val missing = Queries.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"oracle-less queries: ${missing.mkString(",")}")
  }
}
