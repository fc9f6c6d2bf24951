package graft

import scala.util.Try

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The cost ledger: read volume visible per measured body (selectivity,
  * AQE sub-jobs included), failures booked, and only the body's own
  * jobs booked. */
class LedgerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A 1000-row parquet table with a 10-valued key `k`. */
  private def table(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger")
    (1 to 1000).map(i => (i.toLong, i % 10)).toDF("id", "k")
      .write.parquet(s"$dir/t")
    s"$dir/t"
  }

  test("scan vs written rows — selectivity is visible") {
    val t = table()
    val (_, c) = Ledger.measure(spark) {
      spark.read.parquet(t).filter(col("k") === 3)
        .write.mode("overwrite").parquet(s"$t-out")
    }
    assert(c.jobs.nonEmpty && c.failedJobs.isEmpty, c)
    assert(c.jobs.forall(j => j.endMs >= j.startMs), c)
    // the scan read all 1000 rows (k is not pushdown-eliminable at row
    // precision), the parquet sink wrote the 100 that passed
    assert(c.scanRows == 1000, c)
    assert(c.rowsWritten == 100, c)
    assert(c.outputBytes > 0 && c.inputBytes > 0, c)
  }

  test("sees through AQE: a shuffle query still reports its scan rows") {
    // TestSpark runs with AQE on (the default), so the exchange runs
    // its map stage in a sub-job of its own; that job carries the
    // caller's local property and is booked too
    val t = table()
    val (_, c) = Ledger.measure(spark) {
      Bench.drain("agg", spark.read.parquet(t)
        .groupBy("k").agg(sum("id").as("s")))
    }
    assert(c.jobs.size >= 2, c)
    assert(c.scanRows == 1000, c)
    assert(c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0, c)
    assert(c.rowsWritten == 0, c) // the noop sink writes no file rows
  }

  test("every job of an AQE shuffle query names the action's call site") {
    // AQE runs the exchange's map stage in a sub-job of its own, on a
    // pool thread; the job still names the collect it serves (the
    // read's schema job runs outside the measure: it is no SQL
    // execution, so it has no execution description to take)
    val df = spark.read.parquet(table()).groupBy("k").agg(sum("id").as("s"))
    val (_, c) = Ledger.measure(spark)(df.collect())
    assert(c.jobs.size >= 2, c)
    assert(c.jobs.forall(
      _.description.startsWith("collect at LedgerSpec.scala:")),
      c.jobs.map(_.description))
    // a job outside any SQL execution (a read's schema inference) takes
    // its call site, and a streaming batch's multi-line description is
    // booked on one line: never empty, never a newline
    val t = table()
    val (_, more) = Ledger.measure(spark) {
      val schema = spark.read.parquet(t).schema
      spark.readStream.schema(schema).parquet(t)
        .writeStream.format("parquet").option("path", s"$t-stream")
        .option("checkpointLocation", s"$t-ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    val descriptions = more.jobs.map(_.description)
    assert(descriptions.exists(_.startsWith("parquet at LedgerSpec.scala:")),
      descriptions)
    assert(descriptions.exists(_.contains("batch = 0")), descriptions)
    assert(descriptions.forall(d => d.nonEmpty && !d.contains('\n')),
      descriptions)
  }

  test("every job of a drained row is booked under the row's name") {
    val df = spark.read.parquet(table()).groupBy("k").agg(sum("id").as("s"))
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    val (_, c) =
      try Ledger.measure(spark)(Bench.drain("kpi_by_k", df))
      finally {
        // the drain restored the caller's description
        assert(sc.getLocalProperty("spark.job.description") == "outer")
        sc.setJobDescription(null)
      }
    assert(c.jobs.size >= 2, c)
    assert(c.jobs.forall(_.description.startsWith("kpi_by_k")),
      c.jobs.map(_.description))
  }

  test("a failing action is booked as a failed job") {
    val (r, c) = Ledger.measure(spark) {
      Try(Bench.drain("assert",
        spark.range(10).select(expr("assert_true(id < 5)"))))
    }
    assert(r.isFailure)
    assert(c.failedJobs.nonEmpty, c)
    assert(c.jobs.forall(_.endMs >= 0), c)
  }

  test("books only the body's own jobs: not another thread's, not a " +
    "nested measure's") {
    // a thread inherits local properties when it is CONSTRUCTED (a
    // thread the body spawns belongs to the body); this one is not
    val other = new Thread(() => spark.range(100).collect())
    val (inner, outer) = Ledger.measure(spark) {
      other.start(); other.join()
      val (_, nested) = Ledger.measure(spark)(spark.range(7).collect())
      spark.range(5).collect()
      nested
    }
    assert(inner.jobs.size == 1, inner)
    assert(outer.jobs.size == 1, outer)
    assert(outer.jobs.head.id != inner.jobs.head.id)
    assert(spark.sparkContext.getLocalProperty("graft.ledger") == null)
  }
}
