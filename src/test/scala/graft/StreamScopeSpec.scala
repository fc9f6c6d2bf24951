package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming rows' one stream scope: the state width is a property
  * of the staged input's key count, and the state-store provider is the
  * session's own. */
class StreamScopeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  import QueriesStreaming.stateWidth

  test("state width: 4 up to the measured optimum, one partition per " +
    "4096 users above it, capped at the core count") {
    Seq(15L, 1500L).foreach { users =>
      assert(stateWidth(users, 4) == 4, users)
      assert(stateWidth(users, 32) == 4, users)
    }
    assert(stateWidth(150000L, 32) == 32)
    assert(stateWidth(150000L, 4) == 4)
    assert(stateWidth(0L, 2) == 4) // the floor holds below 4 cores
  }

  test("every committed tier stages at width 4") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { tier =>
      val users = spark.read.parquet(s"/root/testdata/$tier/events.parquet")
        .agg(approx_count_distinct(col("user_id"))).head().getLong(0)
      Seq(4, 32).foreach(cores =>
        assert(stateWidth(users, cores) == 4, s"$tier: $users users"))
    }
  }

  test("stream_sessions keeps a session-level RocksDB provider and " +
    "matches its oracle") {
    val q = Queries.all.find(_.name == "stream_sessions").get
    // the oracle's one DuckDB-only function has a Spark twin
    val expected = Tables.sql(spark,
      "events" -> Tables.load(spark, dir, "events"))(
      q.oracle.get.replace("epoch_us(", "unix_micros(")).collect().toSeq
    val before = Scratch.registered.toSet
    val got = Session.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider") {
      q.run(spark, dir).collect().toSeq
    }
    assert(got.nonEmpty && got == expected)
    // the state the row committed is RocksDB's (zipped snapshots or
    // changelogs), not the default provider's delta files
    val stateFiles = Scratch.registered.filterNot(before).flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.toString.contains("/ckpt/state/"))
        .map(_.getFileName.toString).toList
      finally walk.close()
    }
    assert(stateFiles.exists(f =>
      f.endsWith(".zip") || f.endsWith(".changelog")), stateFiles)
    assert(!stateFiles.exists(_.endsWith(".delta")), stateFiles)
  }
}
