package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.CheckpointBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The deterministic-release bridge: a localCheckpoint's blocks are
  * actually freed on release (not left to the ContextCleaner), and
  * non-checkpoint frames are a safe no-op. */
class CheckpointBridgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("release unpersists a checkpointed dataset's storage") {
    val df = spark.range(1000).toDF("id").localCheckpoint(true)
    val rdd = df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    assert(rdd.getStorageLevel != StorageLevel.NONE,
      "localCheckpoint should persist")
    CheckpointBridge.release(df)
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      "release should unpersist the checkpointed RDD")
  }

  test("release is a no-op on plans that are not checkpoints") {
    CheckpointBridge.release(spark.range(10).toDF("id")) // must not throw
    CheckpointBridge.release(
      spark.range(10).toDF("id").groupBy("id").count())
  }

  test("a released lazy checkpoint that was never materialized is fine") {
    val df = spark.range(10).toDF("id").localCheckpoint(false)
    CheckpointBridge.release(df) // nothing persisted yet — no-op
  }

  // ---- loop-level hygiene: the release-one-round-behind discipline
  // must leave executor storage BOUNDED after an iterative kernel
  // finishes, not one superseded round state per iteration. The bound
  // is 1: only the kernel's final (still-consumable) state may stay.
  // QueriesSpec puts every registry row under the same bound; the rows
  // below are the loop- and cut-heavy ones, kept as named checks.

  private def newlyPersisted(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("Bpe.train leaves at most the final vocab persisted") {
    import spark.implicits._
    val docs = Seq("ababab ababab cdcd", "abab cdcd cdcd ef",
      "abab ef ef gh").toDF("text")
    val fresh = newlyPersisted {
      val (merges, vocab) = llmops.Bpe.train(docs, "text", rounds = 6)
      assert(merges.nonEmpty)
      vocab.collect() // the returned state must still be consumable
    }
    assert(fresh.size <= 1,
      s"expected <=1 surviving checkpoint after 6 merge rounds, " +
        s"found ${fresh.size} (superseded round states leaked)")
  }

  test("graph_sssp leaves at most the final distance state persisted") {
    val q = Queries.all.find(_.name == "graph_sssp").get
    val fresh = newlyPersisted {
      assert(q.run(spark, "/root/testdata/sf0.001").collect().nonEmpty)
    }
    assert(fresh.size <= 1,
      s"expected <=1 surviving checkpoint after SSSP converges, " +
        s"found ${fresh.size} (edges or superseded rounds leaked)")
  }

  test("graph_bfs_depth leaves at most the final frontier persisted") {
    val q = Queries.all.find(_.name == "graph_bfs_depth").get
    val fresh = newlyPersisted {
      assert(q.run(spark, "/root/testdata/sf0.001").collect().nonEmpty)
    }
    assert(fresh.size <= 1,
      s"expected <=1 surviving checkpoint after BFS converges, " +
        s"found ${fresh.size} (edges or superseded rounds leaked)")
  }

  // Queries that checkpoint shared intermediates (reco's capped
  // seen-list, the versioned PQ build's corpus + model state) or run
  // an iterative kernel (pagerank, label propagation, MMR's selection
  // rounds, the IVF-PQ build) end with one eager RESULT checkpoint inside a
  // Scratch.scoped body, which frees everything else. The bound
  // stays 1 for all of them.
  Seq("reco_item_item", "reco_user_topn", "reco_eval_hitrate",
    "sim_topk_pq_versioned", "graph_pagerank", "graph_label_propagation",
    "sim_mmr_rerank", "sim_topk_ivfpq_gate").foreach { name =>
    test(s"$name leaves at most its final result checkpoint persisted") {
      val q = Queries.all.find(_.name == name).get
      val fresh = newlyPersisted {
        assert(q.run(spark, "/root/testdata/sf0.001").collect() != null)
      }
      assert(fresh.size <= 1,
        s"expected <=1 surviving checkpoint after $name, " +
          s"found ${fresh.size} (shared intermediates leaked)")
    }
  }
}
