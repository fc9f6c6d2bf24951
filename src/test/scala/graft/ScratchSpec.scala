package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Scratch.ScratchOps

/** The scratch-state lifecycle ([[Scratch.dir]], [[Scratch.memo]],
  * [[Scratch.cleanup]]), the lifetime of lineage cuts
  * ([[Scratch.scoped]]) and the one-knob scratch-checkpoint contract
  * (graft.Scratch). Reliable
  * mode must be a pure durability swap — same results, bit for bit —
  * with the checkpoint actually landing in the checkpoint directory
  * (that is the property that survives executor loss; localCheckpoint
  * blocks do not). The conf is read PER CALL, so a session can flip
  * modes between queries. */
class ScratchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
    (6L, 7L)).toDF("src", "dst")

  /** `body` with the scratch checkpoint mode set to `mode`. */
  private def reliable[T](mode: String)(body: => T): T =
    Session.withConf(spark, Scratch.ReliableConf, mode)(body)

  /** RDDs persisted by `body` and still persisted after it. */
  private def leftPersisted(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("scoped releases every cut its body made, on return and when " +
    "the body throws") {
    assert(leftPersisted {
      val n = Scratch.scoped {
        val eager = edges.scratchCheckpoint(eager = true)
        val lazyCut = eager.filter(col("src") < 4)
          .scratchCheckpoint(eager = false)
        lazyCut.count()
      }
      assert(n == 4)
    }.isEmpty, "cuts survived a normal scope exit")
    assert(leftPersisted {
      intercept[IllegalStateException](Scratch.scoped {
        assert(edges.scratchCheckpoint(eager = true).count() == 7)
        throw new IllegalStateException("body failed")
      })
    }.isEmpty, "cuts survived a scope exit by exception")
  }

  test("scoped keeps the materialized cut it returns, and a nested " +
    "scope hands that cut to the outer scope, which frees it") {
    var kept: org.apache.spark.sql.DataFrame = null
    val fresh = leftPersisted {
      kept = Scratch.scoped {
        edges.scratchCheckpoint(eager = true)
          .filter(col("src") < 4).scratchCheckpoint(eager = true)
      }
    }
    assert(fresh.size == 1, s"expected only the returned cut, got $fresh")
    assert(kept.count() == 4, "the returned cut no longer collects")
    org.apache.spark.sql.graft.CheckpointBridge.release(kept)

    assert(leftPersisted {
      val total = Scratch.scoped {
        val inner = leftPersisted {
          kept = Scratch.scoped {
            edges.scratchCheckpoint(eager = true)
              .filter(col("src") < 4).scratchCheckpoint(eager = true)
          }
        }
        assert(inner.size == 1, s"inner scope kept $inner")
        kept.count() // still materialized inside the outer scope
      }
      assert(total == 4)
    }.isEmpty, "the outer scope did not free the cut handed to it")
  }

  test("a memo build is a scope: its cuts are freed when it returns") {
    val m = Scratch.memo[String, Long]()
    assert(leftPersisted {
      assert(m("k")(edges.scratchCheckpoint(eager = true).count()) == 7)
    }.isEmpty, "a memo build left its cut persisted")
    Scratch.cleanup()
  }

  test("reliable mode is a pure durability swap: an iterative kernel " +
    "returns identical results under both modes") {
    def run(): Map[Long, Long] =
      graft.etl.Graph.coreness(edges, iterations = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = reliable("false")(run())
    val viaFiles = reliable("true")(run())
    assert(viaFiles == local,
      "reliable scratch checkpoints changed kernel results")
  }

  test("reliable mode writes through the checkpoint dir (the blocks a " +
    "lost executor cannot take down); local mode leaves it untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_spec")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def ckptFiles(): Long = {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
    val base = ckptFiles()
    reliable("false") {
      edges.scratchCheckpoint(eager = true).count()
      assert(ckptFiles() == base, "local mode wrote checkpoint files")
    }
    reliable("true") {
      val df = edges.scratchCheckpoint(eager = true)
      assert(df.count() == 7)
      assert(ckptFiles() > base,
        "reliable mode did not write through the checkpoint dir")
    }
  }

  test("a LAZY reliable cut's spillable cache is freed by release — " +
    "iterative kernels must not pin one cache entry per round for the " +
    "session lifetime") {
    reliable("true") {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val cut = edges.scratchCheckpoint(eager = false)
      assert(cut.count() == 7) // materialize: cache fills, files write
      val pinned =
        spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(pinned.nonEmpty,
        "lazy reliable cut should be cached until released")
      org.apache.spark.sql.graft.CheckpointBridge.release(cut)
      val after =
        spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(after.isEmpty,
        s"release left ${after.size} reliable-mode cache entries pinned")
    }
  }

  test("release deletes a reliable cut's checkpoint FILES — a " +
    "long-lived session's checkpoint dir is bounded by the kernels' " +
    "release-one-round-behind discipline, not by JVM exit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_gc")
    spark.sparkContext.setCheckpointDir(dir.toString)
    def ckptDirs(): Long = {
      val s = java.nio.file.Files.list(
        java.nio.file.Files.list(dir).findFirst().get()) // context uuid
      try s.count() finally s.close()
    }
    reliable("true") {
      // simulate 5 kernel rounds, releasing one-behind as the kernels do
      var prev: org.apache.spark.sql.DataFrame = null
      (1 to 5).foreach { _ =>
        val cur = edges.scratchCheckpoint(eager = true)
        assert(cur.count() == 7)
        if (prev != null)
          org.apache.spark.sql.graft.CheckpointBridge.release(prev)
        prev = cur
      }
      assert(ckptDirs() <= 1,
        s"expected <=1 surviving rdd checkpoint dir, found ${ckptDirs()}")
      org.apache.spark.sql.graft.CheckpointBridge.release(prev)
      assert(ckptDirs() == 0,
        "final release should reclaim the last checkpoint dir")
      // the same rounds in a scope: its exit reclaims every dir,
      // including one a loop already released (release is idempotent)
      val n = Scratch.scoped {
        val first = edges.scratchCheckpoint(eager = true)
        val second = first.filter(col("src") < 4)
          .scratchCheckpoint(eager = true)
        org.apache.spark.sql.graft.CheckpointBridge.release(first)
        second.count()
      }
      assert(n == 4)
      assert(ckptDirs() == 0,
        s"scope exit left ${ckptDirs()} rdd checkpoint dirs")
    }
  }

  test("scratchCheckpoint must not evict a caller's independently " +
    "cached identical plan (CacheManager keys by plan equality)") {
    val plan = edges.select(col("src"), col("dst"))
    val callerCached = plan.cache()
    def cacheHit(): Boolean = {
      val classic =
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      classic.sharedState.cacheManager.lookupCachedData(callerCached
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    }
    try {
      assert(callerCached.count() == 7)
      assert(cacheHit())
      reliable("true") {
        val cut = edges.select(col("src"), col("dst"))
          .scratchCheckpoint(eager = true)
        assert(cut.count() == 7)
        org.apache.spark.sql.graft.CheckpointBridge.release(cut)
      }
      assert(cacheHit(),
        "reliable scratch checkpoint evicted the caller's cache entry")
    } finally callerCached.unpersist()
  }

  test("reliable mode provisions a local checkpoint dir when none is " +
    "set (local-mode convenience; clusters set their own)") {
    // a FRESH context would have no checkpoint dir; here one may exist
    // from the prior test, so assert the non-destructive side: the call
    // succeeds and the dir remains set afterwards
    reliable("true") {
      assert(edges.scratchCheckpoint(eager = false).count() == 7)
      assert(spark.sparkContext.getCheckpointDir.nonEmpty)
    }
  }

  test("cleanup drops every memo and dir; staged rows re-stage") {
    // each row stages a one-time artifact through a Scratch.memo (a
    // bucketed table pair, committed graph artifacts, a model fit, the
    // staged stream input) plus, for most, registered dirs; after
    // cleanup() every dir is gone and the rerun must re-stage, not
    // read a swept path, and return the same rows. The minimum dir
    // count is what the row itself registers.
    val dir = "/root/testdata/sf0.001"
    Seq("bucketed_join" -> 1, "graph_kcore_serve" -> 2,
      "quality_classifier_gate" -> 0, "stream_dedup" -> 2).foreach {
      case (name, minDirs) =>
        val q = Queries.all.find(_.name == name).get
        Scratch.cleanup()
        val first = q.run(spark, dir).collect().toSeq
        assert(first.nonEmpty, name)
        val regs = Scratch.registered
        assert(regs.size >= minDirs, s"$name registered only $regs")
        assert(regs.forall(java.nio.file.Files.exists(_)), s"$name: $regs")
        Scratch.cleanup()
        regs.foreach(p => assert(!java.nio.file.Files.exists(p),
          s"$name: $p survived cleanup"))
        assert(Scratch.registered.isEmpty, name)
        assert(q.run(spark, dir).collect().toSeq == first,
          s"$name changed after cleanup")
    }
    Scratch.cleanup()
  }
}
