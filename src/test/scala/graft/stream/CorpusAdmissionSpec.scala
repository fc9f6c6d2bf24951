package graft.stream

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Admission semantics on hand-checkable batches, and the two
  * failure-mode guarantees the scaladoc claims: within-batch
  * deterministic survivor, and REPLAY convergence across the
  * crash-between-store-write-and-checkpoint-commit window (the case
  * where a naive probe would see its own output and overwrite the
  * batch dir with an empty set). */
class CorpusAdmissionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(store: String): Map[Long, String] =
    CorpusAdmission.readCorpus(spark, store)
      .collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
        r.getString(r.fieldIndex("digest"))).toMap

  test("admits novel digests only; first occurrence wins in-batch") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_adm").toString + "/store"
    // seed base: docs 1, 2
    Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .write.parquet(s"$store/base")
    // batch 0: dup of base (alpha), an in-batch dup pair (gamma twice,
    // ids 12 and 11 — the smaller must win), one novel (delta)
    CorpusAdmission.admitBatch(
      Seq((10L, "alpha"), (12L, "gamma"), (11L, "gamma"), (13L, "delta"))
        .toDF("doc_id", "text"), store, batchId = 0L)
    val after0 = corpus(store)
    assert(after0.keySet == Set(1L, 2L, 11L, 13L), after0)
    // batch 1: dup of batch 0's admission (gamma) refused, novel admitted
    CorpusAdmission.admitBatch(
      Seq((20L, "gamma"), (21L, "epsilon")).toDF("doc_id", "text"),
      store, batchId = 1L)
    assert(corpus(store).keySet == Set(1L, 2L, 11L, 13L, 21L))
  }

  test("checkpoint resume: a restarted stream admits only the new files " +
    "and lands on the uninterrupted result") {
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files
      .createTempDirectory("graft_adm3").toString
    val store = s"$root/store"
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .write.parquet(s"$store/base")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    new java.io.File(s"$root/in").mkdirs()
    def stage(i: Int, rows: Seq[(Long, String)]): Unit = {
      val tmp = s"$root/stage_$i"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"$root/in/f$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    stage(0, Seq((10L, "alpha"), (11L, "beta")))   // dup vs base + novel
    def run(): Unit = StreamingFact.drain(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$root/in"), "corpus_admission", s"$root/ckpt") {
      (batch, id) => CorpusAdmission.admitBatch(batch, store, id)
    }
    run() // first life: processes f0, then the "job dies"
    assert(corpus(store).keySet == Set(1L, 11L))
    stage(1, Seq((20L, "beta"), (21L, "gamma")))   // arrives while down
    run() // restart from the SAME checkpoint
    // exactly-once across the restart: beta stays with 11, gamma joins
    assert(corpus(store).keySet == Set(1L, 11L, 21L))
  }

  test("replay after the store-write/checkpoint-commit crash converges") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_adm2").toString + "/store"
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .select(md5(col("text")).as("digest"), col("doc_id"))
      .write.parquet(s"$store/base")
    val batch = Seq((10L, "alpha"), (11L, "zeta")).toDF("doc_id", "text")
    CorpusAdmission.admitBatch(batch, store, batchId = 0L)
    val once = corpus(store)
    assert(once.keySet == Set(1L, 11L))
    // crash window: the store write landed but the checkpoint did not —
    // the engine re-delivers the SAME batch with the SAME id. The probe
    // must not see b0's own output (or zeta would be "already present"
    // and the rewrite would empty the dir).
    CorpusAdmission.admitBatch(batch, store, batchId = 0L)
    assert(corpus(store) == once, "replay must converge, not drop rows")
  }
}
