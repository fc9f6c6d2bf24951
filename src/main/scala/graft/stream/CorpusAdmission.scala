package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING CORPUS DEDUP ADMISSION — the streaming half of
  * `dedup_incremental`: document batches arrive on a stream, probe the
  * persistent corpus digest store, and only NOVEL documents append.
  * This is the front door of a continuously-ingesting training-data
  * pipeline (crawl batches land hourly; the corpus must never admit a
  * document it already holds, across batches and across restarts).
  *
  * Design, and why it survives 100 TB and crashes:
  *  - the store holds (digest, doc_id) ONLY — 16-byte md5 keys, never
  *    text; the probe anti-join ships digests, so admission cost is
  *    independent of document size. At corpus scale the probe side
  *    upgrades to the Bloom-accelerated variant
  *    (`llmops.Dedup.incrementalBloomDedup`) or manifest-stat pruning —
  *    the store layout here (one dir per batch + a base) is exactly
  *    what `Sources.compact` maintains;
  *  - WITHIN a batch, the first occurrence wins deterministically
  *    (min doc_id per digest — no shuffle-order dependence);
  *  - EXACTLY-ONCE across restarts: each batch writes its admissions
  *    to `store/b<batchId>` with overwrite, and the probe EXCLUDES the
  *    batch's own directory — so a batch replayed after a crash
  *    between the store write and the checkpoint commit re-derives the
  *    same admissions instead of seeing its own output in the store
  *    and admitting nothing (which would overwrite the directory with
  *    an empty set: silent data loss; `CorpusAdmissionSpec` pins this
  *    window). */
object CorpusAdmission {

  /** Subdirectories of the store that make up the corpus, minus the
    * optionally-excluded in-flight batch dir. */
  private def storeDirs(spark: SparkSession, storeDir: String,
                        exclude: Option[String]): Seq[String] = {
    val p = new Path(storeDir)
    val fs = graft.sources.Sources.fileSystem(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => !exclude.contains(d.getName))
      .map(_.toString).toSeq
  }

  /** One admission batch: dedup within the batch (min doc_id per
    * digest), anti-join against every OTHER store dir, overwrite this
    * batch's own dir. Idempotent under replay by construction. Drain
    * a document stream with it ([[StreamingFact.drain]]). */
  def admitBatch(batch: DataFrame, storeDir: String,
                 batchId: Long): Unit = {
    val spark = batch.sparkSession
    val inBatch = batch
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("digest"))
      .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
    val dirs = storeDirs(spark, storeDir, exclude = Some(s"b$batchId"))
    val admitted =
      if (dirs.isEmpty) inBatch
      else inBatch.join(
        spark.read.parquet(dirs: _*).select(col("digest")),
        Seq("digest"), "left_anti")
    admitted.select(col("digest"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$storeDir/b$batchId")
  }

  /** The corpus as of now: every store dir unioned. */
  def readCorpus(spark: SparkSession, storeDir: String): DataFrame = {
    val dirs = storeDirs(spark, storeDir, exclude = None)
    spark.read.parquet(dirs: _*)
  }
}
