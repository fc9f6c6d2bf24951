package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Compute-parallelism spread for CPU-dense narrow stages.
  *
  * AQE's partition coalescing is BYTE-based (`minPartitionSize`,
  * default 1 MB): a small frame coalesces to one post-shuffle
  * partition no matter how expensive the per-row work downstream is,
  * and single-row-group test parquet gives scans exactly one split —
  * so a regex/codec/scoring chain serializes on one core while the
  * rest of the cluster idles (guide §2.6 stragglers; measured here:
  * the multimodal codec stages, the repeated-span explode, the
  * curation regex chain, brute-force rescoring). This helper
  * re-establishes compute parallelism where a MEASUREMENT showed a
  * heavy low-parallelism stage; it is not applied blanket, because
  * the exchange it inserts costs a stage and ~50 ms that cheap rows
  * should not pay.
  *
  * Partition count: `sparkContext.defaultParallelism` (total cluster
  * cores) — scale-adaptive, never a local constant. Hash on a caller
  * key (unique ids spread evenly; deterministic under task retry),
  * not round-robin, which pays a defensive sort and re-draws row
  * placement on retried maps (guide §2.5).
  *
  * Value-safety: callers only spread frames whose downstream is
  * partitioning-insensitive (pure per-row functions + commutative
  * aggregates). Never place it ABOVE an order-sensitive picker like
  * `dropDuplicates` on a non-key superset — always below. */
object Spread {

  private def parallelism(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  def byKey(df: DataFrame, key: Column): DataFrame =
    df.repartition(parallelism(df.sparkSession), key)

  /** Layout-CONDITIONAL spread for SCAN-ROOTED frames whose heavy
    * work happens before any exchange (where AQE coalescing can't
    * help): repartitions only when the physical split count is below
    * the compute parallelism. A single-row-group test file scans as
    * ONE split however small `maxPartitionBytes` is (row groups are
    * the split floor), so a CPU-dense chain over it serializes; a
    * production table has thousands of splits and this is a strict
    * no-op — the payload-carrying exchange is never paid at scale,
    * which keeps the "text never shuffles" design contracts intact.
    * Safe ONLY on narrow scan lineage: `.rdd` builds the RDD without
    * running jobs there; downstream of an exchange it would EXECUTE
    * the upstream stages — use [[byKey]] (or AQE) for those. */
  def ensureWideScan(df: DataFrame, key: Column): DataFrame = {
    val n = parallelism(df.sparkSession)
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n, key)
  }
}
