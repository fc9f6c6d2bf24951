package org.apache.spark.sql.graft

import org.apache.spark.rdd.ReliableRDDCheckpointData
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Deterministic storage release + RDD-level reliable checkpoints for
  * the engine's scratch state.
  *
  * `Dataset.localCheckpoint` persists an internal RDD and wraps it in
  * a `LogicalRDD`, but exposes NO public way to unpersist it — the
  * blocks linger until the driver GCs the Dataset and the
  * ContextCleaner gets around to it. Iterative algorithms that
  * checkpoint per round (connected components, SSSP) would otherwise
  * accumulate superseded round states in executor storage for the
  * lifetime of the session. Same bridge technique as
  * [[ColumnBridge]]: an `org.apache.spark.sql` subpackage reaches the
  * `private[sql]` execution node.
  *
  * Callers do not release cuts themselves: `graft.Scratch.scoped`
  * releases every cut its body made when the body exits. The only
  * direct [[release]] calls outside Scratch are the one-round-behind
  * frees inside iterative loops (connected components, BPE training,
  * BFS and SSSP), and `SessionSpec` pins that list. */
object CheckpointBridge {

  /** Unpersist the RDD behind a checkpointed Dataset (non-blocking;
    * no-op when the plan is not a checkpoint product), and — when the
    * RDD was RELIABLY checkpointed — delete its checkpoint files too,
    * so a long-lived reliable-mode session's checkpoint directory
    * stays bounded by the scopes and loops that release its cuts
    * instead of growing one directory per cut until JVM exit.
    * Idempotent. Only call on datasets whose contents are no longer
    * needed — a checkpoint has TRUNCATED lineage, so a released state
    * cannot be recomputed in either mode. */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case l: LogicalRDD =>
      l.rdd.unpersist(blocking = false)
      if (l.rdd.getCheckpointFile.isDefined) {
        ReliableRDDCheckpointData.cleanCheckpoint(
          l.rdd.sparkContext, l.rdd.id)
      }
    case _ => ()
  }

  /** Reliable (checkpoint-directory) lineage cut, mirroring what
    * `Dataset.checkpoint` does internally but with the
    * persist-before-checkpoint done on the INTERNAL RDD rather than
    * via `df.persist`:
    *
    *  - `df.persist` registers a CacheManager entry keyed by PLAN
    *    EQUALITY, so a later `unpersist` would silently evict a
    *    caller's independently-cached identical plan, and a lazy cut's
    *    entry had no owner to release it at all (it outlived
    *    [[release]], which only sees the LogicalRDD's internal RDD).
    *  - persisting the internal RDD keys the blocks by RDD identity,
    *    and that RDD IS the one `LogicalRDD` wraps — so [[release]]
    *    frees exactly these blocks, for eager and lazy cuts alike.
    *
    * The persist itself is non-optional: `RDD.checkpoint`'s scaladoc
    * recommends it because the checkpoint write is a SEPARATE job
    * that recomputes the full lineage otherwise (recursively, for a
    * lazy checkpoint ladder) — the round-13 constrained-heap gate
    * OOM'd un-persisted and passes persisted. Eager cuts unpersist as
    * soon as the files are written (downstream reads stream from the
    * checkpoint files); lazy cuts stay cached (spillable) until
    * [[release]] frees them. */
  def reliableCheckpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
    val spark = ds.sparkSession
    // toRdd rows are reused UnsafeRow buffers — copy before caching
    val internalRdd = ds.queryExecution.toRdd.map(_.copy())
    internalRdd.persist(StorageLevel.MEMORY_AND_DISK)
    internalRdd.checkpoint()
    if (eager) {
      // count() materializes into the cache; the checkpoint write job
      // (driver-synchronous, at job end) then streams from the cache
      // instead of recomputing the lineage
      internalRdd.count()
      internalRdd.unpersist(blocking = false)
    }
    ClassicDataset.ofRows(spark,
      LogicalRDD.fromDataset(internalRdd, ds, ds.isStreaming))
  }
}
