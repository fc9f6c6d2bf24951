package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** The one owner of scratch state: the dirs queries stage output in,
  * the one-time artifacts memoized over those dirs, and lineage cuts.
  *
  * Dirs and memos: [[dir]] hands out a registered temp dir, [[memo]]
  * a typed per-JVM cache of one-time staged artifacts (staged stream
  * inputs, committed graph artifacts, model fits, bucketed tables).
  * [[cleanup]] drops every memo and deletes every registered dir; it
  * runs from one JVM shutdown hook (a bench/verify run leaves no /tmp
  * residue) and is callable directly, so a long-lived session can
  * reclaim scratch space and the next run re-stages instead of
  * reading a swept path. Dirs, memos and builds share this object's
  * monitor: one lock, no ordering to get wrong, and a build may call
  * [[dir]] because JVM monitors are reentrant.
  *
  * Lineage cuts, for iterative kernels and multi-consumer
  * intermediates: every lineage cut in the engine routes through
  * [[Scratch.ScratchOps.scratchCheckpoint]] instead of calling
  * `Dataset.localCheckpoint` directly, so the durability of scratch
  * state is ONE deployment knob rather than 70 hard-coded choices.
  *
  * Default (`spark.graft.checkpoint.reliable=false`) is
  * `localCheckpoint`: blocks live in executor storage
  * (memory-and-disk), zero external I/O — the right trade for stable
  * executors, and bit-identical to the engine's historical behavior.
  * Its documented hazard is that the TRUNCATED lineage cannot be
  * recomputed: an evicted or lost block fails the QUERY, not the task.
  * That is not hypothetical — the round-13 1000x rehearsal reproduced
  * it in local mode (two JVMs contending for storage memory evicted a
  * kernel's checkpointed blocks mid-query; the recompute attempt then
  * fetched an already-GC'd shuffle and died with
  * FileSegmentManagedBuffer FileNotFound). On a cluster the same
  * chain fires on ANY executor loss — routine on preemptible/spot
  * fleets, where a 1000-executor job loses machines as a matter of
  * course.
  *
  * Reliable mode (`spark.graft.checkpoint.reliable=true`) routes the
  * same cuts through `Dataset.checkpoint`: blocks are written to the
  * checkpoint directory (HDFS/object store on a cluster — set
  * `SparkContext.setCheckpointDir`; a local temp dir is provisioned
  * automatically if unset, which is only appropriate in local mode),
  * surviving executor loss at the price of one write+read per cut.
  * Deployments on preemptible fleets set this; deployments on stable
  * fleets keep the default. Checkpoint files are deleted
  * deterministically when the kernels release superseded cuts
  * (CheckpointBridge.release cleans reliable checkpoint files along
  * with the cache blocks), so the checkpoint directory stays bounded
  * by the release-one-round-behind discipline; cuts that are never
  * released fall back to the ContextCleaner when
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` ([[Session]]
  * sets it in reliable mode) or JVM exit.
  *
  * [[Session]] exposes the knob as `SPARK_GRAFT_RELIABLE_CKPT=true` so
  * the constrained-heap gate can price reliable mode at the 100x tier.
  */
object Scratch {

  /** Session conf key selecting reliable (`true`) vs local (default,
    * `false`) scratch checkpoints. */
  val ReliableConf = "spark.graft.checkpoint.reliable"

  private val roots = mutable.ArrayBuffer[Path]()
  private val memos = mutable.ArrayBuffer[Memo[_, _]]()
  private var hooked = false

  /** A fresh temp dir named `prefix*`, deleted by [[cleanup]]. */
  def dir(prefix: String): String = synchronized {
    if (!hooked) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => cleanup()))
      hooked = true
    }
    val p = Files.createTempDirectory(prefix)
    roots += p
    p.toString
  }

  def registered: Seq[Path] = synchronized(roots.toSeq)

  /** Drop every memo, then delete every registered dir. */
  def cleanup(): Unit = synchronized {
    memos.foreach(_.clear())
    roots.foreach(deleteTree)
    roots.clear()
  }

  /** Delete `root` and everything under it (no-op if absent). */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse // children first
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Run `body` in a fresh temp dir that is deleted when it returns —
    * for per-attempt roots that must not pile up across repeats. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val d = Files.createTempDirectory(prefix)
    try body(d.toString) finally deleteTree(d)
  }

  /** A one-time artifact per key, built on first use under the
    * [[Scratch]] monitor and dropped by [[cleanup]]. A failed build
    * caches nothing; a build may use another memo. */
  final class Memo[K, V] private[Scratch] () {
    private val cache = mutable.Map[K, V]()
    def apply(key: K)(build: => V): V = Scratch.synchronized {
      cache.getOrElse(key, { val v = build; cache(key) = v; v })
    }
    private[Scratch] def clear(): Unit = cache.clear()
  }

  def memo[K, V](): Memo[K, V] = synchronized {
    val m = new Memo[K, V]
    memos += m
    m
  }

  implicit final class ScratchOps(private val df: DataFrame)
      extends AnyVal {

    /** Cut lineage for scratch state: `localCheckpoint(eager)` by
      * default, `checkpoint(eager)` when [[ReliableConf]] is true.
      * `eager = false` defers materialization to the first action —
      * iterative kernels use it so a whole checkpoint ladder
      * materializes in the single job that consumes it.
      *
      * Reliable mode persists (memory-and-disk, spillable) BEFORE
      * checkpointing — the pattern `RDD.checkpoint`'s own scaladoc
      * recommends. Without it the checkpoint write is a SEPARATE job
      * that recomputes the full lineage (recursively, for a lazy
      * ladder), and the doubled pressure is not theoretical: the
      * round-13 constrained-heap gate OOM'd the heaviest graph build
      * at 128 MB/core un-persisted and passes persisted. The persist
      * is on the cut's INTERNAL RDD, not the Dataset (a `df.persist`
      * would key a CacheManager entry by plan equality — leaking for
      * lazy cuts, and evicting a caller's independently-cached
      * identical plan on unpersist): eager cuts unpersist as soon as
      * the files are written; lazy cuts stay cached (spillable) until
      * the kernel's existing CheckpointBridge.release discipline
      * frees blocks AND checkpoint files together. */
    def scratchCheckpoint(eager: Boolean = true): DataFrame = {
      val spark = df.sparkSession
      val reliable = java.lang.Boolean.parseBoolean(
        spark.conf.get(Scratch.ReliableConf, "false"))
      if (reliable) {
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          spark.sparkContext.setCheckpointDir(
            Files.createTempDirectory("graft_ckpt")
              .toString)
        }
        org.apache.spark.sql.graft.CheckpointBridge
          .reliableCheckpoint(df, eager)
      } else {
        df.localCheckpoint(eager)
      }
    }
  }
}
