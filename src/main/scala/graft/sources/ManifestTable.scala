package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-committed snapshot tables: the minimal commit protocol a
  * 100 TB parquet table needs and plain directory listing cannot give.
  *
  * A table is a directory: immutable data files under `data/`, and one
  * numbered manifest per committed version under `_manifests/` listing
  * exactly the data files that version comprises (one relative path
  * per line). Readers resolve a snapshot by manifest, never by
  * listing `data/` — which buys, with no table-format dependency:
  *
  *  - **Atomic commits**: a writer stages data files first (invisible
  *    to every reader — nothing references them), then publishes one
  *    manifest file. A crash mid-write leaves garbage files but never
  *    a torn table.
  *  - **Snapshot isolation**: a reader that resolved version N keeps a
  *    frozen file list; a concurrent append/overwrite/compact commits
  *    N+1 without disturbing it.
  *  - **Safe compaction**: `compact` REWRITES small files into large
  *    ones and publishes the swap as a new version — concurrent
  *    readers of version N still hold the old files, which `vacuum`
  *    alone may delete (after their versions are expired). The
  *    listing-based [[Sources.compact]] rewrites in place and races
  *    readers; this one cannot.
  *  - **Time travel**: any retained version reads back exactly.
  *
  * Optimistic concurrency: version N+1 commits by create-no-overwrite
  * of `v(N+1)`'s manifest; a loser hits the existing file, re-reads
  * the new head and retries on top (append and compact rebase
  * cleanly; concurrent overwrites last-writer-wins by design). On
  * HDFS-like stores the create is atomic at the namenode; an object
  * store needs its conditional-put (S3 If-None-Match) or a commit
  * service behind the same interface — true of every manifest-based
  * format, Delta and Iceberg included.
  */
object ManifestTable {

  private val ManifestRe = """v(\d{9})\.txt""".r

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(table: Path, v: Long): Path =
    new Path(new Path(table, "_manifests"), f"v$v%09d.txt")

  /** Latest committed version, or 0 when the table has none. */
  def latestVersion(spark: SparkSession, table: String): Long = {
    val dir = new Path(table, "_manifests")
    val f = fs(spark, dir)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case ManifestRe(v) => v.toLong
    }.foldLeft(0L)(math.max)
  }

  private def readManifest(spark: SparkSession, table: Path,
                           v: Long): Seq[String] = {
    val p = manifestPath(table, v)
    val in = fs(spark, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  /** A manifest LINE is `relpath` or (stats-bearing commits)
    * `relpath \t column \t min \t max` — the Iceberg/Delta idea with
    * no format dependency: per-file min/max recorded AT COMMIT TIME so
    * a reader can skip files manifest-side, with zero footer or data
    * IO at read. Everything that treats lines as identifiers (version
    * set-diffs) uses whole lines; everything that touches the
    * filesystem goes through [[entryPath]]. */
  private def entryPath(line: String): String = line.split('\t').head

  /** Public count of all manifest entries — the cross-check surface
    * the `manifest_meta_source` oracle row compares the DSv2 connector
    * against. */
  def allEntriesCount(spark: SparkSession, table: String): Long =
    allEntries(spark, table).size.toLong

  /** Every (version, file, optional stats) entry across all committed
    * manifests — the metadata surface `graft.sources.v2
    * .ManifestMetaSource` serves as a DataSourceV2 table. */
  private[sources] def allEntries(spark: SparkSession, table: String)
  : Seq[(Long, String, Option[(String, Long, Long)])] = {
    val t = new Path(table)
    (1L to latestVersion(spark, table)).flatMap { v =>
      readManifest(spark, t, v)
        .map(l => (v, entryPath(l), entryStats(l)))
    }
  }

  /** Entry grammar (tab-separated, extended round 12 — every variant
    * below parses under every reader, so manifests written by any
    * engine version keep reading):
    *   rel
    *   rel  col  lo  hi
    *   rel  #rows  n
    *   rel  col  lo  hi  #rows  n
    * `#rows` is a TAG, not a column name, so the stats parser can tell
    * the two 3+-field forms apart without a format version bump. */
  private def entryStats(line: String): Option[(String, Long, Long)] = {
    val f = line.split('\t')
    if (f.length >= 4 && f(1) != "#rows")
      Some((f(1), f(2).toLong, f(3).toLong))
    else None
  }

  private def entryRows(line: String): Option[Long] = {
    val f = line.split('\t')
    val i = f.indexOf("#rows")
    if (i >= 0 && i + 1 < f.length) Some(f(i + 1).toLong) else None
  }

  /** METADATA-ONLY row count — COUNT(*) answered from the manifest's
    * commit-time footer row counts without touching a single data
    * page (the Delta/Iceberg "count from stats" fast path; at 100 TB
    * the difference between a KB of manifest reads and a full-table
    * scan). Sound because staged files are IMMUTABLE — the count
    * recorded at commit is the count forever. Returns None when any
    * entry predates row-count recording (mixed/legacy manifest):
    * the caller falls back to the scan, never to a wrong number. */
  def countRows(spark: SparkSession, table: String,
                version: Option[Long] = None): Option[Long] = {
    val t = new Path(table)
    val v = version.getOrElse(latestVersion(spark, table))
    require(v > 0, s"$table has no committed version")
    val counts = readManifest(spark, t, v).map(entryRows)
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Row count plus optional (min, max) of a LONG column, from the
    * parquet FOOTER of one staged file in ONE footer open — stats
    * parquet already wrote; no data pages read. The range is None when
    * the column is absent, not INT64, or all-null. */
  private def footerMeta(spark: SparkSession, file: Path,
                         column: Option[String])
  : (Long, Option[(Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(file, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toList
      val nRows = blocks.iterator.map(_.getRowCount).sum
      val range = column.flatMap { col =>
        val ranges = blocks.iterator
          .flatMap(_.getColumns.asScala)
          .filter(c => c.getPath.toDotString == col &&
            c.getPrimitiveType.getPrimitiveTypeName ==
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
          .flatMap { c =>
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
              st.genericGetMax.asInstanceOf[java.lang.Long].longValue))
          }.toList
        if (ranges.isEmpty) None
        else Some((ranges.map(_._1).min, ranges.map(_._2).max))
      }
      (nRows, range)
    } finally r.close()
  }

  /** Decorate staged relative paths with commit-time footer metadata:
    * the row count ALWAYS (it powers [[countRows]]'s metadata-only
    * COUNT), plus [min, max] range stats for `statsCol` when asked
    * (files whose footer yields no range carry only the count — they
    * are ALWAYS kept by the pruner, the safe fallback). One footer
    * open per staged file, at commit time only. */
  private def withStats(spark: SparkSession, table: Path,
                        staged: Seq[String],
                        statsCol: Option[String]): Seq[String] =
    staged.map { rel =>
      val (nRows, range) =
        footerMeta(spark, new Path(table, rel), statsCol)
      val statsPart = range match {
        case Some((lo, hi)) => s"\t${statsCol.get}\t$lo\t$hi"
        case None => ""
      }
      s"$rel$statsPart\t#rows\t$nRows"
    }

  /** Stage `df` as immutable files under `data/` WITHOUT publishing
    * them: written through a scratch dir, then moved to unique names.
    * Returns the staged relative paths. */
  private def stageFiles(spark: SparkSession, table: Path,
                         df: DataFrame): Seq[String] = {
    val stamp = java.util.UUID.randomUUID.toString.take(8)
    val scratch = new Path(table, s"_staging_$stamp")
    df.write.parquet(scratch.toString)
    val f = fs(spark, table)
    val dataDir = new Path(table, "data")
    f.mkdirs(dataDir)
    val moved = f.listStatus(scratch).iterator
      .filter(_.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (st, i) =>
        val name = f"part-$stamp-$i%05d.parquet"
        require(f.rename(st.getPath, new Path(dataDir, name)),
          s"stage move failed for ${st.getPath}")
        s"data/$name"
      }.toList
    f.delete(scratch, true)
    moved
  }

  /** Create `target` with `bytes` FAILING if it already exists — the
    * one operation the whole commit protocol rests on, so it must be
    * genuinely atomic, not check-then-create. Hadoop's
    * LocalFileSystem.create(overwrite = false) is exists()-then-open —
    * two racing writers can both pass the check and the loser's
    * manifest is silently overwritten (a LOST commit). For local
    * paths the content is staged to a hidden sibling and published by
    * hard-link, which the kernel makes atomic-and-exclusive (EEXIST).
    * HDFS-like stores keep the plain create: exclusive-create IS
    * atomic at the namenode. Object stores need their conditional put
    * (S3 If-None-Match) behind this same seam. */
  private def createExclusive(f: FileSystem, target: Path,
                              bytes: Array[Byte]): Unit =
    if (f.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem] ||
        f.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]) {
      val dir = java.nio.file.Paths.get(target.getParent.toUri.getPath)
      val tmp = java.nio.file.Files.createTempFile(dir,
        s".${target.getName}", ".tmp")
      try {
        java.nio.file.Files.write(tmp, bytes)
        java.nio.file.Files.createLink( // throws FileAlreadyExists
          java.nio.file.Paths.get(target.toUri.getPath), tmp)
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      val out = f.create(target, /* overwrite = */ false)
      try out.write(bytes) finally out.close()
    }

  /** Publish `files` as version head+1; retries the version number on
    * a concurrent-commit collision (the loser re-reads the new head
    * and rebases its file list on top). Returns the committed
    * version. */
  private def publish(spark: SparkSession, table: Path,
                      files: Long => Seq[String]): Long = {
    val f = fs(spark, table)
    var attempts = 0
    while (attempts < 20) {
      val head = latestVersion(spark, table.toString)
      val target = manifestPath(table, head + 1)
      f.mkdirs(target.getParent)
      try {
        createExclusive(f, target, files(head)
          .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
        return head + 1
      } catch {
        // ONLY an already-exists collision is a lost race worth
        // retrying (see [[isCreateRace]]). Any other IOException —
        // permissions, quota, missing parent — is persistent: rethrow
        // immediately instead of burning 20 re-stages and reporting a
        // misleading "lost 20 version races".
        case e: java.io.IOException if isCreateRace(e) =>
          attempts += 1
      }
    }
    sys.error(s"commit to $table lost ${attempts} version races")
  }

  /** True iff `e` is a lost CREATE race on the manifest file: hadoop
    * or nio FileAlreadyExists from the exclusive create/hard-link
    * paths, or HDFS's AlreadyBeingCreatedException — thrown when the
    * loser's create lands while the winner's manifest stream is still
    * open. The hdfs-client class is not a compile-time dependency, so
    * it is matched by NAME — as a full-class-name suffix over the
    * exception's whole class hierarchy (a subclass delivery must
    * classify the same), and on the server-side class name HDFS's
    * `ipc.RemoteException` carries when the race arrives still
    * wrapped (the DFS client's unwrapRemoteException list does not
    * include it). ManifestTableSpec pins this classification so an
    * HDFS client upgrade that changes the wrapping fails a test, not
    * a production commit. */
  private[sources] def isCreateRace(e: java.io.IOException): Boolean =
    e match {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => true
      case _: java.nio.file.FileAlreadyExistsException => true
      case re: org.apache.hadoop.ipc.RemoteException =>
        re.getClassName != null &&
          re.getClassName.endsWith("AlreadyBeingCreatedException")
      case other =>
        Iterator.iterate[Class[_]](other.getClass)(_.getSuperclass)
          .takeWhile(_ != null)
          .exists(_.getName.endsWith("AlreadyBeingCreatedException"))
    }

  /** Atomic append: stages `df`'s files, commits head+1 = head's
    * files + the new ones. Rebases automatically on concurrent
    * commits (the staged files are version-independent). */
  def commitAppend(spark: SparkSession, table: String,
                   df: DataFrame,
                   statsCol: Option[String] = None): Long = {
    val t = new Path(table)
    val staged = withStats(spark, t, stageFiles(spark, t, df), statsCol)
    publish(spark, t, head => {
      // see [[stagedLive]]: a racing vacuum reclaiming the staged files
      // must fail THIS commit loudly, never land dangling references
      require(stagedLive(fs(spark, t), t, staged),
        s"commitAppend to $table: a concurrent vacuum reclaimed staged " +
          "files before publish — retry the append (and give vacuum a " +
          "minFileAgeMs grace window covering in-flight commits)")
      (if (head == 0) Nil else readManifest(spark, t, head)) ++ staged
    })
  }

  /** Atomic full overwrite: the new version references ONLY `df`'s
    * files; prior versions keep reading their own. */
  def commitOverwrite(spark: SparkSession, table: String,
                      df: DataFrame,
                      statsCol: Option[String] = None): Long = {
    val t = new Path(table)
    val staged = withStats(spark, t, stageFiles(spark, t, df), statsCol)
    publish(spark, t, _ => {
      require(stagedLive(fs(spark, t), t, staged),
        s"commitOverwrite to $table: a concurrent vacuum reclaimed " +
          "staged files before publish — retry the overwrite (and give " +
          "vacuum a minFileAgeMs grace window covering in-flight commits)")
      staged
    })
  }

  /** Read a snapshot: the given version, or the latest. The file list
    * is resolved ONCE here — the returned frame is pinned to the
    * snapshot however many commits land while it is being consumed. */
  def read(spark: SparkSession, table: String,
           version: Option[Long] = None): DataFrame = {
    val t = new Path(table)
    val v = version.getOrElse(latestVersion(spark, table))
    require(v > 0, s"$table has no committed version")
    val files = readManifest(spark, t, v)
      .map(line => new Path(t, entryPath(line)).toString)
    spark.read.parquet(files: _*)
  }

  /** Snapshot read under SCHEMA EVOLUTION: commits may carry files
    * with different (compatible) schemas — columns added over the
    * table's life — and the merged read presents the UNION schema,
    * with pre-widening rows null in the new columns (the Delta/
    * Iceberg add-column semantics, via parquet mergeSchema). Kept
    * separate from [[read]] because footer-merging costs a scan of
    * every file's schema — a table that never evolved shouldn't pay
    * it on every read; a production deployment caches the merged
    * schema in the manifest at commit time. */
  def readEvolved(spark: SparkSession, table: String,
                  version: Option[Long] = None): DataFrame = {
    val t = new Path(table)
    val v = version.getOrElse(latestVersion(spark, table))
    require(v > 0, s"$table has no committed version")
    val files = readManifest(spark, t, v)
      .map(line => new Path(t, entryPath(line)).toString)
    spark.read.option("mergeSchema", "true").parquet(files: _*)
  }

  /** A stats-pruned snapshot scan: `filesKept` of `filesTotal`
    * survived the manifest-side [lo, hi] overlap test on `column`. */
  final case class PrunedScan(df: DataFrame, filesTotal: Int,
                              filesKept: Int)

  /** Data-file count of a snapshot — one driver-side manifest read,
    * no data IO. Lets a caller decide whether stats pruning is worth
    * its probe cost: [[readPruned]] saves file IO proportional to the
    * files it drops, so against a handful-of-files artifact a caller
    * whose [lo, hi] needs its own Spark job to compute (e.g.
    * [[graft.etl.Graph.appendEdges]]'s batch-range probe) spends more
    * on the probe than the pruning can return. */
  def fileCount(spark: SparkSession, table: String,
                version: Option[Long] = None): Int = {
    val t = new Path(table)
    val v = version.getOrElse(latestVersion(spark, table))
    require(v > 0, s"$table has no committed version")
    readManifest(spark, t, v).size
  }

  /** MANIFEST-SIDE FILE SKIPPING: resolve the snapshot, drop every
    * file whose recorded [min, max] for `column` cannot intersect
    * [lo, hi], and scan only the survivors — the Iceberg/Delta
    * data-skipping idea running on commit-time footer stats, with no
    * table-format dependency and ZERO read-side footer IO. Files with
    * no stats (pre-stats commits, compaction rewrites, non-INT64
    * columns) are always kept: pruning is an optimization, never a
    * correctness filter — the caller still applies the row-level
    * predicate. At 100 TB this is the difference between "scan 40k
    * files" and "scan the 12 whose key range matters"; parquet
    * row-group pruning then handles the within-file remainder. */
  def readPruned(spark: SparkSession, table: String, column: String,
                 lo: Long, hi: Long,
                 version: Option[Long] = None): PrunedScan = {
    val t = new Path(table)
    val v = version.getOrElse(latestVersion(spark, table))
    require(v > 0, s"$table has no committed version")
    val lines = readManifest(spark, t, v)
    val kept = lines.filter { line =>
      entryStats(line) match {
        case Some((c, mn, mx)) if c == column => mx >= lo && mn <= hi
        case _ => true // no usable stats: never prune blind
      }
    }
    val df =
      if (kept.isEmpty)
        read(spark, table, Some(v)).limit(0)
      else spark.read.parquet(
        kept.map(line => new Path(t, entryPath(line)).toString): _*)
    PrunedScan(df, lines.size, kept.size)
  }

  /** Logical compaction: rewrite the CURRENT snapshot into
    * `targetFiles` files and publish the swap as a new version. The
    * replaced small files stay on disk for older versions' readers —
    * only `vacuum` reclaims them once their versions expire.
    *
    * A compaction is a logical NO-OP, so it must never change table
    * content under concurrency — which rules out the overwrite
    * (last-writer-wins) commit it once used: a compact committing
    * after a concurrent deleteRows would republish the pre-delete
    * rows (resurrection), and after a concurrent append would DROP
    * the appended files. It therefore publishes through the same
    * verified rebase as DML: exactly the files of the snapshot it
    * read are replaced, concurrent appends are kept, and if a
    * concurrent commit rewrote one of them the compact re-plans from
    * the new head — Delta's OPTIMIZE-vs-DELETE conflict semantics. */
  def compact(spark: SparkSession, table: String,
              targetFiles: Int): Long =
    publishDml(spark, new Path(table)) { head =>
      val t = new Path(table)
      val lines = readManifest(spark, t, head)
      val staged = withStats(spark, t, stageFiles(spark, t,
        read(spark, table, Some(head)).repartition(targetFiles)), None)
      Right((lines.toSet, staged, 0))
    }.version

  /** Sort-clustered compaction: like [[compact]], but the rewrite
    * RANGE-partitions and sorts by `clusterCol` and re-records footer
    * stats — so the compacted files carry tight DISJOINT key ranges
    * and [[readPruned]] stays effective after the rewrite (plain
    * [[compact]] hash-mixes keys across files and drops stats,
    * degrading pruning to keep-all). This is the OPTIMIZE-with-
    * clustering pass a key-queried 100 TB table runs: small-file
    * cleanup and data-skipping layout in one commit; parquet
    * row-group pruning also tightens for free because each file is
    * internally sorted. */
  def compactSorted(spark: SparkSession, table: String,
                    targetFiles: Int, clusterCol: String): Long = {
    import org.apache.spark.sql.functions.col
    publishDml(spark, new Path(table)) { head =>
      val t = new Path(table)
      val lines = readManifest(spark, t, head)
      val staged = withStats(spark, t, stageFiles(spark, t,
        read(spark, table, Some(head))
          .repartitionByRange(targetFiles, col(clusterCol))
          .sortWithinPartitions(clusterCol)), Some(clusterCol))
      Right((lines.toSet, staged, 0))
    }.version
  }

  /** Incremental (CDC-lite) read: the rows APPENDED after
    * `sinceVersion`, resolved as the file-list difference of the two
    * manifests — an incremental consumer (downstream sync, streaming
    * backfill, index maintenance) processes only new data instead of
    * re-scanning the table. Sound only while every intervening commit
    * is append-only: a version that REMOVED files (overwrite,
    * compaction) rewrote rows into new files, and a file-level diff
    * would re-deliver them as inserts — so that case fails loudly
    * ("re-sync from a full snapshot") instead of silently
    * double-counting, the same contract Delta's CDF enforces when the
    * change feed is broken by a non-CDF write. */
  def readAppendsSince(spark: SparkSession, table: String,
                       sinceVersion: Long): DataFrame = {
    val t = new Path(table)
    val head = latestVersion(spark, table)
    require(sinceVersion >= 1 && sinceVersion <= head,
      s"version $sinceVersion outside [1, $head]")
    var prev = readManifest(spark, t, sinceVersion).toSet
    for (v <- sinceVersion + 1 to head) {
      val cur = readManifest(spark, t, v).toSet
      require(prev.subsetOf(cur),
        s"version $v of $table removed files (overwrite/compaction): " +
          "file-level appends-since is unsound — re-sync from a full " +
          s"snapshot of version $v instead")
      prev = cur
    }
    val since = readManifest(spark, t, sinceVersion).toSet
    val added = readManifest(spark, t, head).filterNot(since)
    if (added.isEmpty)
      read(spark, table, Some(head)).limit(0)
    else
      spark.read.parquet(
        added.map(line => new Path(t, entryPath(line)).toString): _*)
  }

  /** Incremental-sync driver: the consumer-side watermark pattern
    * ([[graft.ingest.Ingest]]'s read/commit-watermark, applied to
    * manifest CDC). Reads the last synced version from `stateFile`,
    * hands `process` the full head snapshot (first run) or just the
    * appends since (steady state, via [[readAppendsSince]]), and
    * commits the new high-water version ONLY after `process` returns
    * — a crash mid-process leaves the state untouched, so the next
    * run redelivers the same batch: at-least-once, which is
    * exactly-once when `process` is idempotent (partition upsert,
    * key-merge — everything this engine writes with). Returns the
    * synced version; a no-op sync (already at head) skips `process`
    * entirely. The cursor is a [[ControlFile]], so a crash mid-commit
    * leaves the previous version, never an empty file. */
  def syncAppends(spark: SparkSession, table: String,
                  stateFile: String)
                 (process: DataFrame => Unit): Long = {
    val last = ControlFile.read(spark, stateFile).map(_.trim.toLong)
    val head = latestVersion(spark, table)
    require(head > 0, s"$table has no committed version")
    last match {
      case Some(v) if v >= head => head // caught up
      case maybe =>
        process(maybe match {
          case None => read(spark, table, Some(head))
          case Some(v) => readAppendsSince(spark, table, v)
        })
        ControlFile.replace(spark, stateFile, s"$head\n")
        head
    }
  }

  /** Result of a copy-on-write [[deleteRows]]: the committed version,
    * how many files were rewritten (their stats ranges could contain a
    * doomed key, or they carried no stats for `column`), and how many
    * were carried forward UNTOUCHED — at 100 TB the untouched count is
    * the whole point. */
  final case class DeleteResult(version: Long, rewrittenFiles: Int,
                                untouchedFiles: Int)

  /** Thrown inside the publish closure when a DML rewrite discovers
    * that a concurrent commit already REMOVED or REWROTE one of the
    * files it planned to replace (compact, overwrite, or another
    * delete/merge won the race). Blindly proceeding would resurrect
    * rows the winner deleted — or double-count rows it rewrote — so
    * the loser must re-read the head and redo its plan against the
    * new file set, the same conflict Delta/Iceberg surface as
    * ConcurrentDeleteReadException. Internal: [[deleteRows]] and
    * [[mergeRows]] catch it and retry the whole operation. */
  private final class DmlRebaseConflict extends RuntimeException(
    "concurrent commit removed/rewrote a file this DML planned to replace")

  /** How many times a DML operation re-plans from a fresh head after
    * losing a rewrite race before giving up. Each aborted attempt's
    * staged files are referenced by no manifest — [[vacuum]] reclaims
    * them like any crash leftover. */
  private val DmlRetries = 5

  /** Default [[vacuum]] staging-grace window: unreferenced files
    * younger than this survive a vacuum, so a concurrent commit that
    * publishes within 15 min cannot lose its staged files to the
    * [[stagedLive]] check-to-create TOCTOU. Deployments with a longer
    * commit SLA pass a larger value; tests and exclusive maintenance
    * windows pass 0 for immediate crash-leftover reclaim. */
  val DefaultVacuumFileAgeMs: Long = 15L * 60L * 1000L

  /** Staged-but-uncommitted data files are referenced by NO manifest,
    * so a concurrent [[vacuum]] classifies them as crash leftovers and
    * may reclaim them between a commit's staging and its publish —
    * for a DML rebase loser, between its re-plan and its retry commit.
    * Every commit attempt therefore re-verifies its staged files still
    * exist before publishing a manifest that would reference them.
    * The residual check-to-create window is microseconds against
    * vacuum's full directory listing — the same TOCTOU every
    * object-store table format carries between its vacuum and an
    * in-flight optimistic commit; the deployment-level guard is
    * [[vacuum]]'s `minFileAgeMs` grace window sized to the longest
    * in-flight commit. */
  private def stagedLive(f: FileSystem, t: Path,
                         staged: Seq[String]): Boolean =
    staged.forall(line => f.exists(new Path(t, entryPath(line))))

  /** Test seam: runs once after a DML attempt has STAGED its files but
    * before it publishes — the exact window a racing vacuum can
    * reclaim them. Self-disarming hooks let ManifestTableSpec stage
    * the race deterministically; production never sets it. */
  private[sources] var onDmlStaged: () => Unit = () => ()

  /** Shared loser-path loop for COW DML: `plan` reads the current
    * head and either finishes early (Left) or returns the touched
    * entry set plus the staged replacement lines (Right). The publish
    * closure re-verifies ON EVERY COMMIT ATTEMPT that the touched
    * entries still exist in the head being rebased onto — appends by
    * others are kept; a concurrent removal/rewrite of a touched file
    * aborts the attempt and the whole plan is recomputed against the
    * new head. Two concurrent disjoint-key deletes therefore BOTH
    * land; a delete racing a compact re-plans over the compacted
    * files instead of resurrecting doomed rows. */
  private def publishDml(spark: SparkSession, t: Path)
      (plan: Long => Either[DeleteResult, (Set[String], Seq[String], Int)])
  : DeleteResult = {
    var attempt = 0
    while (true) {
      val head = latestVersion(spark, t.toString)
      require(head > 0, s"$t has no committed version")
      plan(head) match {
        case Left(done) => return done
        case Right((touchedSet, staged, untouched)) =>
          onDmlStaged()
          try {
            val v = publish(spark, t, cur => {
              val curLines =
                if (cur == 0) Nil else readManifest(spark, t, cur)
              if (!touchedSet.subsetOf(curLines.toSet))
                throw new DmlRebaseConflict
              // a racing vacuum may have reclaimed this attempt's
              // staged (manifest-less) files — publishing would commit
              // dangling references; re-plan restages from live data
              if (!stagedLive(fs(spark, t), t, staged))
                throw new DmlRebaseConflict
              curLines.filterNot(touchedSet) ++ staged
            })
            return DeleteResult(v, touchedSet.size, untouched)
          } catch {
            case _: DmlRebaseConflict if attempt < DmlRetries =>
              attempt += 1 // staged files of this attempt: vacuum fodder
          }
      }
    }
    sys.error("unreachable")
  }

  /** COPY-ON-WRITE row-level DELETE — the right-to-be-forgotten /
    * compliance delete for a manifest table (the Delta/Iceberg DELETE
    * shape, on commit-time footer stats): files whose recorded
    * [min, max] for `column` cannot contain any doomed key are carried
    * into the new version VERBATIM (never read, never rewritten);
    * only the overlapping files (plus stats-less ones — pruning is an
    * optimization, never a correctness filter) are scanned, key-
    * filtered, re-clustered on `column` with fresh stats, and staged.
    * The swap is one atomic manifest commit: pinned readers of older
    * versions keep the pre-delete files until [[vacuum]] reclaims
    * them — which is also the COMPLIANCE CLOCK: the data is gone from
    * every new read at commit, gone from storage after the retention
    * window, the same two-phase erasure contract the table formats
    * document. `keys` is driver-held and bounded (a compliance batch,
    * not a data-sized set) — for data-sized deletes use the anti-join
    * formulation over partitions ([[Sources.deleteKeys]]).
    *
    * Concurrency: appends by other writers rebase cleanly (their
    * entries are kept); a concurrent commit that REMOVED or REWROTE a
    * touched file (compact, overwrite, another delete/merge) aborts
    * the publish attempt and the whole plan is recomputed against the
    * new head (up to [[DmlRetries]] times) — never silently
    * resurrecting the winner's deletions, the Delta/Iceberg
    * ConcurrentDeleteRead contract. NULL-key rows are survivors:
    * a NULL never equals any requested key, so the rewrite keeps them
    * (a bare `!isin` would NULL them out of touched files only —
    * inconsistent silent loss). */
  def deleteRows(spark: SparkSession, table: String, column: String,
                 keys: Seq[Long]): DeleteResult = {
    import org.apache.spark.sql.functions.col
    val t = new Path(table)
    if (keys.isEmpty) { // nothing to delete: no rewrite, no commit
      val head = latestVersion(spark, table)
      require(head > 0, s"$table has no committed version")
      return DeleteResult(head, 0, readManifest(spark, t, head).size)
    }
    publishDml(spark, t) { head =>
      val lines = readManifest(spark, t, head)
      val (touched, untouched) = lines.partition { line =>
        entryStats(line) match {
          case Some((c, lo, hi)) if c == column =>
            keys.exists(k => k >= lo && k <= hi)
          case _ => true // no usable stats: must assume it may match
        }
      }
      if (touched.isEmpty) Left(DeleteResult(head, 0, untouched.size))
      else {
        val survivors = spark.read.parquet(
            touched.map(l => new Path(t, entryPath(l)).toString): _*)
          .filter(col(column).isNull || !col(column).isin(keys: _*))
          .repartitionByRange(touched.size, col(column))
          .sortWithinPartitions(column)
        val staged = withStats(spark, t,
          stageFiles(spark, t, survivors), Some(column))
        Right((touched.toSet, staged, untouched.size))
      }
    }
  }

  /** COPY-ON-WRITE MERGE (upsert) — [[deleteRows]]'s DML sibling,
    * completing the triad (append / delete / merge): rows in `updates`
    * REPLACE same-key rows and INSERT where the key is new. Files
    * whose stats range cannot overlap the updates' overall [min, max]
    * key range carry forward verbatim; overlapping (and stats-less)
    * files are scanned once, anti-joined against the update keys — a
    * DISTRIBUTED anti-join, so `updates` may be any size, unlike the
    * driver-held compliance key list of [[deleteRows]] — unioned with
    * the updates, re-clustered with fresh stats, and swapped in one
    * atomic commit. Range-overlap pruning is coarser than per-key
    * (one hot key at each end of the keyspace rewrites everything
    * between); upsert-heavy workloads cluster commits so update
    * batches arrive range-local, which is exactly why the rewrite
    * re-sorts on `column`. Pinned readers keep pre-merge files until
    * [[vacuum]].
    *
    * Input contract (checked in ONE aggregate pass): `updates` must
    * carry no NULL keys (a NULL anti-join key matches nothing — the
    * row would insert as an unreachable-by-merge duplicate forever;
    * rejected loudly instead) and no duplicate keys (two source rows
    * for one target key is nondeterministic "last writer" — Delta
    * MERGE raises multiple-source-matches; so does this). Empty
    * `updates` is a clean no-op: no rewrite, no commit. Concurrency:
    * same rebase contract as [[deleteRows]] — concurrent appends are
    * kept, a removed/rewritten touched file re-plans from the new
    * head. */
  def mergeRows(spark: SparkSession, table: String, column: String,
                updates: DataFrame): DeleteResult = {
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      lit, max => smax, min => smin}
    val t = new Path(table)
    val shape = updates.agg(
      count(lit(1)), count(col(column)), countDistinct(col(column)),
      smin(col(column)).cast("long"), smax(col(column)).cast("long"))
      .head()
    val (total, nonNull, distinct) =
      (shape.getLong(0), shape.getLong(1), shape.getLong(2))
    if (total == 0) { // empty updates: nothing to merge
      val head = latestVersion(spark, table)
      require(head > 0, s"$table has no committed version")
      return DeleteResult(head, 0, readManifest(spark, t, head).size)
    }
    require(nonNull == total,
      s"mergeRows: ${total - nonNull} of $total update rows have NULL " +
        s"$column — a NULL merge key matches no target row and would " +
        "insert an unmergeable duplicate; filter or key them first")
    require(distinct == total,
      s"mergeRows: updates carry ${total - distinct} duplicate " +
        s"$column keys — multiple source rows match one target row " +
        "(Delta MERGE's multiple-source-matches error); dedupe first")
    val (uLo, uHi) = (shape.getLong(3), shape.getLong(4))
    publishDml(spark, t) { head =>
      val lines = readManifest(spark, t, head)
      val (touched, untouched) = lines.partition { line =>
        entryStats(line) match {
          case Some((c, lo, hi)) if c == column => hi >= uLo && lo <= uHi
          case _ => true
        }
      }
      val existing =
        if (touched.isEmpty) updates.limit(0)
        else spark.read.parquet(
          touched.map(l => new Path(t, entryPath(l)).toString): _*)
      val merged = existing
        .join(updates.select(col(column)).distinct(), Seq(column),
          "left_anti")
        .unionByName(updates)
        .repartitionByRange(touched.size + 1, col(column))
        .sortWithinPartitions(column)
      val staged = withStats(spark, t, stageFiles(spark, t, merged),
        Some(column))
      Right((touched.toSet, staged, untouched.size))
    }
  }

  /** COPY-ON-WRITE MULTI-COLUMN anti-join DELETE — completes the DML
    * family for DATA-SIZED doomed sets on COMPOSITE keys: where
    * [[deleteRows]] takes a driver-held single-column key list (the
    * compliance shape), `deleteMatching` takes a DataFrame of doomed
    * key tuples (its columns ARE the match key — e.g. (src, dst) edge
    * pairs from a CDC feed) and anti-joins it DISTRIBUTED against the
    * touched files, so the batch may be any size and the key any
    * arity. File pruning is on `column`'s recorded [min, max] vs the
    * doomed batch's overall range — one aggregate pass over the batch
    * — so a range-local delete rewrites only the files it can touch;
    * stats-less files are conservatively scanned (pruning is an
    * optimization, never a correctness filter). Range overlap is
    * COARSE, so a second, exact phase scopes the rewrite: one
    * semi-join scan of the range-touched files (match columns only —
    * column-pruned) finds the files that actually CONTAIN a doomed
    * tuple, and ONLY those are rewritten — a redelivered retraction
    * whose tuples are already gone is a clean NO-OP (no rewrite, no
    * version: the at-least-once CDC idempotence contract), and an
    * overlapping-but-unmatched file carries forward verbatim instead
    * of being copied (write amplification tracks the rows actually
    * deleted, not the key range). Doomed tuples with a NULL `column`
    * key are rejected loudly (a NULL anti-join key matches no row —
    * the "delete" would silently do nothing); duplicate doomed tuples
    * are fine (anti-join is idempotent). Target rows with NULL in any
    * match column always SURVIVE (the join condition can never
    * evaluate true — consistent across touched and untouched files,
    * unlike a bare !isin). Empty batch = clean no-op. Same
    * [[publishDml]] rebase contract as its siblings: concurrent
    * appends are kept, a removed/rewritten touched file re-plans from
    * the new head. */
  def deleteMatching(spark: SparkSession, table: String, column: String,
                     doomed: DataFrame): DeleteResult = {
    import org.apache.spark.sql.functions.{col, count, expr, lit,
      max => smax, min => smin}
    val t = new Path(table)
    val matchCols = doomed.columns.toSeq
    require(matchCols.contains(column),
      s"deleteMatching: pruning column $column must be one of the " +
        s"doomed batch's match columns ${matchCols.mkString(",")}")
    val shape = doomed.agg(count(lit(1)), count(col(column)),
      smin(col(column)).cast("long"), smax(col(column)).cast("long"))
      .head()
    val (total, nonNull) = (shape.getLong(0), shape.getLong(1))
    if (total == 0) { // empty batch: no rewrite, no commit
      val head = latestVersion(spark, table)
      require(head > 0, s"$table has no committed version")
      return DeleteResult(head, 0, readManifest(spark, t, head).size)
    }
    require(nonNull == total,
      s"deleteMatching: ${total - nonNull} of $total doomed rows have " +
        s"NULL $column — a NULL key matches no target row; filter or " +
        "key them first")
    val (dLo, dHi) = (shape.getLong(2), shape.getLong(3))
    val doomedKeys = doomed.select(matchCols.map(col): _*).distinct()
    publishDml(spark, t) { head =>
      val lines = readManifest(spark, t, head)
      val (inRange, disjoint) = lines.partition { line =>
        entryStats(line) match {
          case Some((c, lo, hi)) if c == column => hi >= dLo && lo <= dHi
          case _ => true
        }
      }
      if (inRange.isEmpty) Left(DeleteResult(head, 0, disjoint.size))
      else {
        // phase 2 (exact): which in-range files actually HOLD a doomed
        // tuple — staged file names are unique within the table dir,
        // so the file-path tail identifies the manifest entry
        val nameOf = (l: String) => new Path(entryPath(l)).getName
        val scan = spark.read.parquet(
          inRange.map(l => new Path(t, entryPath(l)).toString): _*)
        val hitNames = scan
          .select(expr("element_at(split(_metadata.file_path, '/'), -1)")
            .as("__f") +: matchCols.map(col): _*)
          .join(doomedKeys, matchCols, "left_semi")
          .select("__f").distinct()
          .collect().map(_.getString(0)).toSet
        val (touched, carried) = inRange.partition(l => hitNames(nameOf(l)))
        if (touched.isEmpty) // redelivered/absent tuples: clean no-op
          Left(DeleteResult(head, 0, disjoint.size + carried.size))
        else {
          val survivors = spark.read.parquet(
              touched.map(l => new Path(t, entryPath(l)).toString): _*)
            .join(doomedKeys, matchCols, "left_anti")
            .repartitionByRange(touched.size, col(column))
            .sortWithinPartitions(column)
          val staged = withStats(spark, t,
            stageFiles(spark, t, survivors), Some(column))
          Right((touched.toSet, staged, disjoint.size + carried.size))
        }
      }
    }
  }

  /** Delete data files referenced by NO retained manifest (crash
    * leftovers, compacted-away or overwritten files whose versions
    * expired). Keeps the newest `keepVersions` manifests; older ones
    * are dropped first so their exclusive files become unreferenced.
    * Returns the deleted file names.
    *
    * Vacuum-vs-reader contract (spec-pinned): a reader pinned to a
    * RETAINED version is untouched — its files are referenced, so it
    * completes identically before/after the vacuum. A reader pinned
    * to an EXPIRED version holds a frozen file list to files this
    * call may delete; it fails at ACTION time with the store's
    * missing-file error (FileNotFoundException under the Spark
    * wrapper) — never with silently partial rows, because parquet
    * footers are per-file (a file either resolves whole or errors).
    * `keepVersions` is therefore the retention knob that must cover
    * the longest-running reader — the same contract as Delta/Iceberg
    * vacuum retention vs snapshot age.
    *
    * Retention guard: a deployment declares `minRetainedVersions` (its
    * longest-reader budget); a vacuum asked to keep fewer REFUSES
    * rather than reclaim versions a pinned reader may still hold —
    * the Delta `retentionDurationCheck` shape. `force = true` is the
    * explicit override for operators who know no reader is pinned.
    *
    * Vacuum-vs-WRITER contract: an unreferenced file is not
    * necessarily garbage — it may be STAGED by an in-flight commit
    * (append, overwrite, or a DML rebase loser between re-plan and
    * retry) that has not published yet. `minFileAgeMs` is the grace
    * window (Delta's vacuum file-retention shape, on modification
    * time): unreferenced files younger than it are skipped, so a
    * vacuum sized to the longest in-flight commit never steals a
    * live writer's staging. The default (15 min, Delta-style
    * retention) makes a concurrent vacuum safe for any commit that
    * publishes inside that SLA; single-writer maintenance windows
    * and tests pass 0 explicitly to reclaim crash leftovers
    * immediately. At 0 the protection narrows to [[stagedLive]]'s
    * publish-time re-verify — every commit checks its staged files
    * still exist and fails loudly (appends) or re-plans (DML) — but
    * that check-to-create window is a genuine TOCTOU (microseconds
    * vs vacuum's directory listing; see the [[stagedLive]] note): a
    * vacuum landing inside it can still strand an in-flight commit,
    * so 0 is only sound when no writer is concurrent. */
  def vacuum(spark: SparkSession, table: String,
             keepVersions: Int = 2,
             minRetainedVersions: Int = 1,
             force: Boolean = false,
             minFileAgeMs: Long = DefaultVacuumFileAgeMs): Seq[String] = {
    require(force || keepVersions >= minRetainedVersions,
      s"vacuum(keepVersions = $keepVersions) would reclaim versions " +
        s"inside the declared min-retained window of " +
        s"$minRetainedVersions — a reader pinned to one of them would " +
        "fail at action time; raise keepVersions or pass force = true")
    val t = new Path(table)
    val f = fs(spark, t)
    val head = latestVersion(spark, table)
    val keep = ((head - keepVersions + 1) max 1) to head
    (1L until keep.head).foreach(v =>
      f.delete(manifestPath(t, v), false))
    val referenced = keep.flatMap(v => readManifest(spark, t, v))
      .map(line => new Path(t, entryPath(line)).getName).toSet
    val dataDir = new Path(t, "data")
    if (!f.exists(dataDir)) Nil
    else {
      val cutoff = System.currentTimeMillis() - minFileAgeMs
      f.listStatus(dataDir).iterator
        .filter(st => !referenced(st.getPath.getName) &&
          st.getModificationTime <= cutoff)
        .map { st => f.delete(st.getPath, false); st.getPath.getName }
        .toList
    }
  }
}
