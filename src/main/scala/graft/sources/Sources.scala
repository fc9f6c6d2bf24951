package graft.sources

import graft.Scratch.ScratchOps
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface of the reference, Spark-first (SURVEY §2.1).
  *
  * S6  multiline JSON scan over per-run directory globs
  * S8  Parquet silver writes (+ the 100 TB variant: partitioned by date)
  * S9  Parquet scans
  * S10 JDBC truncate-and-insert gold sink
  * S11 storage-config bootstrap
  * S12 catalog listing
  */
object Sources {

  /** The session's Hadoop conf: the context's plus every key set with
    * `spark.conf.set` (the reference configures storage that way,
    * nb01:44-127), which is the conf Spark's own reads and writes use.
    * The context conf alone misses those keys. */
  private[graft] def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** `path`'s FileSystem under [[hadoopConf]]: the one way driver-side
    * code reaches a filesystem. Each call copies the conf, so resolve
    * once per operation, not once per file. */
  private[graft] def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(hadoopConf(spark))

  /** S6: the reference's `spark.read.option("multiline","true")
    * .json(RAW + "/media/STAR/STAR.json")` (nb03:90-104) — with an explicit
    * schema instead of inference (inference = one extra full scan of
    * the data per read; at 100 TB that is the difference between one
    * pass and two). Globbing over per-run directories is the
    * reference's implicit union. */
  def readBronzeJson(spark: SparkSession, glob: String,
                     schema: StructType, multiline: Boolean = true)
  : DataFrame = {
    // Expand the glob driver-side and hand Spark the CONCRETE matched
    // dirs. Functionally identical (Spark expands the same glob against
    // the same FileSystem internally), but it stops
    // `FileStreamSink.hasMetadata`'s single-path probe from calling
    // getFileStatus on the literal glob string — which does not exist
    // as a file and made every bronze read log a benign WARN carrying
    // a FULL driver stack trace to stderr (the round-11 bench tail's
    // "escaped exception" was exactly this log line). One extra
    // globStatus RPC per read, driver-side, independent of data size.
    val p = new Path(glob)
    val fs = fileSystem(spark, p)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .map(_.getPath.toString).sorted
    val reader = spark.read.schema(schema).option("multiLine", multiline)
    // no match → keep Spark's own PATH_NOT_FOUND failure (an empty
    // bronze layer is an error, as in the reference; nb03 would fail
    // its read too)
    if (matched.isEmpty) reader.json(glob) else reader.json(matched: _*)
  }

  /** S8: silver Parquet write. `partitionCol` (the fact's date) enables
    * partition pruning for every downstream date-ranged query — the
    * single most important layout decision at 100 TB. Dims pass None
    * (small, unpartitioned). */
  def writeSilverParquet(df: DataFrame, path: String,
                         partitionCol: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
  }

  /** Bucketed table write: pre-shuffles data into `numBuckets` by
    * `bucketCol` at write time so every later equi-join or aggregation
    * on that key runs with NO exchange — the amortize-the-shuffle-once
    * strategy for fact tables that join repeatedly on the same key at
    * 100 TB. `sortBy` gives sort-merge-ready buckets. */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
                         numBuckets: Int, sortCol: String,
                         path: Option[String] = None): Unit = {
    // `path` makes the table EXTERNAL (data at the given location, only
    // bucket metadata in the catalog) — callers that manage their own
    // storage lifecycle (scratch dirs, lake layouts) pass it; None
    // lands under spark.sql.warehouse.dir as before
    val w = df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(sortCol)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Re-bucket an existing bucketed table to a new bucket count — the
    * operation a growing deployment runs when the cluster outgrows the
    * count the table was written with (bucket count ~ parallelism of
    * every downstream zero-Exchange join, so it must scale with the
    * executor fleet; see SCALE.md). Bucket/sort COLUMNS are read from
    * the catalog — a re-bucket changes the count, never the key.
    *
    * The rewrite is the pay-once shuffle (same cost class as the
    * original bucketed write); it lands in a staging table first, then
    * swaps via drop + rename so a crash mid-rewrite leaves the
    * original table intact (the swap window itself is two catalog ops;
    * a lake deployment makes that window atomic with its catalog's
    * transaction, which plain Hive-style catalogs don't offer).
    * Returns the new bucket count as read back from the catalog. */
  def rebucketTable(spark: SparkSession, table: String,
                    newNumBuckets: Int): Int = {
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    val meta = cat.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$table is not bucketed — rebucketTable only rescales an " +
        "existing bucket layout"))
    require(newNumBuckets > 0 && newNumBuckets != spec.numBuckets,
      s"new bucket count $newNumBuckets must be positive and differ " +
        s"from current ${spec.numBuckets}")
    val staging = s"${table}__rebucket_$newNumBuckets"
    val w = spark.table(table).write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(newNumBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (spec.sortColumnNames match {
      case head +: tail => w.sortBy(head, tail: _*)
      case _ => w
    }).saveAsTable(staging)
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$staging` RENAME TO `$table`")
    cat.getTableMetadata(ident).bucketSpec.map(_.numBuckets)
      .getOrElse(0)
  }

  /** S10: gold JDBC truncate-and-insert (adf:115-207 semantics —
    * `TRUNCATE TABLE stg_*` then bulk insert). `truncate=true` +
    * Overwrite reproduces ADF's staging-isolation exactly: target DDL
    * (and its PRIMARY KEY constraints, the last-line integrity check)
    * survives the overwrite. Untested live here (no database in this
    * environment); the options object is what a cluster deployment
    * needs. */
  def writeGoldJdbc(df: DataFrame, url: String, table: String,
                    user: String, password: String,
                    batchSize: Int = 10000): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("user", user)
      .option("password", password)
      .option("truncate", value = true)
      .option("batchsize", batchSize)
      .mode(SaveMode.Overwrite)
      .save()

  /** Batch upsert into a partitioned dir: dynamic partition overwrite
    * rewrites ONLY the partitions present in `df` — the batch twin of
    * the streaming foreachBatch upsert; replays converge. The mode is
    * a writer option, so the session's
    * `spark.sql.sources.partitionOverwriteMode` (and every other
    * query's overwrite) stays as it is. */
  def upsertByPartition(df: DataFrame, path: String,
                        partitionCol: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol).parquet(path)

  /** Targeted key deletion from a partitioned parquet table — the
    * right-to-be-forgotten / compliance delete, without a table format:
    * locate the partitions that actually contain the doomed keys (one
    * filtered scan, partition-pruned where the filter allows), anti-join
    * the keys out, and dynamically overwrite ONLY those partitions.
    * Partitions without a match are never read or written. The
    * touched-partition collect is bounded by partition count, not data.
    * Crash-safe by idempotence: a failure mid-delete leaves some doomed
    * rows in place and a re-run converges (rewritten partitions no
    * longer match, remaining ones are re-touched).
    * Returns the number of partitions rewritten. */
  def deleteKeys(spark: SparkSession, path: String, partitionCol: String,
                 keyCol: String, keys: Seq[Any]): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val table = spark.read.parquet(path)
    // Collect (partition value, on-disk partition directory) pairs from
    // the files that actually hold doomed rows. Reconstructing the dir
    // as "$partitionCol=$value" would be WRONG for values Spark escapes
    // on write (':' '%' '#' in timestamps, and null →
    // __HIVE_DEFAULT_PARTITION__): the delete would silently target a
    // nonexistent path and the doomed rows would survive a compliance
    // delete that reported success. _metadata.file_path is the truth.
    val touchedRows = table.filter(col(keyCol).isin(keys: _*))
      .select(col(partitionCol), col("_metadata.file_path").as("__file"))
      .distinct().collect()
    // _metadata.file_path is URL-ENCODED (SparkPath): a directory whose
    // literal name is `part=a%3Ab` (Spark's own escaping of ':' on
    // write) arrives as `part=a%253Ab`. Path(String) treats its input
    // as the DECODED form and re-encodes — building it straight from
    // the metadata string yields a path whose literal name has %2525…
    // and fs.exists silently misses the real dir. Round-trip through
    // java.net.URI so one level of decoding is applied first.
    val dirsByValue: Map[Any, Set[Path]] = touchedRows
      .groupBy(_.get(0))
      .map { case (v, rows) =>
        v -> rows.map(r =>
          new Path(new java.net.URI(r.getString(1))).getParent).toSet
      }
    val touched = dirsByValue.keys.toSeq
    if (touched.isEmpty) return 0
    val touchedNonNull = touched.filterNot(_ == null)
    // isin never matches null: a null partition value needs an explicit
    // isNull branch or its kept rows would be dropped (and the doomed
    // ones kept). Likewise rows whose KEY is null are never doomed —
    // coalesce the three-valued isin to false before negating.
    val partPred = {
      val in = if (touchedNonNull.nonEmpty)
        col(partitionCol).isin(touchedNonNull: _*) else lit(false)
      if (touched.contains(null)) in || col(partitionCol).isNull else in
    }
    val kept = table
      .filter(partPred)
      .filter(not(coalesce(col(keyCol).isin(keys: _*), lit(false))))
      // materialize before the overwrite deletes the files being read
      .scratchCheckpoint(true)
    upsertByPartition(kept, path, partitionCol)
    // a partition whose every row was doomed writes nothing under
    // dynamic overwrite and would survive intact — remove its
    // directory (located above from real file paths) directly, and
    // FAIL loudly if the removal doesn't happen: silent survival of
    // doomed rows is the one unacceptable outcome of this operator.
    val keptParts = kept.select(partitionCol).distinct()
      .collect().map(_.get(0)).toSet
    val fs = fileSystem(spark, new Path(path))
    touched.filterNot(keptParts).foreach { v =>
      dirsByValue(v).foreach { dir =>
        if (fs.exists(dir) && !fs.delete(dir, true))
          throw new java.io.IOException(
            s"deleteKeys: failed to remove emptied partition dir $dir")
      }
    }
    touched.size
  }

  /** Schema-evolution read: union parquet files written under different
    * schema versions (columns added over time) into the superset schema,
    * missing columns null-filled. `mergeSchema` costs a footer read per
    * file — bounded and parallel, nothing like JSON inference — and is
    * how a long-lived silver table absorbs new columns without
    * rewriting history. */
  def readMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", value = true).parquet(path)

  /** Small-file compaction: rewrite a parquet dir into ~`targetFiles`
    * files. Streaming upserts and incremental loads accumulate small
    * files; scan cost at 100 TB is dominated by file count, so
    * compaction is part of table maintenance, not an optimization.
    * (Writes to a staging dir, then [[rewriteInPlace]]'s
    * rename-swap-delete: the DATA is recoverable at every step, and a
    * compact after a crash in the swap window self-heals.) */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit =
    rewriteInPlace(spark, path, "_compacting", "compact") { staging =>
      spark.read.parquet(path).repartition(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }

  /** The staging + backup-before-delete swap shared by [[compact]] and
    * [[repartitionPath]]. First restores a table a crashed swap left
    * parked at `<path>_backup` (a crash between the two renames below
    * leaves `path` missing), then runs `stage`, which writes the
    * rewrite to the staging dir `<path><suffix>` it is given and may
    * throw to abort with `path` untouched and the staging dir removed.
    * Then the original moves aside to the backup BEFORE anything is
    * deleted, the staging dir is renamed into place (rolling back to
    * the backup if that fails) and the backup is deleted. */
  private def rewriteInPlace[T](spark: SparkSession, path: String,
                                suffix: String, op: String)
                               (stage: String => T): T = {
    val p = new Path(path); val t = new Path(path + suffix)
    val b = new Path(path + "_backup")
    val fs = fileSystem(spark, p)
    // crash recovery: a prior run that died mid-swap left the table at
    // _backup and nothing at path — put it back before reading
    if (!fs.exists(p) && fs.exists(b) && !fs.rename(b, p))
      throw new java.io.IOException(
        s"$op: cannot restore $b after interrupted swap")
    val result =
      try stage(t.toString)
      catch { case e: Throwable => fs.delete(t, true); throw e }
    fs.delete(b, true) // clear any stale backup from a prior crash
    if (!fs.rename(p, b))
      throw new java.io.IOException(s"$op: cannot move $path aside")
    if (!fs.rename(t, p)) {
      fs.rename(b, p) // roll back: restore the original table
      throw new java.io.IOException(s"$op: swap failed for $path")
    }
    fs.delete(b, true)
    result
  }

  /** PARTITION-LAYOUT MIGRATION: rewrite a parquet directory under a
    * new partition expression — the day→month coarsening a deployment
    * runs when daily partitions have shrunk into the small-file zone
    * (or month→day the other way as volume grows). The partner of
    * [[rebucketTable]] for the OTHER physical-layout dimension:
    * bucket count tracks join parallelism, partition grain tracks
    * file size × pruning selectivity, and both need migrating as a
    * table's volume moves (see SCALE.md's layout-knob paragraphs).
    *
    * `value` derives the new partition column from each row (e.g.
    * `date_format(col("od"), "yyyy-MM")`); prior partition columns
    * survive as ordinary data columns, so old predicates still work
    * (they just prune row-groups via stats instead of directories).
    * The rewrite is [[compact]]'s pay-once shuffle with the same
    * staging + backup-before-delete swap (crash mid-swap leaves the
    * data parked at `_backup`; rerunning self-heals). Row count is
    * verified against the staging copy BEFORE the swap — a silent
    * drop aborts with the original intact. Returns the row count. */
  def repartitionPath(spark: SparkSession, path: String,
                      newPartitionCol: String,
                      value: org.apache.spark.sql.Column): Long =
    rewriteInPlace(spark, path, "_repartitioning", "repartitionPath") {
      staging =>
        val before = spark.read.parquet(path).count()
        spark.read.parquet(path)
          .withColumn(newPartitionCol, value)
          .write.mode(SaveMode.Overwrite)
          .partitionBy(newPartitionCol).parquet(staging)
        val after = spark.read.parquet(staging).count()
        if (after != before)
          throw new IllegalStateException(
            s"repartitionPath: rewrite row count $after != source " +
              s"$before — aborted, $path untouched")
        before
    }

  /** Parquet write with BLOOM FILTERS on the named columns — the
    * point-lookup complement to min/max stats. Range clustering and
    * z-order prune files for columns the layout was SORTED by; a bloom
    * filter prunes row groups for an arbitrary high-cardinality column
    * regardless of layout (`WHERE visitor_id = X` on a date-clustered
    * fact): an equality probe touches only row groups whose filter
    * admits the value, at ~1 byte/value of footer overhead. Spark
    * pushes equality/IN predicates into parquet-mr, which consults the
    * filter before decoding any page. `expectedNdv` sizes the filter's
    * bit array (per row group) — undersizing inflates the
    * false-positive rate until pruning stops working, so callers pass
    * the per-row-group cardinality, not the table's. */
  def writeWithBloomFilters(df: DataFrame, path: String,
                            bloomCols: Seq[String],
                            expectedNdv: Long = 100000L,
                            options: Map[String, String] = Map.empty)
  : Unit = {
    // callers tune the physical layout through `options` — e.g.
    // parquet.block.size for row-group granularity (pruning skips row
    // GROUPS, so more groups = finer skipping), and
    // parquet.enable.dictionary=false on high-cardinality columns
    // (parquet omits the bloom filter entirely for a fully
    // dictionary-encoded column — the dictionary already answers
    // exact membership)
    val w = df.write.mode(SaveMode.Overwrite).options(options)
    val withOpts = bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv)
    }
    withOpts.parquet(path)
  }

  /** Range-clustered write: `repartitionByRange` on the cluster columns
    * + sort within each partition, so every output file covers a
    * narrow, mostly-disjoint value range. Parquet footer min/max stats
    * then let ANY reader skip whole files for range predicates — the
    * poor man's Z-order, and at 100 TB the difference between scanning
    * one file and scanning ten thousand for `WHERE ship_date BETWEEN
    * …`. The range exchange samples the column to build balanced
    * boundaries, so skew in the cluster column does not skew file
    * sizes. */
  def writeRangeClustered(df: DataFrame, path: String,
                          clusterCols: Seq[String],
                          numFiles: Int): Unit =
    df.repartitionByRange(numFiles,
        clusterCols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(
        clusterCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-order (Morton) interleave of two non-negative integer columns,
    * `bits` low bits each (32 total max — stays well inside a long, so
    * ANSI overflow cannot trip). Range-clustering on this value gives
    * BALANCED file pruning on both dimensions, where lexicographic
    * range clustering prunes only on the leading column: a filter on
    * the second dimension alone touches every lexicographic file but
    * only ~sqrt-fraction of z-ordered ones. Pure codegen'd bit
    * arithmetic (the 2·bits shift-mask terms are disjoint, so plain
    * addition assembles the value).
    *
    * Inputs are taken modulo 2^bits — the mask makes that explicit
    * (only the low `bits` bits ever reach the interleave). Callers
    * must pre-bucket values into [0, 2^bits): out-of-range or negative
    * inputs WRAP, which keeps query results correct (pruning uses the
    * original columns' footer stats, never this key) but scatters the
    * clustering so the layout silently loses its pruning benefit. */
  def zorder2(a: org.apache.spark.sql.Column,
              b: org.apache.spark.sql.Column,
              bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    val mask = lit((1L << bits) - 1L)
    val al = a.cast("long").bitwiseAND(mask)
    val bl = b.cast("long").bitwiseAND(mask)
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** N-column Morton interleave — [[zorder2]] generalized. `bits` low
    * bits from each of the k columns, bit j of column i landing at
    * output position `j*k + i`; k·bits ≤ 63 keeps the key in a long
    * (ANSI-safe). Same caller contract as zorder2: values are masked
    * to the declared width, out-of-range or negative inputs WRAP and
    * silently forfeit the clustering benefit (never correctness —
    * pruning uses the original columns' footer stats). Three or four
    * dims is the practical ceiling: each added dimension dilutes
    * every dimension's pruning power (a k-dim z-curve gives
    * ~N^((k-1)/k) of files for a single-dim slice), which is why
    * zorder2 stays the default. */
  def zorderN(cols: Seq[org.apache.spark.sql.Column],
              bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val k = cols.size
    require(k >= 2, s"need >=2 columns, got $k")
    require(bits >= 1 && k * bits <= 63,
      s"k*bits must fit a long: $k*$bits")
    val mask = lit((1L << bits) - 1L)
    val masked = cols.map(_.cast("long").bitwiseAND(mask))
    (for {
      j <- 0 until bits
      (c, i) <- masked.zipWithIndex
    } yield shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * k + i))
      .reduce(_ + _)
  }

  /** Write `df` clustered by the z-order of (colA, colB): files cover
    * compact rectangles of the 2-D key space instead of thin slices of
    * the leading key, so min/max row-group stats prune box queries on
    * EITHER dimension. The scale story of Delta's OPTIMIZE ZORDER
    * without a table format — at 100 TB this is how a fact table serves
    * selective queries on two independent dimensions from one layout.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
                    colB: String, numFiles: Int,
                    bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", zorder2(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** S11: storage-config bootstrap — the reference sets
    * `fs.azure.account.key...` from a secret (nb01:44-127); locally any
    * fs.* confs pass through the Hadoop configuration the same way. */
  def configureStorage(spark: SparkSession,
                       confs: Map[String, String]): Unit =
    confs.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }

  /** S12: catalog listing (the reference's `dbutils.fs.ls` existence
    * checks, nb01:113-123) via the Hadoop FileSystem API — works on any
    * supported filesystem, not just local. */
  def listDir(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.toString).toSeq
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fileSystem(spark, p).exists(p)
  }

  /** RETENTION EXPIRY on a date-partitioned table: DROP every
    * partition whose `dateCol` value sorts strictly below `cutoff`
    * (ISO yyyy-MM-dd — lexicographic == chronological, the reason
    * date partition values must be ISO). This is the 100 TB retention
    * path: a partition DROP is a directory delete — O(partitions
    * expired) filesystem metadata ops, no read, no rewrite, no
    * shuffle — where a row-level `DELETE WHERE date < cutoff` would
    * rewrite the entire surviving table. Row-level compliance deletes
    * within retained partitions remain [[deleteKeys]]'s job. Returns
    * the dropped partition values. Skips the escaped-null partition
    * dir (`__HIVE_DEFAULT_PARTITION__`): null-dated rows have no
    * well-defined age — retention must not silently destroy them. */
  def expirePartitions(spark: SparkSession, path: String,
                       dateCol: String, cutoff: String): Seq[String] = {
    val root = new Path(path)
    val f = fileSystem(spark, root)
    if (!f.exists(root)) return Nil
    val prefix = s"$dateCol="
    f.listStatus(root).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(prefix))
      .map(p => p -> p.getName.stripPrefix(prefix))
      .filter { case (_, v) =>
        v != "__HIVE_DEFAULT_PARTITION__" && v < cutoff
      }
      .map { case (p, v) => f.delete(p, true); v }
      .toList.sorted
  }
}
