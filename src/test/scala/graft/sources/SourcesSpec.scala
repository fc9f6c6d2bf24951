package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bucketed tables join without a shuffle exchange") {
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Sources.writeBucketedTable(a, "bkt_a", "k", 8, "k")
    Sources.writeBucketedTable(b, "bkt_b", "k", 8, "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("rebucketTable rescales bucket count; joins stay zero-Exchange") {
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    Sources.writeBucketedTable(a, "rbk_a", "k", 4, "k")
    Sources.writeBucketedTable(b, "rbk_b", "k", 4, "k")
    assert(Sources.rebucketTable(spark, "rbk_a", 8) == 8)
    assert(Sources.rebucketTable(spark, "rbk_b", 8) == 8)
    // data survived the rewrite intact
    assert(spark.table("rbk_a").count() == 1000)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("rbk_a").join(spark.table("rbk_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 1000)
      // the new count is real in the executed plan, not just catalog
      // metadata: with zero Exchange the join's parallelism IS the
      // bucket count (a bare table scan would coalesce by file size)
      assert(joined.rdd.getNumPartitions == 8)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // a non-bucketed table is refused
    (1 to 10).map(i => (i, i)).toDF("k", "v")
      .write.mode("overwrite").saveAsTable("rbk_plain")
    intercept[IllegalArgumentException](
      Sources.rebucketTable(spark, "rbk_plain", 8))
  }

  test("date-partitioned silver scan prunes partitions") {
    val root = java.nio.file.Files.createTempDirectory("graft_part")
    val df = Seq(("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3))
      .toDF("date", "v")
    Sources.writeSilverParquet(df, s"$root/fact", Some("date"))
    val q = spark.read.parquet(s"$root/fact")
      .filter(col("date") === "2024-01-02")
    val scan = q.queryExecution.executedPlan.toString
    // the date predicate must land in PartitionFilters (dir pruning),
    // not PushedFilters (row-group pruning)
    assert(scan.contains("PartitionFilters"), scan)
    assert(scan.replaceAll("\\s+", " ")
      .matches("(?s).*PartitionFilters:.*date.*2024-01-02.*"), scan)
    assert(q.count() == 1)
  }

  test("repartitionPath migrates day partitions to month; pruning and " +
    "old predicates both survive") {
    val root = java.nio.file.Files.createTempDirectory("graft_repart")
    val df = Seq(("2024-01-01", 1), ("2024-01-15", 2), ("2024-02-03", 3),
      ("2024-02-20", 4), ("2024-03-05", 5))
      .toDF("date", "v")
    Sources.writeSilverParquet(df, s"$root/fact", Some("date"))
    val n = Sources.repartitionPath(spark, s"$root/fact", "month",
      org.apache.spark.sql.functions.substring(col("date"), 1, 7))
    assert(n == 5)
    val back = spark.read.parquet(s"$root/fact")
    assert(back.count() == 5)
    // new layout prunes by month DIRECTORIES
    val q = back.filter(col("month") === "2024-02")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.replaceAll("\\s+", " ")
      .matches("(?s).*PartitionFilters:.*month.*2024-02.*"), scan)
    assert(q.count() == 2)
    // the OLD partition column survived as a data column: same rows,
    // now row-group-pruned instead of directory-pruned
    assert(back.filter(col("date") === "2024-01-15")
      .select("v").collect().map(_.getInt(0)).toSeq == Seq(2))
    // staging/backup fully cleaned up
    assert(!new java.io.File(s"$root/fact_repartitioning").exists())
    assert(!new java.io.File(s"$root/fact_backup").exists())
    // month dirs exist on disk
    assert(new java.io.File(s"$root/fact/month=2024-02").isDirectory)
  }

  test("upsertByPartition rewrites only the touched partitions") {
    val root = java.nio.file.Files.createTempDirectory("graft_upsert2")
    val v1 = Seq(("2024-01-01", 1), ("2024-01-02", 2)).toDF("date", "v")
    Sources.writeSilverParquet(v1, s"$root/t", Some("date"))
    // upsert touches only 01-02 (new value) and 01-03 (new partition)
    val v2 = Seq(("2024-01-02", 20), ("2024-01-03", 3)).toDF("date", "v")
    Sources.upsertByPartition(v2, s"$root/t", "date")
    val back = spark.read.parquet(s"$root/t")
      .collect().map(r => r.get(r.fieldIndex("date")).toString ->
        r.getInt(r.fieldIndex("v"))).toMap
    assert(back == Map("2024-01-01" -> 1, "2024-01-02" -> 20,
      "2024-01-03" -> 3))
  }

  test("deleteKeys: rewrites only touched partitions, removes emptied ones") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_del").toString + "/t"
    Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "c", 40))
      .toDF("id", "part", "v")
      .write.partitionBy("part").parquet(dir)
    // record untouched partition's file set to prove it was not rewritten
    def filesOf(p: String) = new java.io.File(s"$dir/part=$p").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val bBefore = filesOf("b")
    // delete id 1 (partition a keeps id 2) and id 4 (partition c empties)
    val rewritten = Sources.deleteKeys(spark, dir, "part", "id", Seq(1L, 4L))
    assert(rewritten == 2)
    val back = spark.read.parquet(dir).select("id").as[Long]
      .collect().sorted.toSeq
    assert(back == Seq(2L, 3L))
    assert(filesOf("b") == bBefore) // untouched partition: same files
    assert(!new java.io.File(s"$dir/part=c").exists) // emptied: removed
  }

  test("deleteKeys: date-typed partitions — emptied date dir removed") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_del_date").toString + "/t"
    Seq((1L, "2024-01-01"), (2L, "2024-01-01"), (3L, "2024-01-02"))
      .toDF("id", "d")
      .select(col("id"), to_date(col("d")).as("date"))
      .write.partitionBy("date").parquet(dir)
    val rewritten = Sources.deleteKeys(spark, dir, "date", "id", Seq(3L))
    assert(rewritten == 1)
    assert(!new java.io.File(s"$dir/date=2024-01-02").exists)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("deleteKeys: escaped partition values (':' etc.) and null " +
    "partitions — dirs located from real file paths, not reconstructed") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_del_esc").toString + "/t"
    // 'a:b' is written as part=a%3Ab on disk; a naive
    // "$path/part=$value" reconstruction misses it. The null partition
    // lands in __HIVE_DEFAULT_PARTITION__.
    Seq((1L, Option("a:b")), (2L, Option("a:b")), (3L, Option("plain")),
      (4L, Option.empty[String]), (5L, Option.empty[String]))
      .toDF("id", "part")
      .write.partitionBy("part").parquet(dir)
    assert(new java.io.File(s"$dir/part=a%3Ab").exists)
    assert(new java.io.File(s"$dir/part=__HIVE_DEFAULT_PARTITION__").exists)
    // empty the escaped partition entirely; empty the null partition
    // partially (id 4 doomed, id 5 kept)
    val rewritten = Sources.deleteKeys(spark, dir, "part", "id",
      Seq(1L, 2L, 4L))
    assert(rewritten == 2)
    assert(!new java.io.File(s"$dir/part=a%3Ab").exists,
      "emptied escaped partition dir must be gone")
    val back = spark.read.parquet(dir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(back == Seq(3L, 5L),
      "null-partition survivor and untouched partition must remain")
  }

  test("deleteKeys: timestamp-typed partitions (':' escaped on write) " +
    "— emptied dir removed") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_del_ts").toString + "/t"
    Seq((1L, "2024-01-01 10:30:00"), (2L, "2024-01-02 11:45:00"))
      .toDF("id", "s")
      .select(col("id"), to_timestamp(col("s")).as("ts"))
      .write.partitionBy("ts").parquet(dir)
    // the on-disk dirs carry %3A escapes
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.contains("%3A")))
    val rewritten = Sources.deleteKeys(spark, dir, "ts", "id", Seq(2L))
    assert(rewritten == 1)
    assert(spark.read.parquet(dir).select("id").as[Long]
      .collect().toSeq == Seq(1L))
    // the emptied timestamp partition's dir is physically gone
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("ts=")) == 1)
  }

  test("readMergedSchema unions schema versions, null-filling old files") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evo").toString + "/t"
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/v1")
    Seq((2L, "y", 9.5)).toDF("id", "a", "score").write.parquet(s"$dir/v2")
    val merged = Sources.readMergedSchema(spark, s"$dir/*")
    assert(merged.columns.sorted.toSeq == Seq("a", "id", "score"))
    assert(merged.count() == 2)
    assert(merged.filter(col("score").isNull).count() == 1)
  }

  test("writeRangeClustered: files cover disjoint ranges, skippable") {
    import spark.implicits._
    val df = (1 to 10000).map(i => ((i * 7919) % 10000, s"r$i"))
      .toDF("k", "v") // k unordered on input
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rc").toString + "/t"
    Sources.writeRangeClustered(df, dir, Seq("k"), numFiles = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    assert(files.size > 1)
    // per-file min/max of k must form non-overlapping ranges — exactly
    // what parquet footer stats expose for file skipping
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("k"),
          org.apache.spark.sql.functions.max("k")).head()
      (r.getInt(0), r.getInt(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi <= lo2,
        s"file ranges overlap: $ranges")
      case _ => ()
    }
    // nothing lost in the rewrite
    assert(spark.read.parquet(dir).count() == 10000)
  }

  test("zorderN: k=2 equals zorder2 bit-for-bit; k=3 matches hand interleave") {
    val d = (0 until 256).map(i => (i.toLong * 37 % 64,
      i.toLong * 53 % 64, i.toLong * 11 % 64)).toDF("a", "b", "c")
    val two = d.select(
      Sources.zorder2(col("a"), col("b"), bits = 6).as("z2"),
      Sources.zorderN(Seq(col("a"), col("b")), bits = 6).as("zn"))
    assert(two.filter(col("z2") =!= col("zn")).count() == 0)
    // hand-computed 3-dim interleave: bits=2, (a,b,c)=(3,0,1):
    //   pos j*3+i → a bits at 0,3 (both 1), c bit0 at 2 → 1+8+4 = 13
    val h = Seq((3L, 0L, 1L)).toDF("a", "b", "c")
      .select(Sources.zorderN(Seq(col("a"), col("b"), col("c")),
        bits = 2).as("z"))
      .head().getLong(0)
    assert(h == 13L, s"3-dim interleave produced $h")
  }

  test("writeZOrdered: box queries on EITHER dimension touch a " +
    "fraction of files; lexicographic clustering fails the second dim") {
    import spark.implicits._
    val grid = (for (x <- 0 until 128; y <- 0 until 128) yield (x, y))
      .toDF("x", "y").repartition(8) // unordered input
    val root = java.nio.file.Files
      .createTempDirectory("graft_zo").toString
    Sources.writeZOrdered(grid, s"$root/z", "x", "y", numFiles = 16,
      bits = 7)
    Sources.writeRangeClustered(grid, s"$root/lex", Seq("x", "y"),
      numFiles = 16)
    def filesTouched(path: String, pred: org.apache.spark.sql.Column)
    : Long = spark.read.parquet(path).filter(pred)
      .select(col("_metadata.file_path")).distinct().count()
    // z-value interleave is correct: row (3, 5) → 100110 etc.
    val z = grid.select(Sources.zorder2(col("x"), col("y"), 7).as("z"),
      col("x"), col("y"))
      .filter(col("x") === 3 && col("y") === 5).head().getLong(0)
    // x=3 sets positions 0,2; y=5 sets positions 1,5 → 1+2+4+32 = 39
    assert(z == 39L, s"zorder2(3,5) = $z")
    // a filter on the SECOND dimension only: lexicographic files each
    // span all y — every file matches; z-order keeps y-locality
    val yOnly = col("y") < 16
    assert(filesTouched(s"$root/lex", yOnly) == 16,
      "lexicographic layout should NOT prune a y-only box")
    assert(filesTouched(s"$root/z", yOnly) <= 8,
      "z-order layout must keep y-locality")
    // the leading dimension still prunes on both layouts
    val xOnly = col("x") < 16
    assert(filesTouched(s"$root/lex", xOnly) <= 4)
    assert(filesTouched(s"$root/z", xOnly) <= 8)
    // nothing lost
    assert(spark.read.parquet(s"$root/z").count() == 128L * 128L)
  }

  test("compact rewrites a dir to the target file count, same rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact")
    (1 to 100).toDF("v").repartition(20).write.parquet(s"$root/t")
    assert(spark.read.parquet(s"$root/t").inputFiles.length >= 10)
    Sources.compact(spark, s"$root/t", 2)
    val back = spark.read.parquet(s"$root/t")
    assert(back.inputFiles.length <= 3)
    assert(back.count() == 100)
  }

  test("writeGoldJdbc round-trip: truncate-not-drop, types land (Derby)") {
    // embedded Derby (ships with Spark) stands in for the reference's
    // SQL gold store: adf:115-207 truncate-and-insert, adf:388-489 DDL
    val url = "jdbc:derby:memory:golddb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("""CREATE TABLE gold_fact (
      media_id VARCHAR(50) NOT NULL,
      watched_percent DECIMAL(5,2),
      play_count INT,
      PRIMARY KEY (media_id))""")
    st.execute("INSERT INTO gold_fact VALUES ('stale', 1.00, 1)")

    val df = Seq(("m1", BigDecimal("12.34"), 7), ("m2", BigDecimal("99.99"), 3))
      .toDF("media_id", "watched_percent", "play_count")
      .select(col("media_id"),
        col("watched_percent").cast("decimal(5,2)").as("watched_percent"),
        col("play_count").cast("int").as("play_count"))
    Sources.writeGoldJdbc(df, url, "gold_fact", "app", "app")

    // truncate semantics: stale row gone, new rows in
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "gold_fact").load()
    val rows = back.collect()
      .map(r => r.getAs[String]("MEDIA_ID") ->
        (r.getAs[java.math.BigDecimal]("WATCHED_PERCENT").toPlainString,
          r.getAs[Int]("PLAY_COUNT"))).toMap
    assert(!rows.contains("stale"), "truncate must remove prior rows")
    assert(rows("m1") == ("12.34", 7))
    assert(rows("m2") == ("99.99", 3))

    // DDL survived (truncate, not drop/create): the narrowed DECIMAL(5,2)
    // column and the PRIMARY KEY constraint are still in force
    val rs = conn.getMetaData.getColumns(null, null, "GOLD_FACT",
      "WATCHED_PERCENT")
    assert(rs.next())
    assert(rs.getInt("COLUMN_SIZE") == 5 && rs.getInt("DECIMAL_DIGITS") == 2)
    intercept[java.sql.SQLIntegrityConstraintViolationException] {
      st.execute("INSERT INTO gold_fact VALUES ('m1', 0.00, 0)")
    }

    // second write through the same path: still truncate, idempotent
    Sources.writeGoldJdbc(df, url, "gold_fact", "app", "app")
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "gold_fact").load().count() == 2)
    conn.close()
  }

  test("compact recovers: a stale backup dir does not break the swap") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact2")
    (1 to 50).toDF("v").repartition(10).write.parquet(s"$root/t")
    // simulate debris from a crashed earlier compaction
    (1 to 5).toDF("v").write.parquet(s"$root/t_backup")
    Sources.compact(spark, s"$root/t", 1)
    val back = spark.read.parquet(s"$root/t")
    assert(back.count() == 50)
    assert(!Sources.exists(spark, s"$root/t_backup"),
      "backup must be cleaned up after a successful swap")
  }

  test("GraftExtensions: functions injected at session build time") {
    import org.apache.spark.sql.SparkSession
    // a sibling session on the same context, built through extensions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val r = s2.sql("SELECT dot_long(array(1L,2L), array(3L,4L)) AS d")
        .collect().head
      assert(r.getAs[Long]("d") == 11L)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("bloom-filter write lands filters in the footer for the named col") {
    val root = java.nio.file.Files.createTempDirectory("graft_bloom")
    val df = (1 to 20000)
      .map(i => (i.toLong * 7919L % 100000L, s"payload$i"))
      .toDF("visitor_id", "payload")
      .coalesce(1) // one part file, so the footer probe sees all values
    Sources.writeWithBloomFilters(df, s"$root/t",
      bloomCols = Seq("visitor_id"), expectedNdv = 20000L)

    import scala.jdk.CollectionConverters._
    val part = new java.io.File(s"$root/t").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val vid = cols.find(_.getPath.toDotString == "visitor_id").get
      val pay = cols.find(_.getPath.toDotString == "payload").get
      assert(vid.getBloomFilterOffset >= 0,
        "no bloom filter written for visitor_id")
      assert(pay.getBloomFilterOffset < 0,
        "bloom filter leaked onto a column not asked for")
      // the filter itself admits a present value (sanity: not a stub)
      val bloom = reader.getBloomFilterDataReader(
        reader.getFooter.getBlocks.get(0)).readBloomFilter(vid)
      val hit = bloom.findHash(bloom.hash(7919L))
      assert(hit, "bloom filter rejects a value that exists")
    } finally reader.close()

    // probe through Spark: pushdown + bloom consult, same answer
    val probe = spark.read.parquet(s"$root/t")
      .filter(col("visitor_id") === 7919L)
    assert(probe.count() == df.filter(col("visitor_id") === 7919L).count())
  }

  test("bloom filters BEHAVIORALLY prune row groups on a point lookup") {
    // not just footer structure: the same data in the same physical
    // layout, with and without blooms, and the scan must DECODE
    // measurably fewer rows with them. The layout is the one blooms
    // exist for — a shuffled high-cardinality key (min/max stats span
    // every row group, so stats prune nothing) written plain-encoded
    // (parquet omits the bloom for fully dictionary-encoded columns —
    // the dictionary already answers exact membership) in small row
    // groups so one file holds many prune candidates.
    val root = java.nio.file.Files.createTempDirectory("graft_bloom_beh")
    val n = 200000
    val ids = new scala.util.Random(7).shuffle((1L to n.toLong).toVector)
    val df = ids.toDF("id")
      .withColumn("payload", concat(lit("pay_"), col("id")))
      .coalesce(1)
    val layout = Map(
      "parquet.block.size" -> "65536",
      "parquet.enable.dictionary" -> "false")
    Sources.writeWithBloomFilters(df, s"$root/bloom", Seq("id"),
      expectedNdv = 4000L, options = layout) // ~rows per 64K row group
    df.write.options(layout).parquet(s"$root/plain")

    def decodedRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("id") === 123456L)
      assert(q.collect().map(_.getString(1)).toSeq == Seq("pay_123456"))
      val plan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scan = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scan.nonEmpty, s"no FileSourceScanExec in:\n$plan")
      scan.head.metrics("numOutputRows").value
    }
    val plain = decodedRows(s"$root/plain")
    val bloom = decodedRows(s"$root/bloom")
    // without blooms every row group survives (shuffled key, no stats
    // pruning) — the scan decodes ~all n rows; with them only the
    // groups whose filter admits the value are decoded at all
    assert(plain > n / 2,
      s"plain layout unexpectedly pruned ($plain of $n rows) — the " +
        "fixture no longer isolates bloom pruning")
    assert(bloom * 5 <= plain,
      s"bloom pruning not effective: decoded $bloom vs $plain rows")
  }

  test("multiline JSON glob scan with explicit schema") {
    val root = java.nio.file.Files.createTempDirectory("graft_ml")
    java.nio.file.Files.createDirectories(root.resolve("r1"))
    java.nio.file.Files.writeString(root.resolve("r1/d.json"),
      """[{"hashed_id": "x1", "name": "N"},
         {"hashed_id": "x2"}]""")
    val df = Sources.readBronzeJson(spark, s"$root/*/",
      graft.model.Schemas.rawMedia)
    assert(df.count() == 2)
    assert(df.filter("name IS NULL").count() == 1)
  }

  test("expirePartitions drops only pre-cutoff date partitions and " +
    "never touches the null partition") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_exp")
    // the second input is a viewfs mount that only the SESSION conf
    // defines, as the reference sets its storage keys with
    // spark.conf.set (nb01:44-127): driver-side ops must resolve the
    // FileSystem with the conf Spark's own writes use. A fresh mount
    // name per run, and no FileSystem cache for viewfs, so no call
    // can borrow an instance another conf resolved.
    val mount = s"graft${System.nanoTime()}"
    val confs = Map(
      s"fs.viewfs.mounttable.$mount.link./data" -> dir.toUri.toString,
      "fs.viewfs.impl.disable.cache" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try Seq(s"$dir/tbl", s"viewfs://$mount/data/tbl_viewfs").foreach {
      root =>
        val rows = Seq(
          ("2024-01-05", 1L), ("2024-01-09", 2L), ("2024-01-10", 3L),
          ("2024-02-01", 4L), (null: String, 5L))
        rows.toDF("date", "id").write.partitionBy("date").parquet(root)
        val dropped = Sources.expirePartitions(spark, root, "date",
          "2024-01-10")
        assert(dropped == Seq("2024-01-05", "2024-01-09"), root)
        val left = spark.read.parquet(root).select("id")
          .as[Long].collect().sorted.toSeq
        // cutoff-day and later survive; the NULL-dated row is untouched
        // (no well-defined age — retention must not destroy it)
        assert(left == Seq(3L, 4L, 5L), root)
        // idempotent: nothing left to expire
        assert(Sources.expirePartitions(spark, root, "date",
          "2024-01-10").isEmpty, root)
    } finally confs.keys.foreach(spark.conf.unset)
  }
}

