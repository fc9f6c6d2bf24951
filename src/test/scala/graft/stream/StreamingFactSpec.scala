package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingFactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("dailyEngagement over a memory stream matches the batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type", "value")

    val agg = StreamingFact.dailyEngagement(df, "ts", "user_id",
      "event_type", "value")
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("sf_test").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, "play", 10.0),
      (ts("2024-01-01 11:00:00"), 1L, "play", 20.0),
      (ts("2024-01-01 12:00:00"), 1L, "pause", 5.0),
      (ts("2024-01-02 09:00:00"), 1L, "play", 7.0),
      (ts("2024-01-01 23:00:00"), 2L, "play", 1.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sf_test")
      .select(to_date(col("day.start")).as("d"), col("user_id"),
        col("play_count"), col("total_value"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("2024-01-01", 1L)) == (2L, 30.0)) // pause excluded
    assert(out(("2024-01-02", 1L)) == (1L, 7.0))
    assert(out(("2024-01-01", 2L)) == (1L, 1.0))
  }

  test("dedupStream drops watermark-window duplicates with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "event_id", "payload")
    val out = StreamingFact.dedupStream(df, "ts", Seq("event_id"))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, "a"),
      (ts("2024-01-01 10:00:01"), 1L, "a-dup"),
      (ts("2024-01-01 10:00:02"), 2L, "b"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_test").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("event_id")).sorted.toSeq == Seq(1L, 2L))
  }

  /** The silver upsert as the stream rows run it: an update-mode
    * drain whose batches go through [[StreamingFact.upsertBatch]]. */
  private def upsertToSilver(agg: org.apache.spark.sql.DataFrame,
                             path: String, checkpoint: String): Unit =
    StreamingFact.drain(agg, "upsert_to_silver", checkpoint, "update") {
      (batch, _) => StreamingFact.upsertBatch(batch, path, Seq("user_id"))
    }

  test("upsertToSilver: foreachBatch lands date-partitioned parquet") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert")
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val agg = StreamingFact.dailyEngagement(df, "ts", "user_id",
      "event_type", "value")
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, "play", 10.0),
      (ts("2024-01-02 11:00:00"), 2L, "play", 20.0))
    upsertToSilver(agg, s"$root/fact", s"$root/ckpt")
    val back = spark.read.parquet(s"$root/fact")
    assert(back.count() == 2)
    assert(back.columns.contains("date"))
    assert(graft.sources.Sources.listDir(spark, s"$root/fact")
      .exists(_.contains("date=")))
  }

  test("upsertToSilver: a later batch on the same date keeps earlier keys") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert2")
    val mem = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val agg = StreamingFact.dailyEngagement(df, "ts", "user_id",
      "event_type", "value")
    // batch 1: user 1 on Jan-01
    mem.addData((ts("2024-01-01 10:00:00"), 1L, "play", 10.0))
    upsertToSilver(agg, s"$root/fact", s"$root/ckpt")
    // batch 2 (resumed from checkpoint): user 2 on the SAME date, plus
    // an update for user 1 — update mode emits only these changed keys.
    mem.addData(
      (ts("2024-01-01 11:00:00"), 1L, "play", 5.0),
      (ts("2024-01-01 12:00:00"), 2L, "play", 20.0))
    upsertToSilver(agg, s"$root/fact", s"$root/ckpt")
    val back = spark.read.parquet(s"$root/fact")
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("play_count"), r.getAs[Double]("total_value")))
      .toMap
    assert(back.size == 2, "user 1's row must survive the second batch")
    assert(back(1L) == (2L, 15.0)) // superseded by the batch-2 update
    assert(back(2L) == (1L, 20.0))
  }

  test("upsertBatch is idempotent under replay (same batch twice)") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_upsert3")
    import spark.implicits._
    val batch = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"), 1L, 3L, 9.0),
      (ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"), 1L, 3L, 9.0))
      .toDF("start", "end", "user_id", "play_count", "total_value")
      .select(struct(col("start"), col("end")).as("day"),
        col("user_id"), col("play_count"), col("total_value"))
    StreamingFact.upsertBatch(batch, s"$root/fact", Seq("user_id"))
    StreamingFact.upsertBatch(batch, s"$root/fact", Seq("user_id"))
    assert(spark.read.parquet(s"$root/fact").count() == 1)
  }

  test("upsertBatch evaluates its batch once") {
    // every action on a foreachBatch frame re-runs the stream's
    // stateful plan; a typed map that counts its rows stands in for it
    val root = java.nio.file.Files.createTempDirectory("graft_upsert_once")
    val evals = spark.sparkContext.longAccumulator("upsert_batch_evals")
    val rows = Seq(
      (ts("2024-01-01 00:00:00"), ts("2024-01-02 00:00:00"), 1L, 3L),
      (ts("2024-01-02 00:00:00"), ts("2024-01-03 00:00:00"), 2L, 1L))
    val batch = rows.toDS().map { r => evals.add(1); r }
      .toDF("start", "end", "user_id", "play_count")
      .select(struct(col("start"), col("end")).as("day"),
        col("user_id"), col("play_count"))
    // the first call lands a new table, the second merges into it
    Seq("first", "second").foreach { call =>
      val before = evals.value
      StreamingFact.upsertBatch(batch, s"$root/fact", Seq("user_id"))
      val evaluated = evals.value - before
      assert(evaluated == rows.size, s"the $call call evaluated " +
        s"$evaluated rows of a ${rows.size}-row batch")
    }
    assert(spark.read.parquet(s"$root/fact").count() == 2)
  }

  test("enrichWithDim: stream-static broadcast join enriches events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
    val dim = Seq((1L, "DE"), (2L, "US")).toDF("user_id", "country")
    val out = StreamingFact.enrichWithDim(df, dim, "user_id")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("enrich_test").start()
    mem.addData((ts("2024-01-01 10:00:00"), 1L),
      (ts("2024-01-01 10:00:01"), 3L)) // 3 has no dim row → null
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enrich_test").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("country"))
      .toMap
    assert(rows(1L) == "DE")
    assert(rows(3L) == null)
  }

  test("sessionize emits ONLY closed sessions (event-time timeout)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingFact.Ev]
    val out = StreamingFact.sessionize(spark,
      mem.toDS().withWatermark("ts", "0 seconds"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_closed_test").start()
    mem.addData(
      StreamingFact.Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
      StreamingFact.Ev(1L, ts("2024-01-01 10:05:00"), 2.0),
      StreamingFact.Ev(2L, ts("2024-01-01 10:01:00"), 5.0))
    q.processAllAvailable()
    // watermark (10:05) has not passed any session's close → NO rows:
    // in-progress sessions must not leak
    assert(spark.table("sess_closed_test").isEmpty,
      "partial sessions leaked before timeout")
    // a much later event pushes the watermark past both idle sessions'
    // close (last_event + 30 min) and opens a session for user 3
    mem.addData(StreamingFact.Ev(3L, ts("2024-01-01 12:00:00"), 9.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_closed_test").collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
    assert(sessions.keySet == Set(1L, 2L)) // user 3 still open → absent
    assert(sessions(1L) == (2L, 3.0))
    assert(sessions(2L) == (1L, 5.0))
  }

  test("sessionize splits an intra-batch gap, emitting the closed half") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingFact.Ev]
    val out = StreamingFact.sessionize(spark,
      mem.toDS().withWatermark("ts", "0 seconds"))
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_split_test").start()
    // one batch, one user, 60-min gap inside it → two sessions, the
    // first closed by its successor (no timeout involved)
    mem.addData(
      StreamingFact.Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
      StreamingFact.Ev(1L, ts("2024-01-01 11:00:00"), 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_split_test").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[java.sql.Timestamp]("session_start")
      == ts("2024-01-01 10:00:00"))
    assert(rows.head.getAs[Long]("n_events") == 1L)
    assert(rows.head.getAs[Double]("total_value") == 1.0)
  }

  test("transformWithState sessionizer matches the fMGWS twin row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    StreamingFact.withTwsStore(spark) {
      def run(name: String,
              f: org.apache.spark.sql.Dataset[StreamingFact.Ev] =>
                org.apache.spark.sql.Dataset[StreamingFact.SessionOut])
      : Set[(Long, String, String, Long, Double)] = {
        val mem = MemoryStream[StreamingFact.Ev]
        val out = f(mem.toDS().withWatermark("ts", "0 seconds"))
        val q = out.writeStream.outputMode(OutputMode.Append())
          .format("memory").queryName(name).start()
        // batch 1: two sessions for user 1 (intra-batch 60-min gap),
        // one open session for user 2
        mem.addData(
          StreamingFact.Ev(1L, ts("2024-01-01 10:00:00"), 1.0),
          StreamingFact.Ev(1L, ts("2024-01-01 10:05:00"), 2.0),
          StreamingFact.Ev(1L, ts("2024-01-01 11:30:00"), 4.0),
          StreamingFact.Ev(2L, ts("2024-01-01 10:01:00"), 5.0))
        q.processAllAvailable()
        // batch 2: watermark jump closes the idle sessions
        mem.addData(StreamingFact.Ev(3L, ts("2024-01-01 14:00:00"), 9.0))
        q.processAllAvailable()
        q.stop()
        spark.table(name).collect().map(r =>
          (r.getAs[Long]("user_id"),
            r.getAs[java.sql.Timestamp]("session_start").toString,
            r.getAs[java.sql.Timestamp]("session_end").toString,
            r.getAs[Long]("n_events"),
            r.getAs[Double]("total_value"))).toSet
      }
      val tws = run("tws_sess",
        ds => StreamingFact.sessionizeTws(spark, ds))
      val fmgws = run("fmgws_sess",
        ds => StreamingFact.sessionize(spark, ds))
      assert(tws == fmgws)
      assert(tws.map(_._1) == Set(1L, 2L)) // user 3 still open
      assert(tws.size == 3) // user 1 × 2 sessions + user 2 × 1
    }
  }

  // --- checkpoint kill-and-restart recovery -------------------------
  //
  // The first streaming incident a production user hits is a crashed
  // query restarted from its checkpoint MID-STREAM. Two failure points
  // bracket the exactly-once contract:
  //   (a) crash BEFORE a batch's sink write → the batch never commits,
  //       restart re-runs it; join/agg STATE checkpointed at the prior
  //       commit must still hold the buffered rows, and committed
  //       batches must not re-emit (no double-count);
  //   (b) crash AFTER the sink write but before the checkpoint commit
  //       → restart REPLAYS the batch, so the sink must be idempotent
  //       for end-to-end exactly-once (upsertBatch's documented
  //       contract).
  // Both drive a real FILE source (maxFilesPerTrigger=1 forces multiple
  // micro-batches over pre-staged files) so the restarted query re-reads
  // offsets exactly as a restarted cluster job would.

  /** Scenario (a) body, shared by the default-provider and RocksDB
    * tests: the state backend changes, the exactly-once contract must
    * not. */
  private def killRestartJoinScenario(root: String): Unit = {
    def stage(side: String,
              files: Seq[Seq[(Long, Long, java.sql.Timestamp)]]): Unit =
      files.zipWithIndex.foreach { case (rows, i) =>
        rows.toDF("user_id", "event_id", "ts").coalesce(1)
          .write.mode("append").parquet(s"$root/$side")
        // pin file mtimes in staging order so the file source's
        // (mtime, path) ordering batches deterministically
        new java.io.File(s"$root/$side").listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .sortBy(_.lastModified).zipWithIndex.foreach { case (f, j) =>
            f.setLastModified(1700000000000L + j * 60000L) }
      }
    // batch-0 files hold a signup whose purchase only arrives in the
    // batch-1 files (and vice versa): the pairs can ONLY emit if the
    // join state survives the crash-restart boundary
    stage("signups", Seq(
      Seq((1L, 101L, ts("2024-01-01 10:00:00")),
        (3L, 103L, ts("2024-01-01 10:00:00"))),
      Seq((2L, 102L, ts("2024-01-01 09:00:00")))))
    stage("purchases", Seq(
      Seq((1L, 201L, ts("2024-01-02 10:00:00")),
        (2L, 202L, ts("2024-01-03 10:00:00"))),
      Seq((3L, 203L, ts("2024-01-04 10:00:00")),
        (9L, 209L, ts("2024-01-05 10:00:00"))))) // no signup → no pair
    val schema = new org.apache.spark.sql.types.StructType()
      .add("user_id", org.apache.spark.sql.types.LongType)
      .add("event_id", org.apache.spark.sql.types.LongType)
      .add("ts", org.apache.spark.sql.types.TimestampType)
    def src(side: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/$side")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(tag: String, crashAtBatch: Long): Unit = {
      val q = StreamingFact
        .attributionJoin(src("purchases"), src("signups"), 7, "inner")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt_$tag")
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            if (id >= crashAtBatch && crashed.compareAndSet(false, true))
              throw new RuntimeException("injected crash")
            b.write.mode("append").parquet(s"$root/out_$tag")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def result(tag: String): Seq[(Long, Long, Long)] =
      spark.read.parquet(s"$root/out_$tag")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("purchase_event_id"),
          r.getAs[Long]("signup_event_id"))).toSeq.sorted
    // interrupted run: batch 0 commits, batch 1 is killed mid-replay...
    val ex = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException](run("kill", crashAtBatch = 1L))
    assert(ex.getMessage.contains("injected crash") ||
      Option(ex.getCause).exists(_.getMessage.contains("injected crash")))
    assert(crashed.get(), "crash never fired: query ran as one batch " +
      "and the test exercised nothing")
    // ...then the SAME checkpoint restarts and drains to completion
    run("kill", crashAtBatch = Long.MaxValue)
    // uninterrupted twin on a fresh checkpoint = ground truth
    run("truth", crashAtBatch = Long.MaxValue)
    val expected = Seq((1L, 201L, 101L), (2L, 202L, 102L),
      (3L, 203L, 103L))
    assert(result("truth") == expected)
    assert(result("kill") == expected,
      "restarted run dropped or double-emitted rows")
  }

  test("kill-and-restart (a): stream-stream join resumes exactly-once " +
    "from checkpoint after a crash between batches") {
    killRestartJoinScenario(java.nio.file.Files
      .createTempDirectory("graft_recover_join").toString)
  }

  test("kill-and-restart (a, RocksDB): same exactly-once contract on " +
    "the state backend a 100TB deployment runs") {
    StreamingFact.withTwsStore(spark)(killRestartJoinScenario(
      java.nio.file.Files.createTempDirectory("graft_recover_join_rocks")
        .toString))
  }

  test("kill-and-restart (b): crash AFTER sink write replays the " +
    "batch; idempotent upsert still converges") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_recover_upsert").toString
    Seq((ts("2024-01-01 10:00:00"), 1L, "play", 10.0),
      (ts("2024-01-01 11:00:00"), 2L, "play", 20.0))
      .toDF("ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    Seq((ts("2024-01-01 12:00:00"), 1L, "play", 5.0),
      (ts("2024-01-02 09:00:00"), 3L, "play", 7.0))
      .toDF("ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    new java.io.File(s"$root/in").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(_.lastModified).zipWithIndex.foreach { case (f, j) =>
        f.setLastModified(1700000000000L + j * 60000L) }
    val schema = spark.read.parquet(s"$root/in").schema
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(crashAfterBatch0: Boolean): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      val agg = StreamingFact.dailyEngagement(stream, "ts", "user_id",
        "event_type", "value")
      StreamingFact.drain(agg, "upsert_restart", s"$root/ckpt", "update") {
        (b, id) =>
          StreamingFact.upsertBatch(b, s"$root/fact", Seq("user_id"))
          // sink effects are ON DISK; the checkpoint commit for this
          // batch now never happens → restart must replay it
          if (crashAfterBatch0 && id == 0L &&
              crashed.compareAndSet(false, true))
            throw new RuntimeException("injected crash")
      }
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      run(crashAfterBatch0 = true))
    assert(crashed.get())
    // batch 0's rows are already in the fact dir from the killed run
    assert(spark.read.parquet(s"$root/fact").count() == 2)
    run(crashAfterBatch0 = false) // restart: replays batch 0, runs batch 1
    val back = spark.read.parquet(s"$root/fact").collect()
      .map(r => (r.getAs[java.sql.Date]("date").toString,
        r.getAs[Long]("user_id")) ->
        (r.getAs[Long]("play_count"), r.getAs[Double]("total_value")))
      .toMap
    assert(back.size == 3, s"replayed batch duplicated rows: $back")
    assert(back(("2024-01-01", 1L)) == (2L, 15.0))
    assert(back(("2024-01-01", 2L)) == (1L, 20.0))
    assert(back(("2024-01-02", 3L)) == (1L, 7.0))
  }

  test("sessionWindows: event-time gap sessions, append-once emission") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
    val out = StreamingFact.sessionWindows(df, "ts", "user_id",
      gap = "30 minutes", watermark = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sw_test").start()
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L),
      (ts("2024-01-01 10:10:00"), 1L), // same session (10 min gap)
      (ts("2024-01-01 11:30:00"), 1L)) // new session (80 min gap)
    q.processAllAvailable()
    // watermark 11:30 passed the first session's close (10:40) but not
    // the second's (12:00)
    val first = spark.table("sw_test").collect()
    assert(first.length == 1)
    assert(first.head.getAs[java.sql.Timestamp]("session_start")
      == ts("2024-01-01 10:00:00"))
    assert(first.head.getAs[java.sql.Timestamp]("session_end")
      == ts("2024-01-01 10:40:00")) // last event + gap
    assert(first.head.getAs[Long]("n_events") == 2L)
    // advance the watermark far enough to close the second session
    mem.addData((ts("2024-01-02 00:00:00"), 9L))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("sw_test").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[java.sql.Timestamp]("session_start").toString))
    assert(all.length == 2) // user 9's session is still open → absent
    assert(all.contains((1L, "2024-01-01 11:30:00.0")))
  }

  test("mergeMvBatch: versioned marker makes the MV merge exactly-once " +
    "under replay AND under a crash between data write and commit") {
    // a plain path and a URI-qualified root (file://, like hdfs:// or
    // abfss:// roots): the marker must land through the Hadoop FS
    def tmp() = java.nio.file.Files.createTempDirectory("graft_mv_eo")
    Seq(tmp().toString, tmp().toUri.toString.stripSuffix("/")).foreach {
      mv => withClue(s"mv = $mv: ") { checkMvExactlyOnce(mv) }
    }
  }

  private def checkMvExactlyOnce(mv: String): Unit = {
    import graft.stream.{StreamingFact => SF}
    def partials(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
    def batch(rows: (String, Long)*) = rows.toSeq.toDF("k", "v")
    def view(): Map[String, (Long, Long)] =
      SF.readMv(spark, mv).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    SF.mergeMvBatch(batch(("a", 1L), ("b", 2L)), 0L, mv, Seq("k"), partials)
    SF.mergeMvBatch(batch(("a", 10L)), 1L, mv, Seq("k"), partials)
    assert(SF.committedMvBatch(mv) == 1L)
    assert(view() == Map("a" -> (2L, 11L), "b" -> (1L, 2L)))

    // replay of an ALREADY-COMMITTED batch id: dropped by the guard
    SF.mergeMvBatch(batch(("a", 10L)), 1L, mv, Seq("k"), partials)
    assert(view() == Map("a" -> (2L, 11L), "b" -> (1L, 2L)))

    // crash window: a previous attempt at batch 2 wrote its v2 data
    // dir but DIED before the marker swap — the replay must rebuild
    // v2 from the committed base v1, not double-merge on the orphan
    batch(("z", 99L)).write.mode("overwrite").parquet(s"$mv/v2")
    assert(SF.committedMvBatch(mv) == 1L) // marker untouched by the orphan
    SF.mergeMvBatch(batch(("b", 5L)), 2L, mv, Seq("k"), partials)
    assert(SF.committedMvBatch(mv) == 2L)
    assert(view() == Map("a" -> (2L, 11L), "b" -> (2L, 7L)))
  }
}
