package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Ingest

/** Entry point A end-to-end: canned-fetcher ingest → bronze dirs →
  * silver star schema → gold cast, all through the real file layer
  * (the bronze dir names carry the media-id lineage). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // the chains call the fetcher concurrently
  private val sinceSeen =
    scala.collection.concurrent.TrieMap[String, Option[String]]()
  private val fetcher = new Ingest.Fetcher {
    def fetchPage(id: String, endpoint: String, page: Int,
                  since: Option[String]): Option[String] = {
      sinceSeen(endpoint) = since
      if (page > 1) None
      else if (endpoint == "media")
        Some(s"""{"hashed_id":"$id","name":"Video $id on YouTube","created":1700000000}""")
      else
        Some(s"""{"visitor_key":"vis_$id","ip_address":"9.9.9.9","country":"DE","events":[{"type":"play","time":1700000000,"duration_watched":"5","percent_watched":"50"},{"type":"end","time":1700000500,"duration_watched":"1","percent_watched":"100"}]}""")
    }
  }

  test("full run: ingest → silver → gold, lineage through dir names") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "zzz9"),
      clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))))
    val res = Pipeline.run(spark, conf, fetcher,
    )
    assert(res.dimMedia.count() == 2)
    assert(res.dimVisitor.count() == 2)
    val fact = res.fact.collect()
    assert(fact.length == 2)
    assert(fact.map(_.getAs[String]("media_id")).toSet ==
      Set("abc1", "zzz9")) // recovered from the bronze dir names
    assert(fact.forall(_.getAs[Long]("play_count") == 1)) // 'end' excluded
    // the silver read-back keeps the fact's column order (the date
    // partition column does not move to the end)
    assert(res.fact.columns.toSeq ==
      graft.model.Schemas.factEngagement.fieldNames.toSeq)
    // silver parquet landed, fact partitioned by date
    assert(graft.sources.Sources.exists(spark,
      s"$root/silver/fact-engagement"))
    assert(graft.sources.Sources.listDir(spark,
      s"$root/silver/fact-engagement").exists(_.contains("date=")))
    // gold narrowing applied
    assert(res.goldFact.schema("watched_percent").dataType.simpleString
      == "decimal(5,2)")
    // watermark committed
    assert(Ingest.readWatermark(spark, s"$root/raw/metadata/last_run",
      7, java.time.Instant.parse("2030-01-01T00:00:00Z"))
      != "2029-12-25T00:00:00Z")
    // incremental pull: the visitors fetch received the watermark read
    // at run start (first run → the 7-day lookback default), nb02:247
    assert(sinceSeen("visitors").isDefined)
    assert(sinceSeen("media").isEmpty) // catalog always pulled in full
    // the run-report ops artifact landed next to the silver layer with
    // the observed DQ metrics inside
    val report = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/silver/_run_report.json"))
    assert(report.contains("\"status\":\"success\""))
    assert(report.contains("\"dim_media\""))
    assert(report.contains("\"total_rows\":2"))
    assert(report.contains("\"media_id_null_or_empty\":0"))
    // the contract block: every rule's violation count plus pass/fail,
    // sourced from the same observe() pass as the DQ metrics
    assert(report.contains("\"contracts_status\":\"pass\""))
    assert(report.contains("\"play_count_positive\":0"))
    assert(report.contains("\"url_has_prefix\":0"))
    assert(report.contains("\"passed\":true"))
  }

  test("a hung fetcher fails the run within the stage budget") {
    import scala.concurrent.duration._
    val root = Files.createTempDirectory("graft_pipe_hang").toString
    // a fetcher that never returns — no retries burn, no Spark jobs
    // launch; without the budget Pipeline.run would block forever
    val hung = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] = {
        try Thread.sleep(600000) // dies by interrupt on timeout
        catch { case _: InterruptedException => () }
        None
      }
    }
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1"), stageTimeout = Some(2.seconds))
    val t0 = System.nanoTime()
    val e = intercept[Pipeline.StageTimedOut] {
      Pipeline.run(spark, conf, hung)
    }
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(e.stage == "ingest")
    // failed fast: well within budget + slack, nowhere near the hang
    assert(elapsedSec < 30, s"took $elapsedSec s")
    // fail-fast isolation (ADF dependsOn Succeeded): transform never
    // started, so no silver layer and no run report were written
    assert(!graft.sources.Sources.exists(spark, s"$root/silver"))
  }

  test("an unexpected mid-loop failure sweeps this run's bronze dirs") {
    // id abc1 ingests cleanly, then id bbb2 dies on a non-retry
    // exception (the reaper-interrupt / cancelled-write class): the
    // exception must propagate AND abc1's dirs must not survive under
    // this run's stamp — survivors would double-count when the retry
    // re-fetches the held window under a new stamp
    val root = Files.createTempDirectory("graft_pipe_abort").toString
    val boom = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] = {
        if (id == "bbb2") throw new IllegalStateException("torn mid-run")
        if (page > 1) None
        else if (endpoint == "media")
          Some(s"""{"hashed_id":"$id","name":"V","created":1700000000}""")
        else
          Some(s"""{"visitor_key":"v_$id","ip_address":"1.1.1.1","country":"DE","events":[]}""")
      }
    }
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "bbb2"))
    val e = intercept[IllegalStateException] {
      Pipeline.ingest(spark, conf, boom)
    }
    assert(e.getMessage == "torn mid-run") // surfaced as itself
    // watermark held AND the clean id's dirs swept
    assert(!graft.sources.Sources.exists(spark,
      s"$root/raw/metadata/last_run"))
    assert(graft.sources.Sources.listDir(spark, s"$root/raw/media")
      .isEmpty, "bronze media dirs survived the aborted run")
    assert(graft.sources.Sources.listDir(spark, s"$root/raw/visitors")
      .isEmpty, "bronze visitors dirs survived the aborted run")
  }

  test("a failure surfaces as itself and sweeps a slower clean id's " +
    "dirs landed after it") {
    // the race the sequential loop never had: bbb2 fails at once while
    // abc1 is still fetching; abc1 lands AFTER the failure, and the
    // sweep must still remove its dirs
    val root = Files.createTempDirectory("graft_pipe_race").toString
    val fetchedAfterFailure = new java.util.concurrent.CountDownLatch(1)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val racy = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] = {
        if (id == "bbb2") {
          failed.set(true)
          throw new IllegalStateException("torn mid-run")
        }
        Thread.sleep(300)
        if (endpoint == "visitors" && failed.get)
          fetchedAfterFailure.countDown()
        if (page > 1) None
        else if (endpoint == "media")
          Some(s"""{"hashed_id":"$id","name":"V","created":1700000000}""")
        else
          Some(s"""{"visitor_key":"v_$id","ip_address":"1.1.1.1","country":"DE","events":[]}""")
      }
    }
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "bbb2"))
    val e = intercept[IllegalStateException] {
      Pipeline.ingest(spark, conf, racy)
    }
    assert(e.getMessage == "torn mid-run")
    // the clean chain ran on after the failure (no test of the race
    // otherwise) and everything it landed was swept
    assert(fetchedAfterFailure.getCount == 0)
    assert(!graft.sources.Sources.exists(spark,
      s"$root/raw/metadata/last_run"))
    assert(graft.sources.Sources.listDir(spark, s"$root/raw/media")
      .isEmpty, "bronze media dirs survived the aborted run")
    assert(graft.sources.Sources.listDir(spark, s"$root/raw/visitors")
      .isEmpty, "bronze visitors dirs survived the aborted run")
  }

  test("ingest fetches distinct media ids concurrently") {
    val root = Files.createTempDirectory("graft_pipe_overlap").toString
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val calls = new java.util.concurrent.atomic.AtomicInteger
    val slow = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] = {
        peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
        calls.incrementAndGet()
        try Thread.sleep(200) finally inFlight.decrementAndGet()
        fetcher.fetchPage(id, endpoint, page, since)
      }
    }
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "def2", "ghi3", "jkl4"))
    val t0 = System.nanoTime()
    assert(Pipeline.ingest(spark, conf, slow))
    val wallMs = (System.nanoTime() - t0) / 1e6
    val sequentialMs = calls.get * 200.0
    assert(peak.get > 1, s"peak in-flight fetches ${peak.get}")
    assert(wallMs < sequentialMs,
      s"ingest took $wallMs ms, the fetches alone $sequentialMs ms")
    assert(graft.sources.Sources.listDir(spark, s"$root/raw/visitors")
      .size == 4)
  }

  test("a zombie stage past its budget never commits side effects") {
    import scala.concurrent.duration._
    val root = Files.createTempDirectory("graft_pipe_zombie").toString
    // the nastiest shape: a fetcher that SWALLOWS the interrupt and
    // then returns a perfectly valid page — without the abandon fence
    // the resumed worker would write bronze dirs under the old stamp
    // and commit the watermark, racing the orchestrator's retry
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val zombie = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] = {
        if (page > 1) return None
        try Thread.sleep(600000)
        catch { case _: InterruptedException => () } // swallowed
        done.set(true)
        Some(s"""{"hashed_id":"$id","name":"Video","created":1700000000}""")
      }
    }
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1"), stageTimeout = Some(2.seconds))
    intercept[Pipeline.StageTimedOut] { Pipeline.run(spark, conf, zombie) }
    // let the reaper kill the sleep and the zombie resume + finish
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!done.get && System.nanoTime() < deadline) Thread.sleep(100)
    assert(done.get, "zombie fetcher never resumed — test inconclusive")
    Thread.sleep(1500) // give the resumed worker time to (not) commit
    // the fence held: no watermark commit, no bronze dirs
    assert(!graft.sources.Sources.exists(spark,
      s"$root/raw/metadata/last_run"), "zombie committed the watermark")
    assert(!graft.sources.Sources.exists(spark, s"$root/raw/media"),
      "zombie wrote bronze dirs")
  }

  test("stage timeout: a healthy run under budget is unaffected") {
    import scala.concurrent.duration._
    val root = Files.createTempDirectory("graft_pipe_budget").toString
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1"),
      clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))),
      stageTimeout = Some(5.minutes))
    val res = Pipeline.run(spark, conf, fetcher)
    assert(res.fact.count() == 1)
    // a stage failure other than timeout still surfaces as ITSELF
    // through the budget wrapper (not wrapped, not swallowed)
    val conf2 = conf.copy(rawPath = s"$root/raw2",
      silverPath = s"$root/silver2")
    val boom = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] =
        throw new IllegalArgumentException("fetcher bug")
    }
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, conf2, boom)
    }
    assert(e.getMessage == "fetcher bug")
  }

  test("RunReport.render escapes strings and orders deterministically") {
    val json = graft.etl.RunReport.render("2024-06-01T00:00:00Z", "ok",
      Map("f" -> Map("b" -> 1L, "a" -> 2.5, "q\"x" -> "v\nw")))
    assert(json ==
      """{"run_ts":"2024-06-01T00:00:00Z","status":"ok",""" +
        """"contracts_status":"pass","contracts":{},"frames":""" +
        """{"f":{"a":2.5,"b":1,"q\"x":"v\nw"}}}""")
  }

  test("RunReport.render splits contract metrics and fails the status") {
    val json = graft.etl.RunReport.render("2024-06-01T00:00:00Z", "ok",
      Map("f" -> Map("total_rows" -> 5L, "expect_no_nulls" -> 2L,
        "expect_positive" -> 0L)),
      Map("f" -> Set("expect_no_nulls", "expect_positive")))
    assert(json ==
      """{"run_ts":"2024-06-01T00:00:00Z","status":"ok",""" +
        """"contracts_status":"fail","contracts":""" +
        """{"f":{"no_nulls":2,"positive":0,"passed":false}},""" +
        """"frames":{"f":{"total_rows":5}}}""")
  }

  test("RunReport.render keeps an expect_-named DQ metric out of " +
    "contracts") {
    // a key column literally named `expect_ok` emits the observed DQ
    // metric expect_ok_null_or_empty — under explicit rule routing it
    // must stay a frame metric and must NOT fail contracts_status
    val json = graft.etl.RunReport.render("t", "ok",
      Map("f" -> Map("total_rows" -> 5L, "expect_ok_null_or_empty" -> 3L,
        "expect_positive" -> 0L)),
      Map("f" -> Set("expect_positive")))
    assert(json.contains("\"contracts_status\":\"pass\""))
    assert(json.contains("\"expect_ok_null_or_empty\":3"))
    assert(json.contains("\"contracts\":{\"f\":{\"positive\":0,"))
  }

  test("ingest holds the watermark when a fetch exhausts its retries") {
    val root = Files.createTempDirectory("graft_pipe_dirty").toString
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("ok1", "bad2"), retrySleep = _ => ())
    val flaky = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] =
        if (id == "bad2" && endpoint == "visitors")
          throw new Ingest.RateLimited // perma-throttled → exhausts retries
        else if (page > 1) None
        else Some(s"""{"hashed_id":"$id","name":"v","created":1700000000}""")
    }
    val runTs = java.time.Instant.parse("2024-06-08T00:00:00Z")
    val clean = Pipeline.ingest(spark, conf, flaky, runTs)
    assert(!clean)
    // watermark did NOT advance to runTs: readWatermark still returns
    // the lookback default, so the next run re-requests the window
    assert(Ingest.readWatermark(spark, s"$root/raw/metadata/last_run",
      7, runTs) == "2024-06-01T00:00:00Z")
    // the dirty run left NO bronze under its stamp — even the clean
    // id's partial progress is rolled back, because the retry runs
    // under a new stamp against the SAME held window and two stamped
    // dirs for one window double-count every event in transform
    assert(!graft.sources.Sources.exists(spark, s"$root/raw/media") ||
      !graft.sources.Sources.listDir(spark, s"$root/raw/media")
        .exists(_.contains("ok1_")))
    // a subsequent clean run commits
    val ok = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] =
        if (page > 1) None
        else Some(s"""{"hashed_id":"$id","name":"v","created":1700000000}""")
    }
    assert(Pipeline.ingest(spark, conf, ok, runTs))
    assert(Ingest.readWatermark(spark, s"$root/raw/metadata/last_run",
      7, runTs) == "2024-06-08T00:00:00Z")
  }

  test("dirty run then clean retry counts each event exactly once") {
    val root = Files.createTempDirectory("graft_pipe_retry").toString
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("ok1", "bad2"), retrySleep = _ => (),
      clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))))
    def mediaJson(id: String) =
      s"""{"hashed_id":"$id","name":"v","created":1700000000}"""
    def visitorJson(id: String) =
      s"""{"visitor_key":"vis_$id","ip_address":"9.9.9.9","country":"DE","events":[{"type":"play","time":1700000000,"duration_watched":"5","percent_watched":"50"}]}"""
    val flaky = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] =
        if (id == "bad2" && endpoint == "visitors")
          throw new Ingest.RateLimited
        else if (page > 1) None
        else if (endpoint == "media") Some(mediaJson(id))
        else Some(visitorJson(id))
    }
    assert(!Pipeline.ingest(spark, conf, flaky,
      java.time.Instant.parse("2024-06-08T00:00:00Z")))
    val ok = new Ingest.Fetcher {
      def fetchPage(id: String, endpoint: String, page: Int,
                    since: Option[String]): Option[String] =
        if (page > 1) None
        else if (endpoint == "media") Some(mediaJson(id))
        else Some(visitorJson(id))
    }
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    // retry under a DIFFERENT stamp — the double-count hazard
    assert(Pipeline.ingest(spark, conf, ok,
      java.time.Instant.parse("2024-06-08T01:00:00Z")))
    val res = Pipeline.transform(spark, conf)
    val fact = res.fact.collect()
    assert(fact.length == 2)
    // without the dirty-run rollback, ok1's visitor would sit in two
    // stamped bronze dirs and its play_count here would be 2
    assert(fact.forall(_.getAs[Long]("play_count") == 1))
    assert(res.goldFact.count() == 2)
    // the next refresh on the same root, as a scheduled run would
    assert(Pipeline.ingest(spark, conf, ok,
      java.time.Instant.parse("2024-06-08T02:00:00Z")))
    val next = Pipeline.transform(spark, conf)
    assert(next.fact.collect().forall(_.getAs[Long]("play_count") == 2))
    assert(next.goldFact.count() == 2)
    // two refreshes leave the session as they found it: the results
    // are silver read-backs, not cached frames that pile up per call
    assert((persisted -- before).isEmpty,
      s"transform left persisted RDDs: ${persisted -- before}")
  }

  test("unrecoverable-lineage fact rows land in quarantine with " +
    "reasons, not in silver") {
    // a media id outside the [a-z0-9]+ lineage pattern produces a
    // bronze visitors dir whose name the two regexps cannot parse:
    // its fact rows have null media_id. Pre-round-8 those vanished in
    // factEngagement's trailing filter; now they route to the
    // dead-letter sink with the failed rule named.
    val root = Files.createTempDirectory("graft_pipe_quar").toString
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "BADID"),
      clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))))
    val res = Pipeline.run(spark, conf, fetcher)
    // silver fact: only the parseable id's row
    assert(res.fact.collect().map(_.getAs[String]("media_id")).toSeq
      == Seq("abc1"))
    // quarantine: BADID's visitor row, reason = the lineage rule
    val dead = spark.read.parquet(
      s"$root/silver/_quarantine/fact-engagement").collect()
    assert(dead.length == 1)
    assert(dead.head.getAs[String]("media_id") == null)
    assert(dead.head.getAs[String]("_errors") == "media_id_present")
    assert(dead.head.getAs[String]("visitor_id") == "vis_BADID")
    // and the run report carries the quarantine frame's row count
    assert(res.qualityReports("fact_quarantine")("total_rows") == 1L)
    assert(res.qualityReports("fact")("total_rows") == 1L)
  }

  test("transform DQ metrics ride the silver writes — no extra jobs") {
    val root = Files.createTempDirectory("graft_pipe_obs").toString
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "zzz9"),
      clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))))
    Pipeline.ingest(spark, conf, fetcher)
    val (res, costs) = Ledger.measure(spark)(Pipeline.transform(spark, conf))
    // every job transform ran belongs to a silver parquet write: its
    // result stage is the write call site (a stage name is the
    // action's call site, e.g. "parquet at Sources.scala:41"), or it
    // is an AQE-internal stage-materialization sub-job of one
    // (withThreadLocalCaptured). The DQ metrics were collected by
    // observe() INSIDE those jobs — a reintroduced separate
    // aggregation would surface here as a job whose result stage
    // names collect/count/head.
    val seen = costs.jobs.map(_.stageNames.mkString("|"))
    assert(seen.exists(_.contains("parquet at")))
    assert(seen.forall(s => s.contains("parquet at") ||
        s.contains("withThreadLocalCaptured")),
      s"non-write jobs ran during transform: $seen")
    // and the observed values match an independent aggregation
    val vk = graft.etl.Quality.validateKeys(res.fact,
      Seq("media_id", "visitor_id", "date")).collect()(0)
    val m = res.qualityReports("fact")
    assert(m("total_rows") == vk.getAs[Long]("total_rows"))
    Seq("media_id", "visitor_id", "date").foreach { k =>
      assert(m(s"${k}_null_or_empty") ==
        vk.getAs[Long](s"${k}_null_or_empty"))
    }
    assert(res.qualityReports("dim_media")("total_rows") == 2L)
    assert(res.qualityReports("dim_visitor")("total_rows") == 2L)
    // contract violation counts observed during the write match an
    // independent one-pass checkExpectations aggregation
    val ce = graft.etl.Quality.checkExpectations(res.fact,
      Pipeline.factContract).collect()(0)
    Pipeline.factContract.foreach { e =>
      assert(m(s"expect_${e.name}") == ce.getAs[Long](e.name),
        s"contract metric expect_${e.name} drifted from checkExpectations")
    }
  }

  test("transform books the dimension writes' jobs from their threads") {
    val root = Files.createTempDirectory("graft_pipe_silver").toString
    val conf = Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "zzz9", "BADID"),
      clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))))
    assert(Pipeline.ingest(spark, conf, fetcher))
    val (res, costs) = Ledger.measure(spark)(Pipeline.transform(spark, conf))
    // every row of the four silver writes is booked, the dimensions'
    // included: their jobs run on threads transform made
    val r = res.qualityReports
    assert(costs.rowsWritten == Seq("dim_media", "dim_visitor", "fact",
      "fact_quarantine").map(r(_)("total_rows").asInstanceOf[Long]).sum,
      costs)
    assert(costs.failedJobs.isEmpty, costs)
    assert(r == Map(
      "dim_media" -> Map("total_rows" -> 3L, "media_id_null_or_empty" -> 0L,
        "approx_distinct_keys" -> 3L, "expect_url_has_prefix" -> 0L,
        "expect_channel_known" -> 0L),
      "dim_visitor" -> Map("total_rows" -> 3L,
        "visitor_id_null_or_empty" -> 0L, "approx_distinct_keys" -> 3L,
        "expect_country_present" -> 0L),
      "fact" -> Map("total_rows" -> 2L, "media_id_null_or_empty" -> 0L,
        "visitor_id_null_or_empty" -> 0L, "date_null_or_empty" -> 0L,
        "approx_distinct_keys" -> 2L, "expect_play_count_positive" -> 0L,
        "expect_watch_time_non_negative" -> 0L,
        "expect_date_present" -> 0L),
      "fact_quarantine" -> Map("total_rows" -> 1L,
        "media_id_null_or_empty" -> 1L, "visitor_id_null_or_empty" -> 0L,
        "approx_distinct_keys" -> 1L)), r)
  }

  test("a violated expectation reaches the report as contracts_status" +
    " fail — through observe, not a rerun") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", -2), (null, -3)).toDF("k", "v")
    val (observed, obs) = graft.etl.Quality.observedReport(df,
      "dq_fail_" + System.nanoTime(), Seq("k"),
      Seq(graft.etl.Quality.Expectation("v_positive", col("v") > 0),
        graft.etl.Quality.Expectation("k_present", col("k").isNotNull)))
    observed.write.format("noop").mode("overwrite").save()
    val json = graft.etl.RunReport.render("t", "success",
      Map("frame" -> obs.get),
      Map("frame" -> Set("expect_v_positive", "expect_k_present")))
    assert(json.contains("\"contracts_status\":\"fail\""))
    assert(json.contains("\"v_positive\":2"))
    assert(json.contains("\"k_present\":1"))
    assert(json.contains("\"passed\":false"))
    // the plain DQ metrics stay in frames, uncontaminated
    assert(json.contains("\"total_rows\":3"))
  }

  test("observedReport collects DQ metrics as a write side-effect") {
    import spark.implicits._
    val df = Seq(("a", 1), ("", 2), (null, 3)).toDF("k", "v")
    val (observed, obs) = graft.etl.Quality.observedReport(df,
      "dq_" + System.nanoTime(), Seq("k"))
    observed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("total_rows") == 3L)
    assert(m("k_null_or_empty") == 2L)
    assert(m("approx_distinct_keys").asInstanceOf[Long] >= 2L)
  }
}
