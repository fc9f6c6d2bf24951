package graft.ingest

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.types.StructType

import graft.TestSpark
import graft.model.Schemas
import graft.sources.Sources

class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("withRetry: backoff on rate limit, then success") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val out = Ingest.withRetry(maxRetries = 3, baseDelayMs = 5,
      sleep = sleeps.append(_)) {
      calls += 1
      if (calls < 3) throw new Ingest.RateLimited else "ok"
    }
    assert(out.contains("ok"))
    assert(sleeps.toSeq == Seq(5L, 10L)) // (2^attempt)*base
  }

  test("withRetry: 404 gives up immediately") {
    var calls = 0
    val out = Ingest.withRetry(maxRetries = 3, baseDelayMs = 1,
      sleep = _ => ()) { calls += 1; throw new Ingest.NotFound }
    assert(out.isEmpty && calls == 1)
  }

  test("withRetry: exhausting retries throws, not end-of-pages None") {
    var calls = 0
    val ex = intercept[Ingest.RetriesExhausted] {
      Ingest.withRetry(maxRetries = 3, baseDelayMs = 1, sleep = _ => ()) {
        calls += 1; throw new Ingest.RateLimited
      }
    }
    assert(calls == 3)
    assert(ex.getCause.isInstanceOf[Ingest.RateLimited])
  }

  test("withRetry: no sleep after the final failed attempt") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    intercept[Ingest.RetriesExhausted] {
      Ingest.withRetry(maxRetries = 3, baseDelayMs = 5,
        sleep = sleeps.append(_)) { throw new Ingest.RateLimited }
    }
    // 3 attempts → 2 backoffs; the old shape slept a wasted 20ms-scale
    // (2^2·base) third time before throwing
    assert(sleeps.toSeq == Seq(5L, 10L))
  }

  test("fetchAllPages: retry exhaustion mid-pagination propagates") {
    val fetcher = new Ingest.Fetcher {
      def fetchPage(id: String, ep: String, page: Int,
                    since: Option[String]): Option[String] =
        if (page <= 2) Some(s"""{"page":$page}""")
        else throw new Ingest.RateLimited // page 3 perma-throttled
    }
    intercept[Ingest.RetriesExhausted] {
      Ingest.fetchAllPages(fetcher, "m1", "visitors", pageCap = 10,
        sleep = _ => ())
    }
  }

  test("fetchAllPages pulls pages until exhaustion, capped") {
    val fetcher = new Ingest.Fetcher {
      def fetchPage(id: String, ep: String, page: Int,
                    since: Option[String]): Option[String] =
        if (page <= 3) Some(s"""{"page":$page}""") else None
    }
    val pages = Ingest.fetchAllPages(fetcher, "m1", "visitors", pageCap = 10)
    assert(pages.length == 3)
  }

  test("fetchAllPages forwards the incremental watermark to every page") {
    val seen = scala.collection.mutable.ArrayBuffer[Option[String]]()
    val fetcher = new Ingest.Fetcher {
      def fetchPage(id: String, ep: String, page: Int,
                    since: Option[String]): Option[String] = {
        seen += since
        if (page <= 2) Some(s"""{"page":$page}""") else None
      }
    }
    Ingest.fetchAllPages(fetcher, "m1", "visitors", pageCap = 10,
      since = Some("2024-06-01T00:00:00Z"))
    assert(seen.nonEmpty && seen.forall(_.contains("2024-06-01T00:00:00Z")))
  }

  test("watermark: absent → lookback default; commit → read back") {
    val dir = Files.createTempDirectory("graft_wm").toString + "/last_run"
    val now = java.time.Instant.parse("2024-06-08T00:00:00Z")
    val absent = Ingest.readWatermark(spark, dir, lookbackDays = 7, now = now)
    assert(absent == "2024-06-01T00:00:00Z")
    Ingest.commitWatermark(spark, dir, "2024-06-07T12:00:00Z")
    // a committed watermark is read on the driver: no Spark job
    val (read, costs) =
      graft.Ledger.measure(spark)(Ingest.readWatermark(spark, dir, 7, now))
    assert(read == "2024-06-07T12:00:00Z")
    assert(costs.jobs.size == 0,
      s"${costs.jobs.size} Spark jobs for one watermark read")
    // re-commit REPLACES in place (the FileContext OVERWRITE rename
    // path — no delete→rename window) and no tmp litter stays behind
    Ingest.commitWatermark(spark, dir, "2024-06-08T00:00:00Z")
    assert(Ingest.readWatermark(spark, dir, 7, now) == "2024-06-08T00:00:00Z")
    // (.crc checksum sidecars are the local ChecksumFs's, not litter)
    val parent = new java.io.File(dir).getParentFile
    val leftover = parent.listFiles().map(_.getName)
      .filterNot(n => n == "last_run" || n.endsWith(".crc"))
    assert(leftover.isEmpty, leftover.mkString(","))
  }

  test("watermark commit replaces the legacy Spark-write directory layout") {
    val dir = Files.createTempDirectory("graft_wm2").toString + "/last_run"
    // legacy layout: a DIRECTORY of json part files
    import spark.implicits._
    Seq(("2024-06-01T00:00:00Z", "success")).toDF("timestamp", "status")
      .write.json(dir)
    val now = java.time.Instant.parse("2024-06-08T00:00:00Z")
    assert(Ingest.readWatermark(spark, dir, 7, now) == "2024-06-01T00:00:00Z")
    Ingest.commitWatermark(spark, dir, "2024-06-05T00:00:00Z")
    assert(Ingest.readWatermark(spark, dir, 7, now) == "2024-06-05T00:00:00Z")
    assert(new java.io.File(dir).isFile) // migrated to the single-file layout
  }

  test("bronze JSON write honors the explicit schema (sparse docs → nulls)") {
    val dir = Files.createTempDirectory("graft_bronze").toString + "/media"
    Ingest.writeBronzeJson(spark,
      Seq("""{"hashed_id":"a1","name":"x"}""",
        """{"hashed_id":"b2","created":"123"}"""),
      dir)
    val back = spark.read.schema(graft.model.Schemas.rawMedia).json(dir)
    assert(back.count() == 2)
    assert(back.filter("name IS NULL").count() == 1)
  }

  /** The rows `readBronzeJson` returns for `docs` landed at a fresh
    * dir by `land`, as sorted strings (a multiset). */
  private def landedRows(docs: Seq[String], schema: StructType)
      (land: String => Unit): Seq[String] = {
    val root = Files.createTempDirectory("graft_land").toString
    land(s"$root/m1_20240601_000000")
    Sources.readBronzeJson(spark, s"$root/*/", schema, multiline = false)
      .collect().map(_.toString).toSeq.sorted
  }

  test("driver landing reads back the rows a Spark JSON write did") {
    import spark.implicits._
    val media = Seq(
      // pretty-printed, CRLF line ends, non-ASCII, number for a string
      "{\r\n  \"hashed_id\": \"m1\",\r\n  \"name\": \"Vidéo — 東京 🎬\",\r\n" +
        "  \"created\": 1700000000\r\n}",
      // a top-level array: one row per element
      """[{"hashed_id":"m2","play_count":3},{"hashed_id":"m3","duration":12.5,"created":1.5e3}]""",
      // unknown fields are dropped by the schema
      """{"hashed_id":"m4","stats":{"x":[1,2]},"tags":["a"],"name":"x"}""",
      "[]",
      // malformed: cut off mid-document, and a raw newline in a string
      """{"hashed_id":"m9","name":""",
      "{\"hashed_id\":\"m8\",\"name\":\"two\nlines\"}")
    val visitors = Seq(
      "{\n  \"visitor_key\": \"v1\",\n  \"country\": \"DE\",\n" +
        "  \"events\": [\n    {\"type\": \"play\", \"time\": 1700000000,\n" +
        "     \"duration_watched\": 5, \"percent_watched\": 50.5},\n" +
        "    {\"type\": \"end\", \"percent_watched\": \"100\", \"extra\": true}\n  ]\n}",
      """{"visitor_key":"v2","ip_address":"1.2.3.4","country":"Österreich","events":[]}""",
      """{"visitor_key":"v3"}""")
    Seq(media -> Schemas.rawMedia, visitors -> Schemas.rawVisitor)
      .foreach { case (docs, schema) =>
        // the bronze write this landing replaces: a Spark JSON job
        val sparkWritten = landedRows(docs, schema)(
          spark.read.schema(schema).json(docs.toDS()).write.json(_))
        val landed = landedRows(docs, schema)(
          Ingest.writeBronzeJson(spark, docs, _))
        assert(landed == sparkWritten)
      }
    // the rows themselves: both malformed docs read as all-null rows,
    // as they did through the Spark write
    val landed = landedRows(media, Schemas.rawMedia)(
      Ingest.writeBronzeJson(spark, media, _))
    assert(landed == Seq(
      "[m1,Vidéo — 東京 🎬,1700000000,null,null]",
      "[m2,null,null,null,3]",
      "[m3,null,1500.0,12.5,null]",
      "[m4,x,null,null,null]",
      "[null,null,null,null,null]", "[null,null,null,null,null]").sorted)
  }

  test("ingest lands bronze with no Spark job") {
    val root = Files.createTempDirectory("graft_land_jobs").toString
    val fetcher = new Ingest.Fetcher {
      def fetchPage(id: String, ep: String, page: Int,
                    since: Option[String]): Option[String] =
        if (page > 1) None
        else if (ep == "media") Some(s"""{"hashed_id":"$id"}""")
        else Some(s"""{"visitor_key":"v_$id","events":[]}""")
    }
    val conf = graft.Pipeline.Conf(s"$root/raw", s"$root/silver",
      mediaIds = Seq("abc1", "def2", "ghi3"))
    val (clean, costs) =
      graft.Ledger.measure(spark)(graft.Pipeline.ingest(spark, conf, fetcher))
    assert(clean)
    assert(costs.jobs.isEmpty, costs.jobs.map(_.description))
    assert(Sources.listDir(spark, s"$root/raw/visitors").size == 3)
  }

  test("healthCheck round-trip") {
    val dir = Files.createTempDirectory("graft_hc").toString + "/hc"
    assert(Ingest.healthCheck(spark, dir) == 1L)
  }
}
