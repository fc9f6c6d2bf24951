package perfbench

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, to_timestamp}

import graft.Pipeline
import graft.etl.{RunReport, Transforms}
import graft.ingest.Ingest
import graft.kpi.Kpi
import graft.sources.Sources

/** Counts every request the fetcher makes, its response bytes and the
  * time spent waiting on the API, around the program's own fetcher. */
final class TimedFetcher(inner: Ingest.Fetcher) extends Ingest.Fetcher {
  var nanos = 0L
  var requests = 0L
  var bytes = 0L
  def fetchPage(mediaId: String, endpoint: String, page: Int,
                since: Option[String]): Option[String] = {
    val t0 = System.nanoTime()
    try {
      val r = inner.fetchPage(mediaId, endpoint, page, since)
      bytes += r.map(_.length.toLong).getOrElse(0L)
      r
    } finally {
      requests += 1
      nanos += System.nanoTime() - t0
    }
  }
}

/** The generator's truth as of one hourly refresh. */
final case class Truth(runTs: Instant, plays: Long, visitors: Long, groups: Long,
                       events: Long)

/** One refresh of the medallion pipeline through the program's public
  * entry points, each call timed from outside as its own span:
  * `Pipeline.ingest` (HTTP → bronze) → `Pipeline.transform` (silver) →
  * `RunReport.write` → `Transforms.goldCastFact` + `Sources.writeGoldJdbc`
  * (gold, embedded Derby) → `Kpi` K1–K11 over the silver parquet.
  * Every answer is checked against the generator's truth, after the
  * timing is done. */
final class PipelineRunner(spark: SparkSession, ledger: Ledger, root: String,
                           goldUrl: String) {

  private val raw = s"$root/raw"
  private val silver = s"$root/silver"
  private val goldTable = "stg_fact_engagement"

  private def dirCount(sub: String, suffix: String = ""): Int =
    Option(new java.io.File(s"$raw/$sub").listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.endsWith(suffix))

  /** Runs one refresh as span `op`; returns the check of its answers.
    * The bronze dirs are counted only when traced. */
  def refresh(mediaIds: Seq[String], baseUrl: String, truth: Truth): () => Seq[String] = {
    val conf = Pipeline.Conf(raw, silver, mediaIds,
      clock = Some(to_timestamp(lit("2024-06-01 00:00:00"))),
      retrySleep = _ => ())
    val fetcher = new TimedFetcher(new Ingest.HttpFetcher(baseUrl, "perfbench"))
    val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(truth.runTs)
    val gc0 = Jvm.gcNanos()
    var committed = false
    var kpi: Map[String, Array[org.apache.spark.sql.Row]] = Map.empty
    var reports: Map[String, Map[String, Any]] = Map.empty
    ledger.span("op") {
      ledger.span("ingest") {
        committed = Pipeline.ingest(spark, conf, fetcher, truth.runTs)
        ledger.note("fetch_ns", fetcher.nanos.toDouble)
        ledger.note("requests", fetcher.requests.toDouble)
        ledger.note("response_bytes", fetcher.bytes.toDouble)
        // bronze dirs this refresh wrote: one media + one visitors dir per id
        if (ledger.traced) ledger.note("bronze_dirs",
          (dirCount("media", stamp) + dirCount("visitors", stamp)).toDouble)
      }
      ledger.span("silver") {
        if (ledger.traced) ledger.note("bronze_dirs_read",
          (dirCount("media") + dirCount("visitors")).toDouble)
        ledger.note("events_in", truth.events.toDouble)
        val res = Pipeline.transform(spark, conf)
        reports = res.qualityReports
        ledger.note("fact_rows", num(reports("fact")("total_rows")))
      }
      ledger.span("report") {
        RunReport.write(spark, s"$silver/_run_report.json", truth.runTs.toString,
          "success", reports,
          reports.map { case (f, ms) => f -> ms.keySet.filter(_.startsWith("expect_")) })
      }
      ledger.span("gold") {
        val fact = Transforms.goldCastFact(spark.read.parquet(s"$silver/fact-engagement"))
        Sources.writeGoldJdbc(fact, goldUrl, goldTable, "", "")
        // the whole fact is rewritten; its size is silver's own count
        ledger.note("rows", num(reports("fact")("total_rows")))
      }
      ledger.span("kpi") { kpi = kpis() }
      ledger.note("gc_ns", (Jvm.gcNanos() - gc0).toDouble)
    }
    spark.catalog.clearCache()

    () => {
      val wrong = scala.collection.mutable.ArrayBuffer[String]()
      if (!committed) wrong += "ingest did not commit its watermark"
      def expect(what: String, got: Long, want: Long): Unit =
        if (got != want) wrong += s"$what: got $got, want $want"
      expect("silver fact rows", num(reports("fact")("total_rows")).toLong, truth.groups)
      expect("quarantined fact rows",
        num(reports("fact_quarantine")("total_rows")).toLong, 0L)
      expect("K1 total plays", math.round(kpi("K1").head.getDouble(0)), truth.plays)
      expect("K11 unique visitors", kpi("K11").head.getLong(0), truth.visitors)
      wrong.toSeq
    }
  }

  /** What the last refresh left: the gold rows, read back over JDBC, and
    * the run report's status. */
  def readBack(truth: Truth): Seq[String] = {
    val wrong = scala.collection.mutable.ArrayBuffer[String]()
    val goldRows = Gold.count(goldUrl, goldTable)
    if (goldRows != truth.groups) wrong += s"gold rows: got $goldRows, want ${truth.groups}"
    val report = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$silver/_run_report.json")), "UTF-8")
    if (!report.contains("\"status\":\"success\""))
      wrong += "run report status is not success"
    if (!report.contains("\"contracts_status\":\"pass\""))
      wrong += "run report contracts failed"
    wrong.toSeq
  }

  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue
    case other => sys.error(s"not a number: $other")
  }

  /** K1–K11 over the silver parquet. Traced, each KPI's physical plan is
    * forced first (span `kpi.plan`) and then executed (`kpi.exec`). */
  private def kpis(): Map[String, Array[org.apache.spark.sql.Row]] = {
    val fact = spark.read.parquet(s"$silver/fact-engagement")
    val dimMedia = spark.read.parquet(s"$silver/dim-media")
    val dimVisitor = spark.read.parquet(s"$silver/dim-visitor")
    val perf = Kpi.videoPerformance(fact, dimMedia, "media_id", "title",
      "play_count", "avg_percent_watched", "total_watch_time_seconds")
    Seq(
      "K1" -> Kpi.totalPlays(fact, "play_count"),
      "K2" -> Kpi.avgCompletion(fact, "avg_percent_watched"),
      "K3" -> Kpi.totalWatchHours(fact, "total_watch_time_seconds"),
      "K4" -> Kpi.engagementRate(fact, "play_count", "visitor_id"),
      "K5" -> Kpi.videosByChannel(dimMedia, "channel"),
      "K6" -> Kpi.dailyTrend(fact, "date", "play_count"),
      "K7" -> perf,
      "K8" -> Kpi.topVideos(perf),
      "K9" -> Kpi.byCountry(fact, dimVisitor, "visitor_id", "country",
        "play_count", "visitor_id"),
      "K10" -> Kpi.newVsReturning(fact, "visitor_id", "date"),
      "K11" -> Kpi.uniqueVisitors(fact, "visitor_id")
    ).map { case (k, df) =>
      if (ledger.traced) ledger.span("kpi.plan")(df.queryExecution.executedPlan)
      k -> ledger.span("kpi.exec")(df.collect())
    }.toMap
  }
}

/** The gold sink: an embedded in-memory Derby database per root. */
object Gold {
  def url(name: String): String = s"jdbc:derby:memory:$name;create=true"

  def count(url: String, table: String): Long = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }

  def drop(url: String): Unit =
    try java.sql.DriverManager.getConnection(
      url.replace(";create=true", ";drop=true")).close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop by throwing
}
