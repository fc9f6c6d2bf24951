package graft.ingest

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.sources.ControlFile

/** Bronze-layer ingestion: fetcher abstraction with retry/backoff,
  * incremental watermark, JSON bronze writes.
  *
  * Mirrors `wistia-Databricks notebool-02.py` semantics with the HTTP
  * client behind a trait so tests (and this zero-egress environment)
  * inject canned JSON. The watermark is the reference's plain-JSON
  * singleton (nb02:190-213) — kept as-is for parity.
  */
object Ingest {

  /** Pluggable page fetcher (reference: GET stats/medias/{id}.json and
    * …/visitors.json with per_page=100, page cap 100; nb02:141-168).
    * [[graft.Pipeline.ingest]] calls `fetchPage` concurrently for
    * distinct media ids, and in page order within one id, so an
    * implementation that keeps state across calls must be
    * thread-safe. */
  trait Fetcher {
    /** One page of results; None when the API 404s or pages exhaust.
      * `since` is the incremental watermark (ISO-8601): when set, the
      * fetcher asks the API only for rows newer than it (the
      * reference's `since=last_run_date` query param, nb02:247). */
    def fetchPage(mediaId: String, endpoint: String, page: Int,
                  since: Option[String] = None): Option[String]
  }

  /** S1 PRODUCTION fetcher: [[Fetcher]] over `java.net.http.HttpClient`
    * (JDK built-in — no extra dependency), mirroring the reference's
    * `requests.get` loop (nb02:105–168):
    *
    *   - `media` endpoint → `GET {base}/{id}.json` — the single-doc
    *     media-stats call (nb02:128–139): page 1 returns the doc, any
    *     later page is end-of-pages (the reference never paginates it).
    *   - any other endpoint → `GET {base}/{id}/{endpoint}.json?page=N&
    *     per_page=100[&since=…]` (nb02:141–168, since=nb02:247).
    *   - 200 with an empty JSON array body → None (the reference's
    *     `if not visitors: break`); any other 200 body passes through
    *     verbatim (a top-level array is fine — `readBronzeJson`
    *     explodes it into rows).
    *   - 429 → [[RateLimited]]: the RETRY POLICY stays in [[withRetry]]
    *     (same (2^attempt)*5 s schedule as nb02:112–116), so this class
    *     never sleeps and the backoff stays injectable for tests.
    *   - 404 and other 4xx → [[NotFound]] (permanent; nb02:117–119).
    *   - 5xx and transport `IOException` → [[RateLimited]] (transient,
    *     retried with backoff). DELIBERATE deviation from the reference,
    *     which swallows these as a silent `break` (nb02:120–126) — that
    *     turns "server briefly down" into "no more data" and lets the
    *     watermark commit past pages never seen. Here exhaustion throws
    *     [[RetriesExhausted]] and [[graft.Pipeline.ingest]] holds the
    *     watermark.
    *
    * Driver-side by design, like the reference: volume is bounded
    * (≤100 pages × 100 rows per media id); the heavy path is the files. */
  final class HttpFetcher(baseUrl: String, apiToken: String,
                          perPage: Int = 100,
                          timeout: java.time.Duration =
                            java.time.Duration.ofSeconds(30),
                          client: java.net.http.HttpClient =
                            java.net.http.HttpClient.newBuilder()
                              .followRedirects(
                                java.net.http.HttpClient.Redirect.NORMAL)
                              .build())
      extends Fetcher {
    import java.net.http.{HttpRequest, HttpResponse}

    private def enc(s: String): String =
      java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

    def fetchPage(mediaId: String, endpoint: String, page: Int,
                  since: Option[String] = None): Option[String] = {
      val uri =
        if (endpoint == "media") {
          if (page > 1) return None // single-doc endpoint: one "page"
          s"$baseUrl/${enc(mediaId)}.json"
        } else
          s"$baseUrl/${enc(mediaId)}/${enc(endpoint)}.json" +
            s"?page=$page&per_page=$perPage" +
            since.map(s => s"&since=${enc(s)}").getOrElse("")
      val req = HttpRequest.newBuilder(java.net.URI.create(uri))
        .timeout(timeout)
        .header("Authorization", s"Bearer $apiToken")
        .GET().build()
      val resp =
        try client.send(req, HttpResponse.BodyHandlers.ofString())
        catch { case _: java.io.IOException => throw new RateLimited }
      resp.statusCode() match {
        case 200 =>
          val body = resp.body()
          if (body == null || body.trim.isEmpty ||
            body.trim.replaceAll("\\s", "") == "[]") None
          else Some(body)
        case 429 => throw new RateLimited
        case s if s >= 500 => throw new RateLimited
        // 3xx: the default client follows redirects (NORMAL above), so
        // one arriving here means a redirect the client would not
        // follow (loop, https->http downgrade, disabled client).
        // Treating it as NotFound would read as a permanent
        // end-of-pages and silently truncate ingestion — exactly the
        // reference's silent `break` this class exists to fix.
        // Retryable instead: exhaustion throws RetriesExhausted and
        // the watermark holds.
        case s if s >= 300 && s < 400 => throw new RateLimited
        case _ => throw new NotFound
      }
    }
  }

  /** Retry/backoff policy of nb02:105-126: up to `maxRetries` attempts,
    * rate-limit (Retryable) → exponential backoff (2^attempt)*baseDelayMs,
    * not-found → give up immediately (None — the normal end-of-pages
    * signal). Exhausting every retry is NOT end-of-pages: it throws
    * [[RetriesExhausted]] so callers can distinguish "no more data"
    * from "data exists but could not be fetched" — conflating the two
    * would let an incremental run commit its watermark past pages it
    * never saw (permanent skip). Sleeps are injectable for tests.
    */
  final class RateLimited extends RuntimeException("429")
  final class NotFound extends RuntimeException("404")
  final class RetriesExhausted(cause: Throwable)
    extends RuntimeException("retries exhausted", cause)

  def withRetry[T](maxRetries: Int = 3, baseDelayMs: Long = 5000,
                   sleep: Long => Unit = Thread.sleep)(f: => T): Option[T] = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxRetries) {
      try return Some(f)
      catch {
        case _: NotFound => return None
        case e: RateLimited =>
          last = e
          attempt += 1
          // back off only when another attempt remains — sleeping after
          // the final failure would stall the caller for the longest
          // delay of the schedule just to then throw
          if (attempt < maxRetries) sleep((1L << (attempt - 1)) * baseDelayMs)
      }
    }
    throw new RetriesExhausted(last)
  }

  /** Paginated pull of all pages for one media id (page cap = reference's
    * 100-page guard, nb02:148-167). Driver-side by design: volume is
    * bounded (≤100 pages × 100 rows); the heavy path is the files, not
    * the API. Throws [[RetriesExhausted]] if any page fetch burns all
    * its retries — the caller must then NOT advance the watermark
    * (pages past the failure were never seen). `sleep` is injectable
    * for tests. */
  def fetchAllPages(fetcher: Fetcher, mediaId: String, endpoint: String,
                    pageCap: Int = 100,
                    since: Option[String] = None,
                    sleep: Long => Unit = Thread.sleep): Seq[String] =
    Iterator.from(1).take(pageCap)
      .map(p =>
        withRetry(sleep = sleep)(
          fetcher.fetchPage(mediaId, endpoint, p, since)).flatten)
      .takeWhile(_.isDefined).flatten.toSeq

  /** Bronze landing (nb02:170-188): the fetched docs as one JSON-lines
    * `part-00000.json` in the dir at `path`, replacing whatever the
    * dir held (the reference's overwrite). The file goes through
    * [[graft.sources.ControlFile.replace]] on the driver, so a reader
    * sees the whole page set or none of it, and landing a few-KB page
    * set costs no Spark job. The schema applies on read
    * ([[graft.sources.Sources.readBronzeJson]]): sparse docs read as
    * nulls, unknown fields are dropped and a top-level array is one
    * row per element, as when the docs went through a Spark JSON
    * write. */
  def writeBronzeJson(spark: SparkSession, docs: Seq[String],
                      path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    graft.sources.Sources.fileSystem(spark, dir).delete(dir, true)
    ControlFile.replace(spark, s"$path/part-00000.json",
      docs.map(oneLine).mkString("", "\n", "\n"))
  }

  /** `doc` on one line. A doc that parses is re-serialized compactly:
    * a file read keeps the text of a non-string value read into a
    * string column exactly (`1.5e3`, an object with its spaces), and
    * the compact form is the text the Spark JSON write gave it
    * (`1500.0`, no spaces), so it reads back the same. A doc that does
    * not parse lands verbatim with every CR and LF made a tab:
    * whitespace between tokens and, like a raw newline, an illegal
    * control character inside a string, so it stays as malformed. */
  private def oneLine(doc: String): String =
    try json.writeValueAsString(json.readTree(doc))
    catch {
      case _: com.fasterxml.jackson.core.JacksonException =>
        doc.map { case '\r' | '\n' => '\t'; case c => c }
    }

  // --- Incremental watermark (nb02:190-213) ---------------------------

  /** Read the last successful run timestamp; absent/malformed → default
    * lookback (reference default 7 days). Returns ISO-8601 string.
    * Read on the driver through [[graft.sources.ControlFile]] (no
    * Spark job); a legacy Spark-written directory reads from its
    * part file. */
  def readWatermark(spark: SparkSession, metaPath: String,
                    lookbackDays: Int = 7,
                    now: java.time.Instant = java.time.Instant.now())
  : String = {
    val default = now.minus(java.time.Duration.ofDays(lookbackDays))
      .toString
    try ControlFile.read(spark, metaPath)
      .flatMap(_.linesIterator.find(_.trim.nonEmpty))
      .flatMap(line => Option(json.readTree(line).path("timestamp")
        .textValue()))
      .getOrElse(default)
    catch { case _: Exception => default }
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Commit the watermark: {timestamp, status: "success"}
    * (nb02:204-213), replaced atomically by [[graft.sources.ControlFile]].
    * A lost watermark is not safe: readWatermark's lookback default
    * would re-fetch windows whose bronze dirs from COMMITTED runs
    * still exist, and the transform would double-count them. */
  def commitWatermark(spark: SparkSession, metaPath: String,
                      timestamp: String): Unit =
    ControlFile.replace(spark, metaPath,
      s"""{"timestamp":"$timestamp","status":"success"}""" + "\n")

  /** Health check (nb01:96-123): write/read round-trip under the target
    * path; returns the row count read back. */
  def healthCheck(spark: SparkSession, path: String): Long = {
    import spark.implicits._
    Seq(("ok", 1L)).toDF("status", "n")
      .write.mode(SaveMode.Overwrite).json(path)
    spark.read.json(path).count()
  }
}
