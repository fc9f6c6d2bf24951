package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.Instant

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A seeded, in-process stand-in for the Wistia stats API.
  *
  * Serves `/{id}.json` (one media doc) and
  * `/{id}/visitors.json?page&per_page&since` (pages of visitor records
  * with their `events` arrays), the wire format `Ingest.HttpFetcher`
  * speaks. Every visitor record belongs to a batch with a publish time;
  * a request sees the records published after `since` and no later than
  * the server's current clock, so an incremental run fetches only its
  * delta.
  *
  * The generator keeps the ground truth as it goes: play events,
  * distinct visitors with a play, and the (media, visitor, date) groups
  * the silver fact must hold, cumulative over every published batch. */
final class WistiaApi(seed: Long, val mediaIds: IndexedSeq[String]) {

  private val rnd = new scala.util.Random(seed)
  private val countries = IndexedSeq("US", "DE", "IN", "BR", "GB", "FR", "JP")
  private val channels = IndexedSeq("on Facebook", "on YouTube",
    "on Instagram", "webinar", "product tour")

  private final case class Record(published: Instant, json: String)

  private val records =
    mediaIds.map(_ -> scala.collection.mutable.ArrayBuffer[Record]()).toMap
  @volatile private var clock: Instant = Instant.EPOCH

  // ground truth, cumulative over every batch generated so far
  private val groups = scala.collection.mutable.HashSet[(String, String, Long)]()
  private val playVisitors = scala.collection.mutable.HashSet[String]()
  private var plays = 0L
  private var events = 0L

  def truePlays: Long = plays
  def trueVisitors: Long = playVisitors.size.toLong
  def trueGroups: Long = groups.size.toLong
  def eventsGenerated: Long = events

  /** The server answers as of `now`: later batches stay invisible. */
  def advanceClock(now: Instant): Unit = clock = now

  /** One batch: `pages` × `perPage` visitor records per media id, each
    * with `eventsPerVisitor` events timed in `[from, to)` and published
    * at `published`. Visitor keys are drawn from a pool, so a visitor
    * recurs across media and pages. */
  def addBatch(published: Instant, from: Instant, to: Instant, pages: Int,
               perPage: Int, eventsPerVisitor: Int, visitorPool: Int): Unit = {
    val span = math.max(1L, to.getEpochSecond - from.getEpochSecond)
    mediaIds.foreach { m =>
      val buf = records(m)
      (0 until pages * perPage).foreach { _ =>
        val v = s"v${rnd.nextInt(visitorPool)}"
        val sb = new StringBuilder(64 + eventsPerVisitor * 90)
        sb.append("{\"visitor_key\":\"").append(v)
          .append("\",\"ip_address\":\"10.").append(rnd.nextInt(256))
          .append('.').append(rnd.nextInt(256)).append(".1\",\"country\":\"")
          .append(countries(rnd.nextInt(countries.size)))
          .append("\",\"events\":[")
        (0 until eventsPerVisitor).foreach { k =>
          val t = from.getEpochSecond + (rnd.nextLong() & Long.MaxValue) % span
          val kind = rnd.nextInt(10) match {
            case x if x < 6 => "play"
            case x if x < 8 => "pause"
            case _ => "end"
          }
          if (k > 0) sb.append(',')
          sb.append("{\"type\":\"").append(kind).append("\",\"time\":")
            .append(t).append(",\"duration_watched\":\"")
            .append(rnd.nextInt(600)).append('.').append(rnd.nextInt(100))
            .append("\",\"percent_watched\":\"").append(rnd.nextInt(101))
            .append("\"}")
          events += 1
          if (kind == "play") {
            plays += 1
            playVisitors += v
            groups += ((m, v, Math.floorDiv(t, 86400L)))
          }
        }
        sb.append("]}")
        buf += Record(published, sb.toString)
      }
    }
  }

  private def mediaDoc(m: String): String = {
    val i = mediaIds.indexOf(m)
    s"""{"hashed_id":"$m","name":"Episode $i ${channels(i % channels.size)}",""" +
      s""""created":${1700000000L + i * 3600L},"duration":${60 + i},""" +
      s""""play_count":${i * 7}}"""
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length.toLong)
    if (b.nonEmpty) ex.getResponseBody.write(b)
  }

  private def param(query: String, key: String): Option[String] =
    Option(query).toSeq.flatMap(_.split('&')).collectFirst {
      case kv if kv.startsWith(key + "=") =>
        java.net.URLDecoder.decode(kv.drop(key.length + 1),
          StandardCharsets.UTF_8)
    }

  private val VisitorsPath = "^/v1/stats/([a-z0-9]+)/visitors\\.json$".r
  private val MediaPath = "^/v1/stats/([a-z0-9]+)\\.json$".r

  private def handle(ex: HttpExchange): Unit = {
    val q = ex.getRequestURI.getRawQuery
    ex.getRequestURI.getPath match {
      case MediaPath(m) if records.contains(m) => respond(ex, 200, mediaDoc(m))
      case VisitorsPath(m) if records.contains(m) =>
        val page = param(q, "page").map(_.toInt).getOrElse(1)
        val perPage = param(q, "per_page").map(_.toInt).getOrElse(100)
        val since = param(q, "since").map(Instant.parse).getOrElse(Instant.EPOCH)
        val now = clock
        val visible = records(m).iterator
          .filter(r => r.published.isAfter(since) && !r.published.isAfter(now))
          .slice((page - 1) * perPage, page * perPage)
          .map(_.json)
        respond(ex, 200, visible.mkString("[", ",", "]"))
      case _ => respond(ex, 404, "{\"error\":\"not found\"}")
    }
  }

  /** Start serving on an ephemeral loopback port; returns the stats base
    * URL. Two daemon handler threads, so a forgotten stop can never
    * keep the JVM alive. */
  def start(): Server = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "perfbench-wistia-api")
      t.setDaemon(true)
      t
    })
    server.createContext("/", (ex: HttpExchange) =>
      try handle(ex)
      catch { case e: Throwable =>
        try respond(ex, 500, e.toString) catch { case _: Throwable => () }
      } finally ex.close())
    server.setExecutor(pool)
    server.start()
    Server(server, pool,
      s"http://127.0.0.1:${server.getAddress.getPort}/v1/stats")
  }

  final case class Server(http: HttpServer,
                          pool: java.util.concurrent.ExecutorService,
                          baseUrl: String) extends AutoCloseable {
    def close(): Unit = {
      http.stop(0)
      pool.shutdownNow()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    }
  }
}

object WistiaApi {
  /** Lower-case alphanumeric ids, so the bronze dir names match the
    * silver layer's lineage regexps. */
  def mediaIds(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new scala.util.Random(seed ^ 0x5eedL)
    (0 until n).map(i => f"m$i%03d${r.alphanumeric.filter(c =>
      c.isDigit || c.isLower).take(6).mkString}")
  }
}
