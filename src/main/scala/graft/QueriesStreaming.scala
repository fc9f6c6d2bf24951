package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Qdsl._

/** Registry part 5 — Structured Streaming: watermarked daily
  * engagement, session windows, and stream-stream attribution joins,
  * each oracled against its batch twin. */
private[graft] object QueriesStreaming {

  /** One sentinel-staged streaming input PER SOURCE DIR, shared by
    * every bounded-replay streaming query (daily engagement, sessions,
    * both attribution joins, and the watermarked dedup): the events
    * file(s) OS-copied next to a one-file parquet of
    * two far-future sentinel rows (user -1, ts = max + 30 days, one per
    * attribution branch). The sentinels advance the event-time
    * watermark past every real session/join window so bounded replays
    * flush what a production stream would emit as time advances; every
    * consumer filters `user_id >= 0` so they never reach a result.
    * Staging once instead of per-query saves two max(ts) scans, a
    * sentinel write, and a full set of input file copies per bench run
    * (~1.5-2 s at sf0.1 — the same harness trim that took
    * stream_sessions from 3.9 to 3.0 s in round 4). */
  private final case class Staged(inDir: String, schema: StructType)
  private val stagedInputs = Scratch.memo[String, Staged]()
  private def stagedInput(s: SparkSession, dir: String): Staged =
    stagedInputs(dir) {
      val rawSchema = s.read.parquet(s"$dir/events.parquet").schema
      // far-future sentinel ts = max(ts) + 30 days, built in whatever
      // physical type the source shipped (nanos-as-long or micros ntz)
      // so the sentinel file unions cleanly with the copied source
      // files. 30 days, not 10: the GLOBAL watermark is the min over
      // both sides' watermark operators, so a join whose lagging side
      // carries a windowDays+1 delay sees sentinel − (window+1) — the
      // horizon must clear max(ts) + window + the largest delay, or
      // the tail of the full-outer join's unmatched rows never evicts
      val sentinelTs: Any = s.read.parquet(s"$dir/events.parquet")
        .agg(max(col("ts"))).head().get(0) match {
          case n: java.lang.Long => n + 30L * 86400 * 1000000000L
          case t: java.time.LocalDateTime => t.plusDays(30)
          case t: java.sql.Timestamp =>
            java.sql.Timestamp.from(t.toInstant.plusSeconds(30L * 86400))
          // TimestampType surfaces as Instant when
          // spark.sql.datetime.java8API.enabled=true
          case i: java.time.Instant => i.plusSeconds(30L * 86400)
        }
      val root = Scratch.dir("graft_stream_in")
      def sentinelRow(eventType: String) =
        org.apache.spark.sql.Row.fromSeq(rawSchema.fields.toSeq.map {
          f => f.name match {
            case "user_id" => -1L
            case "event_type" => eventType
            case "ts" => sentinelTs
            case _ => null
          }
        })
      val sentinels = s.createDataFrame(
        java.util.Arrays.asList(sentinelRow("purchase"),
          sentinelRow("signup")), rawSchema)
      sentinels.coalesce(1).write.parquet(s"$root/in")
      val src = new java.io.File(s"$dir/events.parquet")
      val files = // rehearsal layouts split the table into a dir
        if (src.isDirectory)
          src.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(src)
      files.foreach(f => java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$root/in/src_${f.getName}")))
      Staged(s"$root/in", rawSchema)
    }

  /** The bounded replay every sentinel-aware streaming row reads: the
    * [[stagedInput]] as a file stream, ts normalized. */
  private def replay(s: SparkSession, dir: String): DataFrame = {
    val staged = stagedInput(s, dir)
    s.readStream.schema(staged.schema).parquet(staged.inDir)
      .transform(normalizeTs)
  }

  /** Drain `df` into a parquet append sink at `$root/out` (checkpoint
    * `$root/ckpt`) with one AvailableNow run, then read the sink. */
  private def appendAvailableNow(df: DataFrame, root: String): DataFrame = {
    df.writeStream.outputMode("append").format("parquet")
      .option("path", s"$root/out")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    df.sparkSession.read.parquet(s"$root/out")
  }

  /** Shared session-conf scope for every streaming query: shuffle
    * partitions sized to the STATE KEY CARDINALITY (state-store
    * instances scale with shuffle partitions — default 4 for the
    * tiny-key oracle fixtures; `SPARK_GRAFT_STREAM_PARTS` overrides,
    * because the key-growth rehearsal measured session-window state
    * merge at 18.6× on 10× keys when 150k users funneled through 4
    * state partitions, and 32 partitions bought the linear path back
    * — at 100 TB this is the `spark.sql.shuffle.partitions` the
    * streaming job is SUBMITTED with, sized like any stateful shuffle),
    * and — when `SPARK_GRAFT_ROCKSDB=1` — the RocksDB state store
    * provider, the backend that keeps 100 TB-scale streaming state
    * (dedup keys, open sessions, join buffers) on executor-local disk
    * + off-heap instead of the JVM heap, with incremental-checkpoint
    * commits. Query RESULTS are provider- and partition-independent
    * (the oracle suite passes under any setting — the knobs exist so
    * the scale rehearsal can measure the backends); both confs are
    * restored on exit, so a failed stream cannot leak session state
    * into the batch queries. */
  private def withStreamConf[T](s: SparkSession)(body: => T): T =
    Session.withConf(s, "spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4")) {
      if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
        Session.withConf(s, StateStoreProviderKey, RocksDbProvider)(body)
      else body
    }

  private val StateStoreProviderKey =
    "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // ======================================================================
  // Streaming: the daily engagement aggregate over a bounded stream,
  // oracle = the equivalent batch SQL (stream/batch parity).
  // ======================================================================

  private[graft] val streamDaily = Q("stream_daily_engagement",
    (s, dir) => {
      // the shared staged input (not pathGlobFilter over the source
      // dir: a glob on the FILE name silently matches nothing when the
      // table is a directory of part files, as rehearsal layouts are —
      // the 10x pass was streaming an empty input)
      withStreamConf(s) {
        val stream = replay(s, dir)
        val agg = stream
          .withWatermark("ts", "1 day")
          .filter(col("event_type") === "purchase")
          .groupBy(window(col("ts"), "1 day").as("day"),
            col("user_id"))
          .agg(count(lit(1)).as("play_count"))
        // update mode + foreachBatch merge-upsert: each batch rewrites
        // only the date partitions it touches, state holds only keys in
        // the watermark horizon — the pattern that survives an unbounded
        // stream (a complete-mode memory sink would retain the whole
        // result in state AND collect it to the driver).
        val root = Scratch.dir("graft_stream_daily")
        graft.stream.StreamingFact.upsertToSilver(
          s, agg, s"$root/fact", s"$root/ckpt", keyCols = Seq("user_id"))
        s.read.parquet(s"$root/fact")
          .filter(col("user_id") >= 0) // shared watermark sentinels
          .select(col("date"), col("user_id"), col("play_count"))
          .orderBy("date", "user_id")
      }
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS date, user_id,
      COUNT(*) AS play_count
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2 ORDER BY 1, 2"""))


  /** Streaming anomaly feed — the production shape of
    * [[QueriesRelational.anomalyZscore]]: the STREAM maintains the
    * per-type daily-count store (watermarked tumbling windows,
    * update-mode merge-upsert, state bounded by the watermark horizon),
    * and the trailing 28-day z-score runs over the STORE on read — the
    * detector's baseline does NOT live in stream state, because a
    * 28-day lookback inside the state store would pin four weeks of
    * keys against a 1-day watermark. Sentinel handling follows
    * [[streamSlidingCounts]]: the far-future sentinels must flow INTO
    * the aggregate to advance event time (a pre-agg filter gets pushed
    * below the watermark node), so real rows are counted conditionally
    * and the sentinels' zero-count far-future groups drop on the way
    * out. Oracle = the batch z-score SQL verbatim: the stream-
    * maintained store must equal the batch daily aggregate exactly. */
  private[graft] val streamAnomaly = Q("stream_anomaly",
    (s, dir) => {
      withStreamConf(s) {
        val stream = replay(s, dir)
        val agg = stream
          .withWatermark("ts", "1 day")
          .groupBy(window(col("ts"), "1 day").as("day"),
            col("event_type"))
          .agg(count(when(col("user_id") >= 0, 1)).as("n"))
        val root = Scratch.dir("graft_stream_anomaly")
        graft.stream.StreamingFact.upsertToSilver(
          s, agg, s"$root/fact", s"$root/ckpt",
          keyCols = Seq("event_type"))
        val daily = s.read.parquet(s"$root/fact")
          .filter(col("n") > 0) // sentinel-only far-future groups
          .select(col("event_type"), col("date"), col("n"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("date")).rowsBetween(-28, -1)
        val withSums = daily.select(col("event_type"), col("date"),
          col("n"),
          sum(col("n")).over(w).cast("double").as("s1"),
          sum(col("n") * col("n")).over(w).cast("double").as("s2"),
          count(col("n")).over(w).cast("double").as("m"))
          .filter(col("m") >= 8)
        val variance = (col("s2") - col("s1") * col("s1") / col("m")) /
          (col("m") - lit(1.0))
        val z = when(variance > 0,
          round((col("n").cast("double") - col("s1") / col("m")) /
            sqrt(variance), 6))
        withSums
          .select(col("event_type"), col("date"), col("n"),
            z.as("z"), (abs(coalesce(z, lit(0.0))) > 3.0).as("is_anomaly"))
          .orderBy("event_type", "date")
      }
    },
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS date,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      win AS (
        SELECT event_type, date, n,
          CAST(SUM(n) OVER f AS DOUBLE) AS s1,
          CAST(SUM(n * n) OVER f AS DOUBLE) AS s2,
          CAST(COUNT(n) OVER f AS DOUBLE) AS m
        FROM daily
        WINDOW f AS (PARTITION BY event_type ORDER BY date
          ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
      SELECT event_type, date, n,
        CASE WHEN (s2 - s1 * s1 / m) / (m - 1.0) > 0
          THEN ROUND((CAST(n AS DOUBLE) - s1 / m) /
            SQRT((s2 - s1 * s1 / m) / (m - 1.0)), 6) END AS z,
        ABS(COALESCE(CASE WHEN (s2 - s1 * s1 / m) / (m - 1.0) > 0
          THEN ROUND((CAST(n AS DOUBLE) - s1 / m) /
            SQRT((s2 - s1 * s1 / m) / (m - 1.0)), 6) END, 0.0)) > 3.0
          AS is_anomaly
      FROM win WHERE m >= 8 ORDER BY event_type, date"""))

  /** SLIDING event-time windows (1-day window, 12-hour slide) — the
    * overlapping-window shape the tumbling `stream_daily_engagement`
    * can't express: every purchase lands in exactly TWO windows
    * (window/slide = 2), which is also how the batch oracle replays it
    * (each event UNION ALLs into its 12h-grid window start and the one
    * before). Sentinel handling is the subtle part, found the hard way:
    * a pre-aggregation `user_id >= 0` filter gets PUSHED BELOW the
    * watermark node by the optimizer, so the far-future sentinels were
    * dropped before advancing event time and the final day's windows
    * never flushed. Instead the purchase sentinel flows INTO the
    * aggregate (advancing the watermark), the count is conditional on
    * real rows (`count(when(user_id >= 0))`), and the sentinel's own
    * far-future windows — the only zero-count groups possible — are
    * dropped on the way out. State is one count per open window in the
    * horizon — bounded by the window grid, not the stream. */
  private[graft] val streamSlidingCounts = Q("stream_sliding_counts",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_sliding")
        val stream = replay(s, dir)
          .select(col("user_id"), col("ts"), col("event_type"))
          .withWatermark("ts", "1 day")
          .filter(col("event_type") === "purchase") // sentinel passes
        val agg = stream
          .groupBy(window(col("ts"), "1 day", "12 hours"))
          .agg(count(when(col("user_id") >= 0, 1)).as("n_purchases"))
        appendAvailableNow(agg, root)
          .filter(col("n_purchases") > 0) // sentinel-only windows
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("n_purchases"))
          .orderBy("window_start_us")
      }
    },
    Some("""WITH p AS (SELECT epoch_us(ts) AS ts_us FROM events
        WHERE event_type = 'purchase'),
      w AS (
        SELECT (ts_us // 43200000000) * 43200000000 AS window_start_us
        FROM p
        UNION ALL
        SELECT (ts_us // 43200000000) * 43200000000 - 43200000000
        FROM p)
      SELECT window_start_us, COUNT(*) AS n_purchases
      FROM w GROUP BY 1 ORDER BY 1"""))

  /** Windowed top-N in streaming — the trending-now query: per 6-hour
    * tumbling window, the 2 most frequent event types. The RANKING
    * cannot run inside the streaming query (no window functions over a
    * streaming aggregate), so the plan is the production pattern: the
    * stream maintains the per-(window, type) counts — state bounded by
    * the window grid × type domain, not the stream — and the rank runs
    * over the appended sink, where each window's counts are final once
    * the watermark closes it. Sentinels follow stream_sliding_counts'
    * rule: they flow INTO the aggregate to advance event time, real
    * rows are counted conditionally, and the sentinel-only zero-count
    * groups drop on the way out. Oracle = the batch twin over the same
    * events. */
  private[graft] val streamTopk = Q("stream_topk",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_topk")
        val stream = replay(s, dir)
          .select(col("user_id"), col("ts"),
            coalesce(col("event_type"), lit("(none)")).as("event_type"))
          .withWatermark("ts", "1 day")
        val agg = stream
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(when(col("user_id") >= 0, 1)).as("n"))
        val sunk = appendAvailableNow(agg, root).filter(col("n") > 0)
        val w = Window.partitionBy(col("window.start"))
          .orderBy(col("n").desc, col("event_type"))
        sunk.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 2)
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("rank"), col("event_type"), col("n"))
          .orderBy("window_start_us", "rank")
      }
    },
    Some("""WITH c AS (SELECT
        (epoch_us(ts) // 21600000000) * 21600000000 AS window_start_us,
        COALESCE(event_type, '(none)') AS event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
      SELECT window_start_us, rank, event_type, n FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start_us
          ORDER BY n DESC, event_type) AS BIGINT) AS rank FROM c)
      WHERE rank <= 2 ORDER BY window_start_us, rank"""))

  /** Event-time session windows over the same bounded stream — the
    * strongest check the streaming path can have: the oracle is the
    * BATCH sessionization SQL (session_batch re-keyed to window
    * bounds), so stream/batch parity is hash-verified row by row.
    * session_window closes a session at last_event + gap with an
    * EXCLUSIVE end, so an event exactly one gap after its predecessor
    * starts a new session — hence >= in this oracle's gap test where
    * the lag/cumsum batch twin uses >. The shared [[stagedInput]]
    * input's far-future sentinels (user -1, filtered from the output)
    * advance the event-time watermark past every real session's close:
    * a production stream flushes as new events arrive; a bounded
    * replay needs the nudge. */
  private[graft] val streamSessions = Q("stream_sessions",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_sess")
        val stream = replay(s, dir)
          .select(col("user_id"), col("ts"))
        val sess = graft.stream.StreamingFact.sessionWindows(
          stream, "ts", "user_id")
        appendAvailableNow(sess, root)
          .filter(col("user_id") >= 0)
          .select(col("user_id"),
            unix_micros(col("session_start")).as("session_start_us"),
            unix_micros(col("session_end")).as("session_end_us"),
            col("n_events"))
          .orderBy("user_id", "session_start_us")
      }
    },
    Some("""SELECT user_id, MIN(ts_us) AS session_start_us,
      MAX(ts_us) + 1800 * 1000000 AS session_end_us,
      COUNT(*) AS n_events
      FROM (
        SELECT user_id, ts_us,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
        FROM (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
            CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
              PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              >= 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
          FROM events))
      GROUP BY user_id, session_id ORDER BY 1, 2"""))

  /** The [[graft.stream.StreamingFact.sessionizeTws]] sessionizer —
    * Spark 4's `transformWithState` arbitrary-state API (typed
    * ValueState + explicit timers) — run end-to-end over the staged
    * replay and oracled against the batch sessionization SQL, the same
    * stream/batch-parity bar `stream_sessions` holds. Differences from
    * the `session_window` twin are semantic, not accidental: the
    * processor's gap test is STRICT (> 30 min starts a new session, vs
    * session_window's exclusive-end >=), its session end is the LAST
    * EVENT's time (not last + gap), and its arithmetic runs on
    * epoch-millis (`Timestamp.getTime`) — so the oracle floors event
    * times to millis and mirrors all three. Forces the RocksDB state
    * store for the run: the only provider implementing
    * transformWithState's state layout (restored after, like every
    * stream conf). Sessions still open at end-of-replay (the sentinel
    * user's own) never emit — closed-sessions-only is the operator's
    * contract. */
  private[graft] val streamSessionsTws = Q("stream_sessions_tws",
    (s, dir) => {
      withStreamConf(s) {
        Session.withConf(s, StateStoreProviderKey, RocksDbProvider) {
          import s.implicits._
          val root = Scratch.dir("graft_stream_tws")
          val stream = replay(s, dir)
            .select(col("user_id"), col("ts"),
              // sentinel rows carry null value; Ev.value is a primitive
              coalesce(col("value"), lit(0.0)).as("value"))
            .withWatermark("ts", "1 hour")
            .as[graft.stream.StreamingFact.Ev]
          val sess = graft.stream.StreamingFact.sessionizeTws(s, stream)
          appendAvailableNow(sess.toDF(), root)
            .filter(col("user_id") >= 0) // shared watermark sentinels
            .select(col("user_id"),
              unix_millis(col("session_start")).as("session_start_ms"),
              unix_millis(col("session_end")).as("session_end_ms"),
              col("n_events"))
            .orderBy("user_id", "session_start_ms")
        }
      }
    },
    Some("""SELECT user_id, MIN(ts_ms) AS session_start_ms,
      MAX(ts_ms) AS session_end_ms, COUNT(*) AS n_events
      FROM (
        SELECT user_id, ts_ms,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
        FROM (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
            epoch_us(ts) // 1000 AS ts_ms,
            CASE WHEN epoch_us(ts) // 1000 -
              LAG(epoch_us(ts) // 1000, 1) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              > 1800 * 1000 THEN 1 ELSE 0 END AS new_sess
          FROM events))
      GROUP BY user_id, session_id ORDER BY 1, 2"""))

  /** STREAMING DEDUPLICATION under a watermark
    * (`dropDuplicatesWithinWatermark`): the at-least-once ingestion
    * reality — retries, replayed batches, overlapping API pages —
    * means duplicate events WILL arrive; this operator emits each key
    * exactly once while keeping state only within the watermark
    * horizon (an unbounded-state plain `dropDuplicates` would OOM an
    * unbounded stream). The harness makes the duplication explicit:
    * the staged input unioned with itself, so every event arrives
    * twice in the same replay — the oracle is the UN-doubled batch
    * distinct, proving exactly-once emission. At 100 TB the state is
    * one 8-byte key per event inside the horizon, keyed-partitioned
    * by the dedup column. */
  private[graft] val streamDedup = Q("stream_dedup",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_dedup")
        val stream = replay(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"))
        val doubled = stream.union(stream)
        val deduped = graft.stream.StreamingFact.dedupStream(
          doubled, "ts", Seq("event_id"))
        appendAvailableNow(deduped, root)
          .filter(col("user_id") >= 0) // shared watermark sentinels
          .select(col("user_id"), col("event_id"))
          .orderBy("user_id", "event_id")
      }
    },
    Some("""SELECT user_id, event_id FROM events ORDER BY 1, 2"""))

  /** STREAMING-STATE INTROSPECTION ([[graft.stream.StateInspect]]):
    * run the watermarked dedup to completion, then audit its
    * CHECKPOINT offline with the `state-metadata` and `statestore`
    * batch readers — the way an operator answers "what is this job
    * holding in state" on a production stream without stopping it.
    * The gate pins the invariants that hold under ANY batch split of
    * the bounded replay (exact retained-key counts depend on where
    * AvailableNow cuts batches — eviction trails the watermark by one
    * commit — so they are deliberately NOT pinned):
    *  - the checkpoint advertises exactly one stateful operator, named
    *    `dedupeWithinWatermark`, with one state partition per shuffle
    *    partition of the session that ran it;
    *  - every non-sentinel state key is an event_id that exists in the
    *    input (a state row the input cannot explain = corruption);
    *  - state is non-empty (the final batch's keys cannot have been
    *    evicted yet — the watermark that would evict them commits one
    *    batch later). */
  private[graft] val streamStateInspect = Q("stream_state_inspect",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_state")
        val stream = replay(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"))
        val deduped = graft.stream.StreamingFact.dedupStream(
          stream, "ts", Seq("event_id"))
        appendAvailableNow(deduped, root)
        val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
        val meta = graft.stream.StateInspect
          .stateMetadata(s, s"$root/ckpt")
        val state = graft.stream.StateInspect
          .stateRows(s, s"$root/ckpt")
        val inputIds = s.read.parquet(stagedInput(s, dir).inDir)
          .select(col("event_id")).where(col("event_id").isNotNull)
        val orphanCnt = state
          .select(col("key.event_id").as("event_id"))
          .where(col("event_id").isNotNull) // sentinels carry null ids
          .join(inputIds, Seq("event_id"), "left_anti")
          .agg(count(lit(1)).as("orphan_keys"))
        meta.agg(
            count(when(col("operatorName") =!= "dedupeWithinWatermark",
              1)).as("bad_operator"),
            count(when(col("numPartitions") =!= parts, 1))
              .as("bad_partitions"),
            count(lit(1)).as("n_operators"))
          .crossJoin(state.agg(
            when(count(lit(1)) === 0, 1L).otherwise(0L)
              .as("state_empty")))
          .crossJoin(orphanCnt)
          .select(col("n_operators"), col("bad_operator"),
            col("bad_partitions"), col("state_empty"),
            col("orphan_keys"))
      }
    },
    Some("""SELECT CAST(1 AS BIGINT) AS n_operators,
      CAST(0 AS BIGINT) AS bad_operator,
      CAST(0 AS BIGINT) AS bad_partitions,
      CAST(0 AS BIGINT) AS state_empty,
      CAST(0 AS BIGINT) AS orphan_keys"""))

  /** STREAM-STREAM join (two unbounded sides, state-store buffered,
    * watermark-evicted): purchases ⋈ signups of the same user within 7
    * days, both sides branches of one replayed event stream. Oracle:
    * the identical range join run as batch SQL — stream/batch parity
    * on the full pair set. Inner join emits on arrival; watermarks
    * bound state, so the bounded replay needs no sentinel. */
  private[graft] val streamAttribution = Q("stream_attribution",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_attr")
        val stream = replay(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
        val joined = graft.stream.StreamingFact.attributionJoin(
          stream.filter(col("event_type") === "purchase"),
          stream.filter(col("event_type") === "signup"))
        appendAvailableNow(joined, root)
          // the staged input carries the shared watermark sentinels
          // (user -1); the inner join pairs them up — drop that row
          .filter(col("user_id") >= 0)
          .orderBy("user_id", "purchase_event_id", "signup_event_id")
      }
    },
    Some("""SELECT p.user_id, p.event_id AS purchase_event_id,
      s.event_id AS signup_event_id
      FROM (SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase') p
      JOIN (SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
        AND p.ts < s.ts + INTERVAL 7 DAY
      ORDER BY 1, 2, 3"""))

  /** STREAM-STATIC enrichment
    * ([[graft.stream.StreamingFact.enrichWithDim]]): the event stream
    * left-joined against a broadcast dim table — NO stream-side state
    * at all (Spark re-plans and re-broadcasts the static side per
    * micro-batch, which is also how a slowly-changing dim picks up
    * updates between batches). Stateless, so no watermark and no
    * sentinel mechanics: the oracle is the plain batch LEFT JOIN. */
  private[graft] val streamStaticEnrich = Q("stream_static_enrich",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_enrich")
        val stream = replay(s, dir)
          .select(col("user_id"), col("event_id"))
        val dim = t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        val joined = graft.stream.StreamingFact.enrichWithDim(
          stream, dim, "user_id")
        appendAvailableNow(joined, root)
          .filter(col("user_id") >= 0) // shared staged-input sentinels
          .select(col("event_id"), col("user_id"), col("c_mktsegment"))
          .orderBy("event_id")
      }
    },
    Some("""SELECT e.event_id, e.user_id, c.c_mktsegment
      FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      ORDER BY e.event_id"""))

  /** CHAINED STATEFUL OPERATORS (Spark 4): a stream-stream range join
    * feeding a downstream windowed aggregate in ONE query — daily
    * counts of attributed purchases, both stages state-store-backed
    * with the watermark PROPAGATED through the join to govern the
    * aggregate's window eviction (the multi-stateful pipeline shape
    * Spark only made correct in 3.4+). The sentinel pair (user -1 on
    * both branches, equal timestamps) joins and advances the
    * watermark; its far-future window is the only zero-real-count
    * group and drops on the way out, same pattern as
    * `stream_sliding_counts`. Measured propagation math, pinned here:
    * the aggregate's effective watermark = input watermark MINUS the
    * signup delay MINUS the 7-day join interval — with the
    * `stream_attribution`-style 8-day signup delay that lands 15 days
    * behind the sentinel and the final six daily windows never
    * flushed. Both input delays are 1 day here: chained stateful
    * operators make the LATE-TOLERANCE + JOIN-INTERVAL sum a budget
    * the last stage's emission latency pays — a real design
    * constraint at 100 TB (loose per-input delays compound through
    * every downstream stateful stage). */
  private[graft] val streamAttributionDaily = Q("stream_attribution_daily",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_attr_daily")
        val stream = replay(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
        val p = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"),
            col("event_id").as("purchase_event_id"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "1 day")
          .dropDuplicatesWithinWatermark("purchase_event_id")
        val sg = stream.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user"),
            col("event_id").as("signup_event_id"), col("ts").as("s_ts"))
          .withWatermark("s_ts", "1 day")
          .dropDuplicatesWithinWatermark("signup_event_id")
        val joined = p.join(sg, expr(
          """p_user = s_user AND p_ts >= s_ts AND
             p_ts < s_ts + interval 7 days"""))
        val agg = joined
          .groupBy(window(col("p_ts"), "1 day"))
          .agg(count(when(col("p_user") >= 0, 1)).as("n_attributed"))
        appendAvailableNow(agg, root)
          .filter(col("n_attributed") > 0) // sentinel-only windows
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("n_attributed"))
          .orderBy("window_start_us")
      }
    },
    Some("""WITH j AS (
        SELECT p.user_id, p.ts AS p_ts
        FROM (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND p.ts >= s.ts
          AND p.ts < s.ts + INTERVAL 7 DAY)
      SELECT (epoch_us(p_ts) // 86400000000) * 86400000000
          AS window_start_us,
        COUNT(*) AS n_attributed
      FROM j GROUP BY 1 ORDER BY 1"""))

  /** STREAM-STREAM LEFT OUTER join — the hardest streaming-join
    * semantic: matched pairs emit on arrival, while a never-matched
    * purchase emits (with a null signup side) only when the watermark
    * PROVES no future signup can still match it — i.e. at state
    * eviction. The shared [[stagedInput]] sentinels (user -1, one per
    * branch, filtered from the output) push the watermark past every
    * real purchase's window so the bounded replay flushes the
    * unmatched rows a production stream would emit as time advances.
    * Oracle: the batch LEFT JOIN twin; nulls are coalesced to -1 so
    * the order keys stay non-null. */
  private[graft] val streamAttributionOuter = Q("stream_attribution_outer",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_attr_outer")
        val stream = replay(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
        val joined = graft.stream.StreamingFact.attributionJoin(
          stream.filter(col("event_type") === "purchase"),
          stream.filter(col("event_type") === "signup"),
          joinType = "left_outer")
        appendAvailableNow(joined, root)
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("purchase_event_id"),
            coalesce(col("signup_event_id"), lit(-1L))
              .as("signup_event_id"))
          .orderBy("user_id", "purchase_event_id", "signup_event_id")
      }
    },
    Some("""SELECT p.user_id, p.event_id AS purchase_event_id,
      COALESCE(s.event_id, -1) AS signup_event_id
      FROM (SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
        AND p.ts < s.ts + INTERVAL 7 DAY
      ORDER BY 1, 2, 3"""))

  /** STREAM-STREAM FULL-OUTER join — completes the join matrix
    * ([[streamAttribution]] inner, [[streamAttributionOuter]]
    * left-outer): unmatched purchases AND unmatched signups both
    * emit, each at its own state eviction. A full-outer stream join
    * surfaces BOTH data-quality tails at once — conversions with no
    * attributable signup and signups that never converted — from one
    * state store, where running the two one-sided joins would buffer
    * the inputs twice. The far-future sentinels on both branches push
    * both watermarks past every real row's eviction horizon, so the
    * bounded replay flushes both unmatched sides exactly like an
    * advancing production stream. Oracle: the batch FULL JOIN twin
    * with null keys coalesced to -1 (order keys must be non-null). */
  private[graft] val streamAttributionFull = Q("stream_attribution_full",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_attr_full")
        val stream = replay(s, dir)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
        val joined = graft.stream.StreamingFact.attributionJoin(
          stream.filter(col("event_type") === "purchase"),
          stream.filter(col("event_type") === "signup"),
          joinType = "full_outer")
        appendAvailableNow(joined, root)
          .filter(col("user_id") >= 0)
          .select(col("user_id"),
            coalesce(col("purchase_event_id"), lit(-1L))
              .as("purchase_event_id"),
            coalesce(col("signup_event_id"), lit(-1L))
              .as("signup_event_id"))
          .orderBy("user_id", "purchase_event_id", "signup_event_id")
      }
    },
    Some("""SELECT COALESCE(p.user_id, s.user_id) AS user_id,
      COALESCE(p.event_id, -1) AS purchase_event_id,
      COALESCE(s.event_id, -1) AS signup_event_id
      FROM (SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'purchase') p
      FULL JOIN (SELECT user_id, event_id, ts FROM events
        WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
        AND p.ts < s.ts + INTERVAL 7 DAY
      ORDER BY 1, 2, 3"""))

  /** STREAMING INCREMENTAL MV MAINTENANCE
    * ([[graft.stream.StreamingFact.mergeToMv]]) — the streaming twin
    * of `mv_incremental_daily`, and the third maintenance strategy in
    * the streaming family: [[streamDaily]] keeps windowed agg STATE
    * and upserts changed keys; this keeps NO streaming state at all —
    * each micro-batch (`maxFilesPerTrigger=1` forces a real multi-
    * batch run) folds its partial aggregates into a persisted view
    * under a versioned exactly-once marker (batch id writes `v<id>`
    * from the immutable committed base, then atomically swaps the
    * pointer — replays before or after the swap both converge). No
    * watermark: a view merge handles arbitrarily late data by
    * construction, because counts and exact-decimal sums absorb any
    * batch in any order. State store size: ZERO, at any key
    * cardinality — the trade is per-batch view I/O, priced in
    * SCALE.md. Oracle = the full batch recompute over all events. */
  /** Streaming corpus dedup admission ([[graft.stream.CorpusAdmission]]
    * — the streaming half of `dedup_incremental`): an initial corpus
    * store is seeded from doc_id < 300, the remaining documents arrive
    * as FOUR micro-batches (doc_id-range files, modification times
    * pinned so arrival order is id order), and each batch anti-joins
    * the store on 16-byte digests before appending its admissions
    * exactly-once. The batch-split-invariant truth the oracle encodes:
    * with in-order arrival, the final corpus is exactly MIN(doc_id)
    * per digest over ALL documents — base digests keep their sub-300
    * keeper, streamed digests keep their first (= smallest) arrival,
    * duplicates of base docs are refused. Any dropped batch, double
    * admission, or wrong within-batch tiebreak breaks the hash. */
  private[graft] val streamDedupCorpus = Q("stream_dedup_corpus",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_corpus")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), coalesce(col("text"), lit(""))
            .as("text"))
        docs.filter(col("doc_id") < 300)
          .select(col("doc_id"), md5(col("text")).as("digest"))
          .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("digest"), col("doc_id"))
          .write.parquet(s"$root/store/base")
        val newDocs = docs.filter(col("doc_id") >= 300)
        val b = newDocs.agg(min(col("doc_id")), max(col("doc_id"))).head()
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val step = math.max(1L, (hi - lo) / 4 + 1)
        new java.io.File(s"$root/in").mkdirs()
        (0 until 4).foreach { i =>
          val (flo, fhi) = (lo + i * step, lo + (i + 1) * step)
          val tmp = s"$root/stage_$i"
          newDocs.filter(col("doc_id") >= flo && col("doc_id") < fhi)
            .coalesce(1).write.parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val dst = new java.io.File(s"$root/in/batch_$i.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath)
          // FileStreamSource orders by (mtime, path): pin arrival order
          dst.setLastModified(1700000000000L + i * 60000L)
        }
        val stream = s.readStream.schema(newDocs.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$root/in")
        graft.stream.CorpusAdmission.admitStream(stream,
          s"$root/store", s"$root/ckpt")
        graft.stream.CorpusAdmission.readCorpus(s, s"$root/store")
          .select(col("doc_id"), col("digest"))
          .orderBy("doc_id")
      }
    },
    Some("""SELECT MIN(doc_id) AS doc_id,
        md5(COALESCE(text, '')) AS digest
      FROM documents GROUP BY 2 ORDER BY 1"""))

  private[graft] val streamMvRefresh = Q("stream_mv_refresh",
    (s, dir) => {
      withStreamConf(s) {
        val staged = stagedInput(s, dir)
        val stream = s.readStream.schema(staged.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(staged.inDir)
          .transform(normalizeTs)
        def partials(df: DataFrame) = df
          .filter(col("user_id") >= 0) // shared watermark sentinels
          .groupBy(to_date(col("ts")).as("date"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast(DecimalType(18, 2)).as("sum_value"))
        val root = Scratch.dir("graft_stream_mv")
        graft.stream.StreamingFact.mergeToMv(stream, s"$root/mv",
          s"$root/ckpt", Seq("date", "event_type"))(partials)
        graft.stream.StreamingFact.readMv(s, s"$root/mv")
          .select(col("date"), col("event_type"), col("n_events"),
            col("sum_value").cast("double").as("total_value"),
            (col("sum_value").cast("double") / col("n_events"))
              .as("avg_value"))
          .orderBy("date", "event_type")
      }
    },
    Some("""SELECT CAST(ts AS DATE) AS date, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS avg_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** MANIFEST CHANGE FEED as a streaming source — the engine's own
    * DataSourceV2 `MicroBatchStream`
    * ([[graft.sources.v2.ManifestCdcSource]], format
    * `graft-manifest-cdc`): the manifest version IS the stream
    * offset, each micro-batch emits the files ADDED at the new
    * versions with their commit-time footer stats. The fixture
    * commits the documents corpus as three doc_id-range versions
    * (coalesce(1) each, statsCol = doc_id), drains the feed with
    * AvailableNow, and reports per version the file count and the
    * committed stats range — which the oracle derives INDEPENDENTLY
    * from the documents table with the same range buckets, so the
    * connector's offset tracking, add-diffing, and stats plumbing are
    * all cross-engine-checked, not just spec-asserted
    * (`ManifestCdcSourceSpec` covers restart/startingVersion/
    * overwrite semantics the oracle can't see). */
  private[graft] val streamManifestCdc = Q("stream_manifest_cdc",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_stream_cdc")
        val table = s"$root/t"
        val docs = t(s, dir, "documents").select(col("doc_id"))
        Seq((0L, 200L), (200L, 400L), (400L, Long.MaxValue))
          .foreach { case (lo, hi) =>
            graft.sources.ManifestTable.commitAppend(s, table,
              docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
                .coalesce(1),
              statsCol = Some("doc_id"))
          }
        val q = s.readStream.format("graft-manifest-cdc")
          .option("path", table).load()
          .writeStream.format("memory").queryName("manifest_cdc_feed")
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table("manifest_cdc_feed")
          .groupBy(col("version"))
          .agg(count(lit(1)).as("n_files"),
            min(col("stats_min")).as("min_id"),
            max(col("stats_max")).as("max_id"))
          .orderBy("version")
      }
    },
    Some("""WITH buckets AS (
        SELECT CASE WHEN doc_id < 200 THEN 1
                    WHEN doc_id < 400 THEN 2
                    ELSE 3 END AS version, doc_id
        FROM documents)
      SELECT version, CAST(1 AS BIGINT) AS n_files,
        MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM buckets GROUP BY 1 ORDER BY 1"""))

  /** The CDC feed COMPOSED with incremental graph maintenance —
    * end-to-end proof of the loop a 100 TB deployment actually runs:
    * fact growth lands as manifest commits; the DSv2 CDC source
    * streams each version's NEW file entries; a foreachBatch consumer
    * reads exactly those files (never the whole fact) and folds their
    * edges into the committed graph artifact via
    * [[graft.etl.Graph.appendEdges]] — the distinct-collapse is never
    * rebuilt, redelivered edges are anti-joined out. Oracled against
    * DuckDB recomputing degree stats from the FULL fact, plus a zero
    * duplicate-edge count (an anti-join that missed or over-pruned
    * moves both). `GraphCdcSpec` adds the kill-and-restart leg: the
    * checkpointed version offset redelivers only unprocessed
    * versions, and the anti-join makes redelivery idempotent —
    * at-least-once delivery + idempotent fold = exactly-once
    * artifact. */
  private[graft] val graphCdcIncremental = Q("graph_cdc_incremental",
    (s, dir) => {
      withStreamConf(s) {
        val root = Scratch.dir("graft_cdc_graph")
        val fact = s"$root/fact"
        val graph = s"$root/graph"
        val fwd = t(s, dir, "lineitem").select(
          (col("l_suppkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst"))
        // bootstrap: the first fact batch is committed AND built into
        // the graph (a deployment starts from one full build)
        graft.sources.ManifestTable.commitAppend(s, fact,
          fwd.filter(col("src") % 6 === 0), statsCol = Some("src"))
        graft.etl.Graph.commitEdges(s, graph,
          graft.sources.ManifestTable.read(s, fact))
        // growth: two more fact batches land as manifest commits
        // (src = 2*suppkey, so src % 6 covers {0, 2, 4} exactly)
        Seq(2L, 4L).foreach { r =>
          graft.sources.ManifestTable.commitAppend(s, fact,
            fwd.filter(col("src") % 6 === r), statsCol = Some("src"))
        }
        val q = s.readStream.format("graft-manifest-cdc")
          .option("path", fact).option("startingVersion", "1").load()
          .writeStream
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              // file entries are KB-scale driver metadata, never rows
              val files = batch.select("file").distinct()
                .collect().map(r => s"$fact/${r.getString(0)}")
              if (files.nonEmpty)
                graft.etl.Graph.appendEdges(s, graph,
                  s.read.parquet(files.toIndexedSeq: _*))
              ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val latest = graft.etl.Graph.edgesFromManifest(s, graph)
        val deg = latest.groupBy("src").agg(count(lit(1)).as("d"))
        val dups = latest.groupBy("src", "dst")
          .agg(count(lit(1)).as("k")).filter(col("k") > 1)
          .agg(count(lit(1)).as("dup_edges"))
        deg.agg(count(lit(1)).as("n_nodes"),
            sum("d").as("n_directed_edges"),
            max("d").as("max_degree"), min("d").as("min_degree"))
          .crossJoin(broadcast(dups))
      }
    },
    Some("""WITH fwd AS (
        SELECT CAST(l_suppkey AS BIGINT) * 2 AS src,
          CAST(l_partkey AS BIGINT) * 2 + 1 AS dst FROM lineitem),
      und AS (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM fwd
        UNION ALL SELECT dst, src FROM fwd) u
        WHERE src <> dst),
      deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
        CAST(SUM(d) AS BIGINT) AS n_directed_edges,
        CAST(MAX(d) AS BIGINT) AS max_degree,
        CAST(MIN(d) AS BIGINT) AS min_degree,
        CAST(0 AS BIGINT) AS dup_edges
      FROM deg"""))

}
