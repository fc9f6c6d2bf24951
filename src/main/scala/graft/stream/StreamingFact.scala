package graft.stream

import graft.Scratch.ScratchOps
import graft.sources.ControlFile
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface: the same engagement aggregation as the
  * batch fact build, expressed over an unbounded event stream.
  *
  * The reference is batch-only (daily 2:00 AM trigger, guide p.30) but
  * the workload is inherently a time-series event stream (SURVEY.md
  * §1.1) — this is the additive streaming path over the same schema.
  * Watermark = 1 day to mirror the daily batch grain; tumbling 1-day
  * windows; stateful sessionization via mapGroupsWithState for the
  * per-visitor session metrics a batch window can't express
  * incrementally.
  */
object StreamingFact {

  /** Daily engagement per (user, day) with late-data handling: events
    * later than the watermark are dropped exactly like the daily batch
    * would have missed them. Append-mode compatible (watermarked
    * window). */
  def dailyEngagement(events: DataFrame, tsCol: String, userCol: String,
                      typeCol: String, valueCol: String,
                      playType: String = "play",
                      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .filter(col(typeCol) === playType)
      .groupBy(window(col(tsCol), "1 day").as("day"),
        col(userCol).as("user_id"))
      .agg(
        count(lit(1)).as("play_count"),
        sum(coalesce(col(valueCol), lit(0.0))).as("total_value"),
        avg(coalesce(col(valueCol), lit(0.0))).as("avg_value"))

  // --- Stateful sessionization ---------------------------------------

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, lastSeen: Long, nEvents: Long,
                          total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long,
                        total_value: Double)

  /** Per-user session roll-up via flatMapGroupsWithState with an
    * EVENT-TIME idle timeout: emits one row per CLOSED session, and
    * nothing for sessions still open — the contract a
    * mapGroupsWithState formulation cannot honor (it must return a
    * value per invocation, leaking in-progress sessions every batch).
    * A session closes when (a) a later event for the same user arrives
    * past the gap — the closed session emits immediately, intra-batch
    * gaps included — or (b) the event-time watermark passes
    * last_event + gap with no successor (the timeout). Input must
    * carry `withWatermark` on `ts`. State is one small struct per
    * active user — bounded by active-user cardinality, not event
    * volume, which is what makes it viable on an unbounded stream. */
  def sessionize(spark: SparkSession, events: Dataset[Ev],
                 gapMs: Long = 30 * 60 * 1000L)
  : Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (user, evs, state: GroupState[SessionState]) =>
          def close(s: SessionState) =
            SessionOut(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastSeen), s.nEvents, s.total)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(s))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var cur = state.getOption.orNull
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (cur == null)
                cur = SessionState(t, t, 1L, e.value)
              else if (t - cur.lastSeen > gapMs) {
                closed += close(cur) // gap inside the batch: emit now
                cur = SessionState(t, t, 1L, e.value)
              } else
                cur = SessionState(cur.start, math.max(cur.lastSeen, t),
                  cur.nEvents + 1, cur.total + e.value)
            }
            state.update(cur)
            // timeout = idle close; clamp above the watermark (a batch
            // of late events may carry lastSeen+gap below it, which
            // setTimeoutTimestamp rejects). Known trade-off of the
            // clamp: when lastSeen+gap is ALREADY below the watermark,
            // the session closes at the very next watermark tick, so a
            // late successor that lands within the gap starts a NEW
            // session where the batch twin (session_batch) would have
            // merged the two. Accepted: such events are later than the
            // declared watermark tolerance, and holding state open past
            // the watermark to maybe merge them would unbound state.
            state.setTimeoutTimestamp(math.max(cur.lastSeen + gapMs,
              state.getCurrentWatermarkMs() + 1))
            closed.iterator
          }
      }
  }

  // --- transformWithState (Spark 4 arbitrary-state API) ----------------

  /** The [[sessionize]] contract re-expressed on `transformWithState` —
    * Spark 4's successor to flatMapGroupsWithState: typed state handles
    * (`ValueState`) instead of one opaque state object, EXPLICIT timers
    * (register/delete) instead of the single implicit timeout, and
    * composable multi-state processors. Output contract is identical
    * (closed sessions only; StreamingFactSpec proves row-level parity
    * with the fMGWS twin on the same input). Requires the RocksDB
    * state-store provider — the only provider implementing this
    * operator's state layout. */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig,
      TimeMode, TimerValues, ValueState}

    @transient private var session: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    private def close(user: Long, s: SessionState) =
      SessionOut(user, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.lastSeen), s.nEvents, s.total)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toSeq.sortBy(_.ts.getTime)
      val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var cur = if (session.exists()) session.get() else null
      sorted.foreach { e =>
        val t = e.ts.getTime
        if (cur == null) cur = SessionState(t, t, 1L, e.value)
        else if (t - cur.lastSeen > gapMs) {
          closed += close(user, cur) // gap inside the batch: emit now
          cur = SessionState(t, t, 1L, e.value)
        } else cur = SessionState(cur.start, math.max(cur.lastSeen, t),
          cur.nEvents + 1, cur.total + e.value)
      }
      session.update(cur)
      // explicit timer management replaces setTimeoutTimestamp: drop
      // the superseded timer, arm the idle-close one (same watermark
      // clamp and session-split trade-off as the fMGWS twin)
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(math.max(cur.lastSeen + gapMs,
        timers.getCurrentWatermarkInMs() + 1))
      closed.iterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (!session.exists()) Iterator.empty
      else {
        val s = session.get()
        session.clear()
        Iterator.single(close(user, s))
      }
  }

  /** [[sessionize]] on the transformWithState API — see
    * [[SessionProcessor]]. Input must carry `withWatermark` on `ts`;
    * the session must run the RocksDB state-store provider. */
  def sessionizeTws(spark: SparkSession, events: Dataset[Ev],
                    gapMs: Long = 30 * 60 * 1000L): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Event-time session windows via the built-in `session_window`:
    * gap-based sessions computed on event time under a watermark — the
    * streaming twin of the batch lag/cumsum sessionization
    * (Queries `session_batch`), which makes stream/batch parity
    * directly oracle-checkable: same events → same
    * (user, start, end, n_events) rows. Append mode: each session
    * emits exactly once, when the watermark passes its close
    * (last event + gap); state is bounded by open sessions within the
    * watermark horizon. */
  def sessionWindows(events: DataFrame, tsCol: String, userCol: String,
                     gap: String = "30 minutes",
                     watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** STREAM-STREAM inner join with an event-time range condition: each
    * purchase pairs with every signup of the same user in the preceding
    * `windowDays` days — both sides unbounded streams. The watermarks
    * bound the join state: a buffered signup can be dropped once the
    * watermark passes signup_ts + window (no future purchase can match
    * it), a buffered purchase once its own watermark passes. This is
    * the canonical shape Spark's state-store join was built for;
    * without the time bound in the join condition the state would grow
    * forever. Inner join emits each match as soon as both rows have
    * arrived — the watermark governs state EVICTION, not emission. */
  def attributionJoin(purchases: DataFrame, signups: DataFrame,
                      windowDays: Int = 7,
                      joinType: String = "inner"): DataFrame = {
    // each branch is deduped by event id WITHIN its watermark before
    // the join: real ingestion is at-least-once (retries, replayed
    // pages), and a duplicated event on either side would multiply the
    // join output — k copies of a purchase × k of a signup emit k²
    // pairs. The dedup state is one key per event in the horizon; with
    // unique inputs it's a no-op pass-through, so the batch oracle is
    // unchanged. (This is also what keeps the file-replicating scale
    // rehearsal linear instead of quadratic in the replication factor.)
    val p = purchases
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_event_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 day")
      .dropDuplicatesWithinWatermark("purchase_event_id")
    val s = signups
      .select(col("user_id").as("s_user"),
        col("event_id").as("signup_event_id"), col("ts").as("s_ts"))
      .withWatermark("s_ts", s"${windowDays + 1} days")
      .dropDuplicatesWithinWatermark("signup_event_id")
    // left_outer additionally emits never-matched purchases with a
    // null signup side — but only once the watermark proves no future
    // signup can still match (the row emits at state EVICTION, the
    // fundamental stream-outer-join semantic; a bounded replay must
    // push the watermark past the window to flush them)
    p.join(s, expr(
      s"""p_user = s_user AND p_ts >= s_ts AND
          p_ts < s_ts + interval $windowDays days"""), joinType)
      // full_outer additionally emits never-matched SIGNUPS (evicted
      // once the watermark passes signup_ts + window) with a null
      // purchase side — so the user key coalesces across sides; for
      // inner/left_outer p_user is never null and this is a no-op
      .select(coalesce(col("p_user"), col("s_user")).as("user_id"),
        col("purchase_event_id"), col("signup_event_id"))
  }

  /** Streaming dedup under a watermark: duplicate events (same key)
    * arriving within the watermark horizon are dropped with bounded
    * state — the streaming twin of Quality.dedupByKeys. State size is
    * bounded by keys-per-watermark-window, not stream length
    * (SURVEY §7.4.6). */
  def dedupStream(events: DataFrame, tsCol: String,
                  keys: Seq[String], watermark: String = "1 day")
  : DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** foreachBatch upsert into a silver parquet dir. Update mode emits
    * only the keys that CHANGED in each micro-batch, so the merge has
    * to be against what's already on disk — see [[upsertBatch]]. The
    * write pattern still scales: only touched date partitions are read
    * and rewritten, never the whole table, and replayed batches
    * converge (key-dedup + anti-join make the merge idempotent). */
  def upsertToSilver(spark: SparkSession, agg: DataFrame, path: String,
                     checkpoint: String,
                     keyCols: Seq[String] = Seq("user_id")): Unit = {
    val q = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertBatch(batch, path, keyCols)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One micro-batch of the silver upsert. An update-mode batch carries
    * only changed keys, so overwriting a date partition with the batch
    * alone would delete that date's unchanged rows landed by earlier
    * batches. Instead: key-dedup the batch (a replayed batch can
    * overlap itself), read back ONLY the touched partitions, anti-join
    * out the keys this batch supersedes, and overwrite the touched
    * partitions with the union
    * ([[graft.sources.Sources.upsertByPartition]]). localCheckpoint materializes the merge
    * before the overwrite deletes the files it was read from. The
    * touched-date collect is bounded by dates-per-batch, not data. */
  private[stream] def upsertBatch(batch: DataFrame, path: String,
                                  keyCols: Seq[String]): Unit = {
    val ss = batch.sparkSession
    val fresh = batch
      .withColumn("date", to_date(col("day.start")))
      .drop("day")
      .dropDuplicates("date" +: keyCols)
    if (!fresh.isEmpty) {
      val target = new org.apache.hadoop.fs.Path(path)
      val fs = graft.sources.Sources.fileSystem(ss, target)
      val merged =
        if (!fs.exists(target)) fresh
        else {
          val touched = fresh.select("date").distinct()
            .collect().map(_.getDate(0)).toSeq
          val prior = ss.read.parquet(path)
            .filter(col("date").isin(touched: _*))
            .join(fresh.select("date", keyCols: _*),
              "date" +: keyCols, "left_anti")
          fresh.unionByName(prior)
        }
      // cluster the write by (date, small key-hash bucket): without
      // this, every shuffle partition contributes a file to every
      // touched date dir — the key-growth rehearsal measured the
      // daily upsert at 68 s (vs 16 s at 10x) once 32 state
      // partitions × touched dates amplified into thousands of tiny
      // files. Hash-bucketing bounds files-per-date at 4 while
      // keeping >1 writer per hot date (pure repartition('date')
      // would serialize a skewed date through one task).
      graft.sources.Sources.upsertByPartition(
        merged.scratchCheckpoint(eager = true)
          .repartition(col("date"),
            pmod(xxhash64(keyCols.map(col): _*), lit(4))),
        path, "date")
    }
  }

  /** STREAMING INCREMENTAL MV MAINTENANCE — the streaming twin of
    * `mv_incremental_daily`: the stream stays STATELESS (no watermark,
    * no state store — the aggregation state lives in the VIEW, not in
    * streaming state), and every micro-batch folds its partial
    * aggregates into a persisted view via
    * [[graft.etl.Materialized.mergePartials]]. At 100 TB this
    * decouples state size from key cardinality entirely: the state
    * store holds nothing, the view is a parquet table sized by its key
    * domain, and per-batch cost is O(batch + view) regardless of
    * stream history.
    *
    * Exactly-once via a versioned commit protocol (the manifest-table
    * posture scaled down to one pointer): batch `id` writes its merged
    * view to `v<id>` FROM the marker's immutable base `v<last>`, then
    * replaces the `_committed_batch` marker, a
    * [[graft.sources.ControlFile]]. A crash anywhere
    * before the swap makes the replayed batch rewrite `v<id>` from the
    * SAME base — idempotent; a replay after the swap is dropped by the
    * `id <= last` guard. foreachBatch alone is only at-least-once;
    * this marker is what upgrades it. */
  def mergeToMv(raw: DataFrame, mvDir: String, checkpoint: String,
                keys: Seq[String])(partialsOf: DataFrame => DataFrame): Unit = {
    val q = raw.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        mergeMvBatch(batch.toDF(), id, mvDir, keys, partialsOf)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Latest committed view version, or -1 before the first commit. */
  def committedMvBatch(mvDir: String): Long =
    committedMvBatch(SparkSession.active, mvDir)

  private def committedMvBatch(spark: SparkSession, mvDir: String): Long =
    ControlFile.read(spark, s"$mvDir/_committed_batch")
      .fold(-1L)(_.trim.toLong)

  /** The committed view snapshot (empty-schema error before any
    * commit — callers run after at least one batch). */
  def readMv(spark: SparkSession, mvDir: String): DataFrame =
    spark.read.parquet(s"$mvDir/v${committedMvBatch(spark, mvDir)}")

  private[stream] def mergeMvBatch(batch: DataFrame, id: Long,
                                   mvDir: String, keys: Seq[String],
                                   partialsOf: DataFrame => DataFrame): Unit = {
    val ss = batch.sparkSession
    val last = committedMvBatch(ss, mvDir)
    if (id <= last) return // replay of a committed batch: drop it
    val p = partialsOf(batch)
    val merged =
      if (last < 0) p
      else graft.etl.Materialized.mergePartials(
        ss.read.parquet(s"$mvDir/v$last"), p, keys)
    merged.write.mode("overwrite").parquet(s"$mvDir/v$id")
    ControlFile.replace(ss, s"$mvDir/_committed_batch", id.toString)
  }

  /** Stream-static enrichment: join the event stream against a static
    * dim table. Spark re-plans the static side per micro-batch and
    * broadcasts it when small — no stream-side state at all (unlike
    * stream-stream joins). */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")
}
