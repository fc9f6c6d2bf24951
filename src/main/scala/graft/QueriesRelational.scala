package graft

import graft.Scratch.ScratchOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Qdsl._

/** Registry part 6 — event analytics (sessionization, funnels,
  * retention, tf-idf), skew tooling, and the relational/statistical
  * completeness surface (set ops, outer joins, pivot/unpivot, rollup/
  * cube/grouping sets, windows, quantiles, SCD2, as-of/interval
  * joins). */
private[graft] object QueriesRelational {
  // ======================================================================
  // Event-analytics extensions: sessionization, funnel, retention, tf-idf
  // ======================================================================

  /** Batch sessionization: 30-min-gap sessions via lag + running sum —
    * the batch twin of StreamingFact.sessionize. Frames are ROWS-bound
    * explicitly (DuckDB's default SUM frame is RANGE, which groups
    * peer rows differently). */
  private[graft] val sessionBatch = Q("session_batch",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
      graft.etl.Temporal.sessionizeBatch(ev, "user_id", "ts_us",
        "event_id")
        .orderBy("user_id", "session_id")
    },
    Some("""SELECT user_id, session_id, COUNT(*) AS n_events,
      MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
      FROM (
        SELECT user_id, event_id, ts_us,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
        FROM (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
            CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
              PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
          FROM events))
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Session path assembly — the clickstream-to-training-sequence op:
    * each 30-min-gap session becomes ONE row whose `path` is the
    * event types in (ts, event_id) order joined by '>'. The ordered
    * concat is collect_list(struct(ts, tie, type)) → array_sort →
    * transform → concat_ws, all inside the ONE session groupBy — no
    * second window pass and no per-event output row. At 100 TB the
    * shuffle carries (user, ts, type) triples once and each session's
    * buffer is bounded by its own event count, the same bound any
    * order-sensitive session aggregate needs. */
  private[graft] val sessionPaths = Q("session_paths",
    (s, dir) => {
      val byKey = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val newSess = when(
        col("ts_us") - lag(col("ts_us"), 1).over(byKey) >
          lit(1800L * 1000000L), 1).otherwise(0)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("session_id",
          sum(newSess).over(byKey.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          concat_ws(">",
            transform(
              array_sort(collect_list(struct(col("ts_us"),
                col("event_id"), col("event_type")))),
              e => e.getField("event_type"))).as("path"))
        .orderBy("user_id", "session_id")
    },
    Some("""SELECT user_id, session_id, COUNT(*) AS n_events,
      string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
      FROM (
        SELECT user_id, event_id, event_type, ts_us,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS session_id
        FROM (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
            CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
              PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
              > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
          FROM events))
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Time-series gap repair ([[graft.etl.Temporal.interpolateLinear]]):
    * every 7th measure nulled out, then linearly interpolated from its
    * nearest non-null neighbors per user. Both engines evaluate the
    * IDENTICAL float expression prev + (next − prev)·frac on the same
    * operands, so the doubles hash-match bit-for-bit (IEEE arithmetic
    * is deterministic given the same operation order — the contract
    * this suite's float queries rely on). Leading/trailing gaps stay
    * null; two running ignoreNulls windows over one key shuffle. */
  private[graft] val timeseriesInterpolate = Q("timeseries_interpolate",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          when(col("event_id") % 7 =!= 0, col("value")).as("value"))
      graft.etl.Temporal
        .interpolateLinear(ev, "user_id", "ts_us", "value", "event_id")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("value_interp"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, ts_us,
      CASE WHEN value IS NOT NULL THEN value
           WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
             CASE WHEN next_t = prev_t THEN prev_v
                  ELSE prev_v + (next_v - prev_v) *
                    (CAST(ts_us - prev_t AS DOUBLE) /
                     CAST(next_t - prev_t AS DOUBLE)) END
      END AS value_interp
      FROM (
        SELECT event_id, user_id, ts_us, value,
          LAST_VALUE(value IGNORE NULLS) OVER w_before AS prev_v,
          LAST_VALUE(CASE WHEN value IS NOT NULL THEN ts_us END
            IGNORE NULLS) OVER w_before AS prev_t,
          FIRST_VALUE(value IGNORE NULLS) OVER w_after AS next_v,
          FIRST_VALUE(CASE WHEN value IS NOT NULL THEN ts_us END
            IGNORE NULLS) OVER w_after AS next_t
        FROM (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us,
            CASE WHEN event_id % 7 <> 0 THEN value END AS value
          FROM events)
        WINDOW
          w_before AS (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          w_after AS (PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      ORDER BY event_id"""))

  /** Funnel: users whose first 'purchase' follows their first 'signup'.
    */
  private[graft] val funnel = Q("funnel_signup_purchase",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(min(col("ts_us")).as("first_signup"))
      val converted = ev.filter(col("event_type") === "purchase")
        .join(signup, Seq("user_id"))
        .filter(col("ts_us") > col("first_signup"))
        .select("user_id").distinct()
      signup.agg(count(lit(1)).as("n_signup_users"))
        .crossJoin(converted.agg(count(lit(1)).as("n_converted")))
    },
    Some("""WITH s AS (SELECT user_id, MIN(epoch_us(ts)) AS first_signup
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      p AS (SELECT DISTINCT e.user_id FROM events e
        JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > s.first_signup)
      SELECT (SELECT COUNT(*) FROM s) AS n_signup_users,
             (SELECT COUNT(*) FROM p) AS n_converted"""))

  /** Three-stage sequential funnel: signup → first click AFTER signup →
    * first purchase AFTER that click. Each stage joins on the previous
    * stage's first-timestamp, so ordering constraints are enforced, not
    * just set membership. */
  private[graft] val funnel3 = Q("funnel_3stage",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      val sg = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts_us")).as("fs"))
      val ck = ev.filter(col("event_type") === "click")
        .join(sg, Seq("user_id"))
        .filter(col("ts_us") > col("fs"))
        .groupBy("user_id").agg(min(col("ts_us")).as("fc"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(ck, Seq("user_id"))
        .filter(col("ts_us") > col("fc"))
        .groupBy("user_id").agg(min(col("ts_us")).as("fp"))
      sg.agg(count(lit(1)).as("n_signup"))
        .crossJoin(ck.agg(count(lit(1)).as("n_click_after")))
        .crossJoin(pu.agg(count(lit(1)).as("n_purchase_after")))
    },
    Some("""WITH sg AS (SELECT user_id, MIN(epoch_us(ts)) AS fs
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      ck AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS fc
        FROM events e JOIN sg ON e.user_id = sg.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > sg.fs
        GROUP BY 1),
      pu AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS fp
        FROM events e JOIN ck ON e.user_id = ck.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > ck.fc
        GROUP BY 1)
      SELECT (SELECT COUNT(*) FROM sg) AS n_signup,
             (SELECT COUNT(*) FROM ck) AS n_click_after,
             (SELECT COUNT(*) FROM pu) AS n_purchase_after"""))

  /** TIME-BOXED funnel — [[funnel3]] with the constraint every real
    * funnel ships with: each step must land within 7 DAYS of the
    * previous one, so a click a quarter later no longer "converts"
    * (unbounded funnels overcount badly on long event horizons, and
    * the overcount grows with retention). Same plan shape — the bound
    * is one extra predicate on the already-joined first-timestamp
    * pairs, so the cost at 100 TB is identical to the unbounded
    * funnel: per-user min-aggregates on projected (user, ts) pairs.
    * Emits both bounded step counts and step-conversion rates. */
  private[graft] val funnelWindowed = Q("funnel_windowed",
    (s, dir) => {
      val week = 7L * 86400L * 1000000L
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      val sg = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts_us")).as("fs"))
      val ck = ev.filter(col("event_type") === "click")
        .join(sg, Seq("user_id"))
        .filter(col("ts_us") > col("fs") &&
          col("ts_us") <= col("fs") + lit(week))
        .groupBy("user_id").agg(min(col("ts_us")).as("fc"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(ck, Seq("user_id"))
        .filter(col("ts_us") > col("fc") &&
          col("ts_us") <= col("fc") + lit(week))
        .groupBy("user_id").agg(min(col("ts_us")).as("fp"))
      sg.agg(count(lit(1)).as("n_signup"))
        .crossJoin(broadcast(ck.agg(count(lit(1)).as("n_click_7d"))))
        .crossJoin(broadcast(pu.agg(count(lit(1)).as("n_purchase_7d"))))
        .select(col("n_signup"), col("n_click_7d"), col("n_purchase_7d"),
          (col("n_click_7d").cast("double") /
            col("n_signup").cast("double")).as("rate_click"),
          (col("n_purchase_7d").cast("double") /
            col("n_click_7d").cast("double")).as("rate_purchase"))
    },
    Some("""WITH sg AS (SELECT user_id, MIN(epoch_us(ts)) AS fs
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      ck AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS fc
        FROM events e JOIN sg ON e.user_id = sg.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > sg.fs
          AND epoch_us(e.ts) <= sg.fs + 604800000000
        GROUP BY 1),
      pu AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS fp
        FROM events e JOIN ck ON e.user_id = ck.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > ck.fc
          AND epoch_us(e.ts) <= ck.fc + 604800000000
        GROUP BY 1),
      c AS (SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM sg) AS n_signup,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM ck) AS n_click_7d,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM pu) AS n_purchase_7d)
      SELECT n_signup, n_click_7d, n_purchase_7d,
        CAST(n_click_7d AS DOUBLE) / CAST(n_signup AS DOUBLE)
          AS rate_click,
        CAST(n_purchase_7d AS DOUBLE) / CAST(n_click_7d AS DOUBLE)
          AS rate_purchase
      FROM c"""))

  /** Retention cohorts: users grouped by first-seen day, activity
    * counted per whole-week offset. */
  private[graft] val retention = Q("retention_cohorts",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy("user_id")
        .agg(min(col("day")).as("cohort_day"))
      ev.join(first, Seq("user_id"))
        .select(col("cohort_day"),
          floor(datediff(col("day"), col("cohort_day")) / 7)
            .cast("long").as("week_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "week_offset")
        .agg(count(lit(1)).as("active_users"))
        .orderBy("cohort_day", "week_offset")
    },
    Some("""WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY 1)
      SELECT cohort_day, week_offset, COUNT(*) AS active_users FROM (
        SELECT DISTINCT f.cohort_day,
          CAST(FLOOR(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_offset,
          e.user_id
        FROM events e JOIN f ON e.user_id = f.user_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Smoothed TF-IDF over whitespace tokens, bounded doc set. The
    * explode→groupBy(term) pattern is the canonical two-shuffle text
    * pipeline; N and df are exact counts. */
  private[graft] val textTfidf = Q("text_tfidf",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") < 50 && col("text").isNotNull &&
          trim(col("text")) =!= "")
      val terms = docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val tf = terms.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term")
        .agg(count(lit(1)).as("df"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          // round(…,6): JVM Math.log and libm ln differ in the last
          // ulp for some inputs; 6-dp rounding absorbs it (tf/df stay
          // exact)
          round(col("tf").cast("double") *
            (log((col("n_docs").cast("double") + 1.0) /
              (col("df").cast("double") + 1.0)) + 1.0), 6).as("tfidf"))
        .orderBy("doc_id", "term")
    },
    Some("""WITH docs AS (SELECT doc_id, text FROM documents
        WHERE doc_id < 50 AND text IS NOT NULL AND trim(text) != ''),
      terms AS (SELECT doc_id, unnest(regexp_split_to_array(
          trim(lower(text)), '\s+')) AS term FROM docs),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
        WHERE term != '' GROUP BY 1, 2),
      df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM docs)
      SELECT tf.doc_id, tf.term AS term, tf.tf, df.df,
        ROUND(CAST(tf.tf AS DOUBLE) *
          (ln((CAST(n.n_docs AS DOUBLE) + 1.0) /
            (CAST(df.df AS DOUBLE) + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
      ORDER BY doc_id, tf.term"""))


  // ======================================================================
  // Relational completeness: set ops, semi/anti, pivot, rollup, moments,
  // as-of join
  // ======================================================================

  /** Salted join, oracled for RESULT EQUIVALENCE with the plain join:
    * the salt machinery (deterministic row-hash sub-keys on the fact
    * side, `saltFactor`× replication of the dim side —
    * [[graft.etl.Skew.saltedJoin]]) must be invisible in the output.
    * The oracle is the unsalted SQL join, so any salt-induced row loss,
    * duplication, or column drift fails the hash. */
  private[graft] val skewSaltedJoin = Q("skew_salted_join",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      graft.etl.Skew.saltedJoin(ev, dim, "user_id", saltFactor = 8)
        .groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("segment", "event_type")
    },
    Some("""SELECT c_mktsegment AS segment, event_type, COUNT(*) AS n
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** The skew diagnosis that decides WHICH keys need salting
    * ([[graft.etl.Skew.keySkewReport]]): top hot keys by row count,
    * deterministic tie-break. At 100 TB this runs on a sample; the
    * operator shape is identical. */
  private[graft] val skewReport = Q("skew_report",
    (s, dir) =>
      graft.etl.Skew.keySkewReport(events(s, dir), "user_id", topN = 20),
    Some("""SELECT user_id, COUNT(*) AS rows FROM events
      GROUP BY 1 ORDER BY rows DESC, user_id LIMIT 20"""))

  /** The z-order (Morton) clustering key ([[graft.sources.Sources
    * .zorderN]]) is pure integer bit arithmetic, so the interleave
    * itself is cross-engine verified: both engines compute the same
    * 16-bit×2 interleaved key for a deterministic (x, y) derivation of
    * part keys, hash-matched value by value. The LAYOUT effect (box
    * queries pruning files on either dimension) is proved in
    * SourcesSpec; this row gates the key function feeding it. */
  private[graft] val zorderKeyCheck = Q("zorder_key_check",
    (s, dir) => {
      val x = col("p_partkey") % 256
      val y = (col("p_partkey") / lit(256)).cast("long") % 256
      t(s, dir, "part")
        .select(col("p_partkey"),
          graft.sources.Sources.zorderN(Seq(x, y), bits = 8).as("zkey"))
        .orderBy("p_partkey")
    },
    Some {
      // every term fully parenthesized: SQL gives '+' higher precedence
      // than '<<', so a bare `a << 0 + b` would parse as `a << (0 + b)`
      val terms = (0 until 8).flatMap { i =>
        Seq(s"((((p_partkey % 256) >> $i) & 1) << ${2 * i})",
          s"((((CAST(p_partkey // 256 AS BIGINT)) % 256 >> $i) & 1) << ${2 * i + 1})")
      }.mkString(" + ")
      s"""SELECT p_partkey, CAST($terms AS BIGINT) AS zkey
      FROM part ORDER BY p_partkey"""
    })

  /** Fixed-width numeric histogram over the value measure — bin
    * boundaries derived from the corpus min (floor((v-min)/width)), one
    * aggregate + one scan, no window. */
  private[graft] val valueHistogram = Q("value_histogram",
    (s, dir) => {
      val ev = events(s, dir).filter(col("value").isNotNull)
      val bounds = ev.agg(min(col("value")).as("mn"))
      ev.crossJoin(broadcast(bounds))
        .select(floor((col("value") - col("mn")) / lit(10.0))
          .cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    },
    Some("""WITH b AS (SELECT MIN(value) AS mn FROM events
        WHERE value IS NOT NULL)
      SELECT CAST(FLOOR((value - mn) / 10.0) AS BIGINT) AS bin,
        COUNT(*) AS n
      FROM events, b WHERE value IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** INTERSECT / EXCEPT set operations. */
  private[graft] val setOps = Q("set_ops",
    (s, dir) => {
      val ev = events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("id")).distinct()
      val g = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("id")).distinct()
      p.intersect(g).withColumn("op", lit("intersect"))
        .unionByName(g.except(p).withColumn("op", lit("except")))
        .orderBy("op", "id")
    },
    Some("""WITH p AS (SELECT DISTINCT user_id AS id FROM events
        WHERE event_type = 'purchase'),
      s AS (SELECT DISTINCT user_id AS id FROM events
        WHERE event_type = 'signup')
      SELECT id, 'intersect' AS op FROM (SELECT id FROM p INTERSECT SELECT id FROM s)
      UNION ALL
      SELECT id, 'except' AS op FROM (SELECT id FROM s EXCEPT SELECT id FROM p)
      ORDER BY op, id"""))

  /** FULL OUTER join — both-sides null extension; keys coalesced so
    * the output order stays total and non-null. */
  private[graft] val fullOuterJoin = Q("full_outer_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("ck"), col("c_mktsegment"))
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("ok"))
        .agg(count(lit(1)).as("n_orders"))
      c.join(o, col("ck") === col("ok"), "full_outer")
        .select(coalesce(col("ck"), col("ok")).as("custkey"),
          coalesce(col("c_mktsegment"), lit("(no customer)"))
            .as("segment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    },
    Some("""SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
      COALESCE(c.c_mktsegment, '(no customer)') AS segment,
      COALESCE(o.n_orders, 0) AS n_orders
      FROM customer c
      FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY 1) o
      ON c.c_custkey = o.o_custkey
      ORDER BY custkey"""))

  /** left_semi / left_anti joins (EXISTS / NOT EXISTS). */
  private[graft] val semiAnti = Q("semi_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey").as("id")).withColumn("op", lit("semi"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey").as("id")).withColumn("op", lit("anti"))
      semi.unionByName(anti).orderBy("op", "id")
    },
    Some("""SELECT c_custkey AS id, 'semi' AS op FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT c_custkey AS id, 'anti' AS op FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY op, id"""))

  /** Pivot: quantity matrix returnflag × linestatus (explicit pivot
    * values keep the output schema static — mandatory at scale, a
    * values-discovery pass is an extra job). */
  private[graft] val pivotFlagStatus = Q("pivot_flag_status",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(dsum(col("l_quantity")))
        .orderBy("returnflag"),
    Some("""SELECT l_returnflag AS returnflag,
      CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
      CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** ROLLUP over (region, nation) with GROUPING indicators; subtotal
    * rows get 'ALL' labels so order keys stay non-null. */
  private[graft] val rollupRegionNation = Q("rollup_region_nation",
    (s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(
          grouping(col("r_name")).cast("int").as("g_region"),
          grouping(col("n_name")).cast("int").as("g_nation"),
          dsum(col("c_acctbal")).as("total_acctbal"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("n_name"), lit("ALL")).as("nation"),
          col("g_region"), col("g_nation"), col("total_acctbal"))
        .orderBy("g_region", "g_nation", "region", "nation"),
    Some("""SELECT COALESCE(r_name, 'ALL') AS region,
      COALESCE(n_name, 'ALL') AS nation,
      CAST(GROUPING(r_name) AS INTEGER) AS g_region,
      CAST(GROUPING(n_name) AS INTEGER) AS g_nation,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY g_region, g_nation, region, nation"""))

  /** CUBE over (returnflag, linestatus): all four grouping combinations
    * (both, each alone, grand total) with GROUPING indicators. */
  private[graft] val cubeFlagStatus = Q("cube_flag_status",
    (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          dsum(col("l_quantity")).as("total_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("g_flag"), col("g_status"), col("total_qty"))
        .orderBy("g_flag", "g_status", "returnflag", "linestatus"),
    Some("""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      COALESCE(l_linestatus, 'ALL') AS linestatus,
      CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
      CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY g_flag, g_status, returnflag, linestatus"""))

  /** Unpivot (melt) — the inverse of pivot: wide measure columns to
    * (measure, value) long form, schema static by construction. */
  private[graft] val unpivotMeasures = Q("unpivot_measures",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "measure", "value")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic
        // data — value joins the sort to totalize the order
        .orderBy("l_orderkey", "l_linenumber", "measure", "value"),
    Some("""SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber,
          CAST(l_quantity AS DOUBLE) AS quantity,
          CAST(l_extendedprice AS DOUBLE) AS extendedprice,
          CAST(l_discount AS DOUBLE) AS discount
        FROM lineitem WHERE l_orderkey < 100)
      UNPIVOT (value FOR measure IN (quantity, extendedprice, discount))
      ORDER BY l_orderkey, l_linenumber, measure, value"""))

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * here per-region totals and per-segment totals in one pass, no
    * union of two aggregations. */
  private[graft] val groupingSets = Q("grouping_sets_region_segment",
    (s, dir) => {
      val joined = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
      joined.groupingSets(
          Seq(Seq(col("r_name")), Seq(col("c_mktsegment"))),
          col("r_name"), col("c_mktsegment"))
        .agg(dsum(col("c_acctbal")).as("total_acctbal"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("r_name"), lit("ALL")).as("region"),
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("total_acctbal"), col("n"))
        .orderBy("region", "segment")
    },
    Some("""SELECT COALESCE(r_name, 'ALL') AS region,
      COALESCE(c_mktsegment, 'ALL') AS segment,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
      COUNT(*) AS n
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY GROUPING SETS ((r_name), (c_mktsegment))
      ORDER BY region, segment"""))

  /** OFFSET pagination under a total order — page 3 of the event log
    * (rows 20-29). Driver-side only at the LIMIT boundary; the sort is
    * a TakeOrdered, not a full materialization. */
  private[graft] val limitOffset = Q("limit_offset_page",
    (s, dir) =>
      events(s, dir).select("event_id", "user_id", "event_type")
        .orderBy("event_id").offset(20).limit(10),
    Some("""SELECT event_id, user_id, event_type FROM events
      ORDER BY event_id LIMIT 10 OFFSET 20"""))

  /** RANGE-interval window: per-user running sum over the PRECEDING
    * HOUR of event time (a value-range frame, not a row-count frame —
    * rows at unequal spacing see different peer sets). Partitioned by
    * user: scale-safe. */
  private[graft] val rangeWindowSum = Q("range_window_sum",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          coalesce(col("value"), lit(0.0)).cast(DecimalType(18, 2))
            .as("v"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000L, 0)
      ev.select(col("user_id"), col("event_id"),
          sum(col("v")).over(w).cast("double").as("sum_1h"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
      CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2))) OVER (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS sum_1h
      FROM events ORDER BY user_id, event_id"""))

  /** Sample variance / stddev / correlation from EXACT integer moment
    * sums (float moment aggregates are shuffle-order-dependent and can
    * never hash-match across engines). The 2-decimal measures quantize
    * to BIGINT cents, so every moment is pure long arithmetic on the
    * codegen fast path — Decimal(38,4) product sums fell off it
    * (precision > 18 accumulates in BigDecimal; this query measured
    * 1.45 s → 2.04 s when those sums dominated). Per-row products stay
    * under 1e14; each product SUM is split DIV/% 1e6 into two long
    * sums so neither overflows before ~1e12 rows — the recombination
    * `hi * 1e6 + lo` and everything after is a fixed IEEE expression
    * over identical integer inputs in both engines. */
  private[graft] val statsExact = Q("stats_exact",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      def hiLo(prod: String, as: String) = Seq(
        sum(expr(s"$prod DIV 1000000")).as(s"${as}_hi"),
        sum(expr(s"$prod % 1000000")).as(s"${as}_lo"))
      def recomb(as: String) =
        (col(s"${as}_hi").cast("double") * 1e6 +
          col(s"${as}_lo").cast("double")) / 1e4
      li.select(
          expr("cast(round(l_extendedprice * 100) as bigint)").as("pc"),
          expr("cast(round(l_quantity * 100) as bigint)").as("qc"))
        .agg(count(lit(1)).cast("double").as("n"),
          (Seq(sum(col("pc")).as("sx_c"), sum(col("qc")).as("sy_c")) ++
            hiLo("pc * pc", "sxx") ++ hiLo("qc * qc", "syy") ++
            hiLo("pc * qc", "sxy")): _*)
        .select(
          col("n"),
          (col("sx_c").cast("double") / 100.0).as("sx"),
          (col("sy_c").cast("double") / 100.0).as("sy"),
          recomb("sxx").as("sxx"), recomb("syy").as("syy"),
          recomb("sxy").as("sxy"))
        .select(
          ((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1.0)).as("var_price"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1.0)).as("stddev_price"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            (sqrt(col("sxx") - col("sx") * col("sx") / col("n")) *
              sqrt(col("syy") - col("sy") * col("sy") / col("n"))))
            .as("corr_price_qty"))
    },
    Some("""WITH q AS (SELECT
        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
        CAST(ROUND(l_quantity * 100) AS BIGINT) AS qc
      FROM lineitem),
      sums AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(pc) AS BIGINT) AS sx_c,
        CAST(SUM(qc) AS BIGINT) AS sy_c,
        CAST(SUM(pc * pc // 1000000) AS BIGINT) AS sxx_hi,
        CAST(SUM(pc * pc % 1000000) AS BIGINT) AS sxx_lo,
        CAST(SUM(qc * qc // 1000000) AS BIGINT) AS syy_hi,
        CAST(SUM(qc * qc % 1000000) AS BIGINT) AS syy_lo,
        CAST(SUM(pc * qc // 1000000) AS BIGINT) AS sxy_hi,
        CAST(SUM(pc * qc % 1000000) AS BIGINT) AS sxy_lo
      FROM q),
      m AS (SELECT n,
        CAST(sx_c AS DOUBLE) / 100.0 AS sx,
        CAST(sy_c AS DOUBLE) / 100.0 AS sy,
        (CAST(sxx_hi AS DOUBLE) * 1e6 + CAST(sxx_lo AS DOUBLE)) / 1e4 AS sxx,
        (CAST(syy_hi AS DOUBLE) * 1e6 + CAST(syy_lo AS DOUBLE)) / 1e4 AS syy,
        (CAST(sxy_hi AS DOUBLE) * 1e6 + CAST(sxy_lo AS DOUBLE)) / 1e4 AS sxy
      FROM sums)
      SELECT (sxx - sx * sx / n) / (n - 1.0) AS var_price,
        sqrt((sxx - sx * sx / n) / (n - 1.0)) AS stddev_price,
        (sxy - sx * sy / n) /
          (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS corr_price_qty
      FROM m"""))

  /** 7-day moving average of the daily measure: window sums stay in
    * exact decimal through the ROWS frame, divided in double at the
    * end. Global ordered window — fine at daily grain (one row per
    * day); a per-key moving average would partition first. */
  private[graft] val movingAvg7d = Q("kpi_moving_avg_7d",
    (s, dir) => {
      val daily = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("date"))
        .agg(sum(coalesce(col("value"), lit(0.0))
          .cast(DecimalType(18, 2))).as("t_dec"))
      val w = boundedWindow(col("date")).rowsBetween(-6, 0)
      daily.select(
        col("date"),
        col("t_dec").cast("double").as("daily_total"),
        (sum(col("t_dec")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double")).as("avg_7d"))
        .orderBy("date")
    },
    Some("""WITH d AS (SELECT CAST(ts AS DATE) AS date,
        SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2))) AS t_dec
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
      SELECT date, CAST(t_dec AS DOUBLE) AS daily_total,
        CAST(SUM(t_dec) OVER (ORDER BY date
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) /
        CAST(COUNT(*) OVER (ORDER BY date
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS avg_7d
      FROM d ORDER BY date"""))

  /** NTILE decile segmentation of customers by balance (total order via
    * the custkey tie-break) — computed WITHOUT a global sort via
    * [[graft.etl.Ranking.ntileByValue]]: the raw table never funnels
    * through one task; the only unpartitioned window runs over the
    * value-aggregated CDF (bounded by the balance domain, not row
    * count). Bit-identical to the window NTILE, so the oracle is
    * unchanged. */
  private[graft] val customerDeciles = Q("customer_deciles",
    (s, dir) =>
      graft.etl.Ranking.ntileByValue(
        t(s, dir, "customer"), "c_acctbal", "c_custkey", 10)
        .withColumnRenamed("ntile", "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("min_bal"),
          max(col("c_acctbal")).as("max_bal"))
        .orderBy("decile"),
    Some("""SELECT decile, COUNT(*) AS n, MIN(c_acctbal) AS min_bal,
        MAX(c_acctbal) AS max_bal
      FROM (SELECT c_acctbal,
        NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
        FROM customer)
      GROUP BY 1 ORDER BY 1"""))

  /** Invariants of the continuous-domain NTILE ([[graft.etl.Ranking
    * .ntileApprox]]), oracle-checked against constants: bucket
    * assignment must be monotone in the order value (no adjacent-bucket
    * inversion) and total (every row lands in a bucket). The bucket
    * POPULATIONS are approximate by design — that is the trade that
    * buys a plan with zero windows — but order correctness and
    * totality are exact properties, so they gate like any other
    * oracle row. */
  private[graft] val decilesApproxCheck = Q("deciles_approx_check",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val per = graft.etl.Ranking.ntileApprox(cust, "c_acctbal", 10)
        .groupBy("ntile")
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("mn"), max(col("c_acctbal")).as("mx"))
      val w = boundedWindow(col("ntile"))
      val stats = per.withColumn("prev_mx", lag(col("mx"), 1).over(w))
      val total = cust.agg(count(lit(1)).as("total"))
      stats.agg(
        count(when(col("prev_mx") > col("mn"), 1)).as("order_violations"),
        sum(col("n")).as("assigned"))
        .crossJoin(total)
        .select(col("order_violations"),
          (col("total") - col("assigned")).as("unassigned"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS order_violations,
      CAST(0 AS BIGINT) AS unassigned"""))

  /** SCD Type-2 dimension maintenance over the customer dim: a
    * deterministic update batch (every 7th key gets a new segment) is
    * merged into a versioned snapshot — changed keys close their old
    * version at the effective date and open a new current one, full
    * history retained. See [[graft.etl.Scd.scd2Merge]]. */
  private[graft] val scd2Customer = Q("scd2_customer",
    (s, dir) => {
      val cust = t(s, dir, "customer")
      val current = cust.select(col("c_custkey").as("key"),
        col("c_mktsegment").as("segment"),
        to_date(lit("2024-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"),
        lit(true).as("is_current"))
      val updates = cust.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("key"), lit("UPDATED").as("segment"))
      graft.etl.Scd.scd2Merge(current, updates, "key", Seq("segment"),
        to_date(lit("2024-06-01")))
        .select("key", "segment", "valid_from", "valid_to", "is_current")
        .orderBy("key", "valid_from")
    },
    Some("""WITH cur AS (SELECT c_custkey AS key, c_mktsegment AS segment
        FROM customer),
      changed AS (SELECT u.key, u.segment FROM
        (SELECT c_custkey AS key, 'UPDATED' AS segment FROM customer
         WHERE c_custkey % 7 = 0) u
        JOIN cur c ON u.key = c.key
        WHERE u.segment IS DISTINCT FROM c.segment)
      SELECT key, segment, CAST('2024-01-01' AS DATE) AS valid_from,
        CASE WHEN key IN (SELECT key FROM changed)
          THEN CAST('2024-06-01' AS DATE) END AS valid_to,
        key NOT IN (SELECT key FROM changed) AS is_current
      FROM cur
      UNION ALL
      SELECT key, segment, CAST('2024-06-01' AS DATE) AS valid_from,
        NULL AS valid_to, true AS is_current
      FROM changed
      ORDER BY key, valid_from"""))

  /** Rank-function family on a partitioned window: dense_rank,
    * percent_rank, cume_dist per market segment by (acctbal, custkey)
    * — the tie-break totalizes the order so ranks are deterministic;
    * the rank ratios are exact integer divisions evaluated identically
    * in both engines. Bounded id range keeps the output readable. */
  private[graft] val windowRanks = Q("window_ranks",
    (s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .filter(col("c_custkey") < 200)
        .select(col("c_mktsegment").as("segment"), col("c_custkey"),
          dense_rank().over(w).cast("long").as("drank"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
        .orderBy("segment", "c_custkey")
    },
    Some("""SELECT c_mktsegment AS segment, c_custkey,
      CAST(DENSE_RANK() OVER w AS BIGINT) AS drank,
      PERCENT_RANK() OVER w AS prank,
      CUME_DIST() OVER w AS cdist
      FROM customer WHERE c_custkey < 200
      WINDOW w AS (PARTITION BY c_mktsegment
        ORDER BY c_acctbal, c_custkey)
      ORDER BY segment, c_custkey"""))

  /** Date-spine gap fill: a generated calendar left-joined to the daily
    * counts so empty days appear as zeros (every reporting layer needs
    * this; a missing day is not the same as a zero day). */
  private[graft] val dailySpine = Q("kpi_daily_spine",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n"))
      val spine = daily.agg(min(col("date")).as("mn"),
        max(col("date")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"))).as("date"))
      spine.join(daily, Seq("date"), "left")
        .select(col("date"), coalesce(col("n"), lit(0L)).as("n_events"))
        .orderBy("date")
    },
    Some("""WITH d AS (SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n
        FROM events GROUP BY 1),
      b AS (SELECT MIN(date) AS mn, MAX(date) AS mx FROM d),
      spine AS (SELECT CAST(unnest(generate_series(mn, mx,
        INTERVAL 1 DAY)) AS DATE) AS date FROM b)
      SELECT s.date, COALESCE(d.n, 0) AS n_events
      FROM spine s LEFT JOIN d USING (date) ORDER BY s.date"""))

  /** Correlated SCALAR subquery — the relational-surface feature the
    * DataFrame rows don't exercise: per-customer order count written
    * as `(SELECT COUNT(*) ... WHERE o_custkey = c.c_custkey)`.
    * Catalyst DECORRELATES this into a left-outer aggregate join (one
    * shuffle on the join key, no per-row subquery execution — the
    * naive nested-loop reading is quadratic at 100 TB; the decorrelated
    * plan is the same shape a hand-written join would give). COUNT
    * over integers keeps both engines exact, and the no-match
    * COALESCE-to-0 semantics of scalar COUNT subqueries are part of
    * what's verified. */
  private[graft] val corrScalarSubquery = Q("corr_scalar_subquery",
    (s, dir) => Tables.sql(s, "customer_csq" -> t(s, dir, "customer"),
        "orders_csq" -> t(s, dir, "orders"))(
      """SELECT * FROM (
          SELECT c_custkey,
            (SELECT COUNT(*) FROM orders_csq o
             WHERE o.o_custkey = c.c_custkey) AS n_orders
          FROM customer_csq c)
        WHERE n_orders >= 15 ORDER BY c_custkey"""),
    Some("""SELECT * FROM (
        SELECT c_custkey,
          (SELECT COUNT(*) FROM orders o
           WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer c)
      WHERE n_orders >= 15 ORDER BY c_custkey"""))

  /** LATERAL correlated subquery with ORDER BY + LIMIT — top-2 orders
    * per market segment as a lateral per-row subquery instead of a
    * window. Spark decorrelates the LIMIT-bearing lateral into a
    * ranked join (no per-segment re-scan of orders); total order
    * inside the lateral (price DESC, orderkey) makes the pick
    * deterministic, and prices are compared, never summed, so the
    * doubles are safe cross-engine. */
  private[graft] val lateralTopn = Q("lateral_topn",
    (s, dir) => Tables.sql(s, "customer_lat" -> t(s, dir, "customer"),
        "orders_lat" -> t(s, dir, "orders"))(
      """SELECT seg.c_mktsegment, t.o_orderkey, t.o_totalprice
        FROM (SELECT DISTINCT c_mktsegment FROM customer_lat) seg,
        LATERAL (SELECT o.o_orderkey, o.o_totalprice
          FROM orders_lat o JOIN customer_lat c
            ON o.o_custkey = c.c_custkey
          WHERE c.c_mktsegment = seg.c_mktsegment
          ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
        ORDER BY seg.c_mktsegment, t.o_orderkey"""),
    Some("""SELECT seg.c_mktsegment, t.o_orderkey, t.o_totalprice
      FROM (SELECT DISTINCT c_mktsegment FROM customer) seg,
      LATERAL (SELECT o.o_orderkey, o.o_totalprice
        FROM orders o JOIN customer c
          ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = seg.c_mktsegment
        ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 2) t
      ORDER BY seg.c_mktsegment, t.o_orderkey"""))

  /** NATIVE recursive CTE (Spark 4 `WITH RECURSIVE`; the recursion is
    * UNION ALL semantics — Spark rejects distinct-UNION recursion, so
    * cyclic closures stay with the iterative
    * [[graft.llmops.Dedup.dedupClusters]]): the daily spine generated
    * by recursion instead of `sequence()`, hash-matched against the
    * identical DuckDB recursion — proving the recursive execution
    * itself, and giving kpi_daily_spine a second independent
    * formulation. The termination bound rides IN the recursion rows
    * (spine carries mx from the anchor) rather than as a scalar
    * subquery in the step's WHERE: Spark re-evaluates the step plan
    * every iteration, so a correlated `(SELECT MAX … FROM events)`
    * bound re-scanned the fact ~30 times — carrying the bound made
    * each step a frontier-local projection and took the row 6.5 s →
    * 0.7 s at sf0.1 (round 9; the round-8 drift was exactly the
    * per-iteration rescan getting costlier with the events reader). */
  private[graft] val recursiveCteSpine = Q("recursive_cte_spine",
    (s, dir) => Tables.sql(s, "events_rcte" -> events(s, dir))(
      """WITH RECURSIVE bounds AS (
          SELECT MIN(CAST(ts AS DATE)) AS mn, MAX(CAST(ts AS DATE)) AS mx
          FROM events_rcte),
        spine(date, mx) AS (
          SELECT mn, mx FROM bounds
          UNION ALL
          SELECT date_add(date, 1), mx FROM spine WHERE date < mx),
        d AS (SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n
          FROM events_rcte GROUP BY 1)
        SELECT spine.date, COALESCE(d.n, 0) AS n_events
        FROM spine LEFT JOIN d USING (date) ORDER BY spine.date"""),
    Some("""WITH RECURSIVE bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS mn, MAX(CAST(ts AS DATE)) AS mx
        FROM events),
      spine(date, mx) AS (
        SELECT mn, mx FROM bounds
        UNION ALL
        SELECT CAST(date + INTERVAL 1 DAY AS DATE), mx FROM spine
        WHERE date < mx),
      d AS (SELECT CAST(ts AS DATE) AS date, COUNT(*) AS n
        FROM events GROUP BY 1)
      SELECT spine.date, COALESCE(d.n, 0) AS n_events
      FROM spine LEFT JOIN d USING (date) ORDER BY spine.date"""))

  /** Weighted PageRank over the nation-level trade graph
    * ([[graft.etl.Graph.weightedPageRank]]): edges = customer-nation →
    * supplier-nation weighted by lineitem count (one aggregation over
    * the 4-table star — the only data-sized shuffle), then 5 rounds of
    * integer-quantized power iteration. The oracle replays the SAME
    * integer recurrence as a DuckDB recursive CTE — BIGINT floor-div
    * arithmetic is shuffle-order-independent and bit-identical across
    * engines, so the full 25-row rank vector hash-matches, where a
    * float PageRank would drift in the 15th decimal and flip hash
    * bits. The iterative-join-per-round plan (rank vector
    * localCheckpointed, edges partitioned by src, map-side partial
    * aggregation on dst) is the CC loop's shape and scales the same
    * way: rounds × one shuffle over the EDGE aggregate, never over
    * the raw fact. */
  private[graft] val graphPagerank = Q("graph_pagerank",
    (s, dir) => {
      val edges = tradeEdges(s, dir)
      val nodes = t(s, dir, "nation").select("n_nationkey")
      Scratch.scoped {
        graft.etl.Graph.weightedPageRank(edges, nodes, iterations = 5)
          .join(t(s, dir, "nation"),
            col("node") === col("n_nationkey"))
          .select(col("node"), col("n_name"), col("rank_micro"))
          .orderBy(col("rank_micro").desc, col("node"))
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH RECURSIVE
      edges AS (
        SELECT c_nationkey AS src, s_nationkey AS dst,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1),
      ranks(iter, node, rank_micro) AS (
        SELECT 0, n_nationkey, CAST(1000000 AS BIGINT) FROM nation
        UNION ALL
        SELECT * FROM (
          SELECT COALESCE(c.iter, MAX(c.iter) OVER ()) + 1 AS iter,
            n.n_nationkey AS node,
            CAST(150000 + (85 * COALESCE(c.inflow, 0)) // 100
              AS BIGINT) AS rank_micro
          FROM nation n LEFT JOIN (
            SELECT e.dst AS dst, r.iter AS iter,
              SUM((r.rank_micro * e.w) // o.outw) AS inflow
            FROM ranks r
            JOIN outw o ON o.src = r.node
            JOIN edges e ON e.src = r.node
            WHERE r.iter < 5
            GROUP BY 1, 2) c ON c.dst = n.n_nationkey)
        WHERE iter IS NOT NULL)
      SELECT node, n_name, rank_micro
      FROM ranks JOIN nation ON node = n_nationkey
      WHERE iter = 5
      ORDER BY rank_micro DESC, node"""))

  /** HITS hubs/authorities over the SAME nation-level trade graph as
    * [[graphPagerank]] ([[graft.etl.Graph.hits]]): customer nations
    * are hubs (they point), supplier nations authorities (they are
    * pointed at), 4 rounds of integer-quantized power iteration with
    * max-normalization each half-step. The degree-normalized
    * contributions keep every raw score ≤ n_nodes × 1e6, so the ×1e6
    * normalization multiply stays inside BIGINT at any edge weight —
    * the recurrence an unnormalized HITS would overflow on a 100 TB
    * edge aggregate. The oracle replays the identical recurrence as a
    * DuckDB recursive CTE (both half-steps chained inside one
    * recursion step), hash-matching the full 25-row hub+auth vector —
    * float HITS would drift per summation order. Per-round plan: two
    * (join + map-side-combined groupBy) half-steps over the
    * edge-aggregate checkpoint plus two 1-row max aggregates
    * broadcast back onto the node-sized vector; the round checkpoints
    * are released when the scope's eager result cut has consumed them. */
  private[graft] val graphHits = Q("graph_hits",
    (s, dir) => {
      val edges = tradeEdges(s, dir)
      val nodes = t(s, dir, "nation").select("n_nationkey")
      Scratch.scoped {
        graft.etl.Graph.hits(edges, nodes, iterations = 4)
          .join(t(s, dir, "nation"), col("node") === col("n_nationkey"))
          .select(col("node"), col("n_name"), col("hub_micro"),
            col("auth_micro"))
          .orderBy(col("auth_micro").desc, col("node"))
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH RECURSIVE
      edges AS (
        SELECT c_nationkey AS src, s_nationkey AS dst,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1),
      inw AS (SELECT dst, SUM(w) AS inw FROM edges GROUP BY 1),
      nodes AS (SELECT n_nationkey AS node FROM nation),
      hits(iter, node, hub_micro, auth_micro) AS (
        SELECT 0, node, CAST(1000000 AS BIGINT), CAST(0 AS BIGINT)
        FROM nodes
        UNION ALL
        SELECT * FROM (
          WITH prev AS (SELECT * FROM hits WHERE iter < 4),
          araw AS (
            SELECT n.node, p.iter,
              COALESCE(SUM((p2.hub_micro * e.w) // o.outw), 0) AS raw
            FROM nodes n
            CROSS JOIN (SELECT DISTINCT iter FROM prev) p
            LEFT JOIN edges e ON e.dst = n.node
            LEFT JOIN outw o ON o.src = e.src
            LEFT JOIN prev p2 ON p2.node = e.src
            GROUP BY 1, 2),
          anorm AS (
            SELECT node, iter,
              CAST(raw * 1000000 // GREATEST(MAX(raw) OVER (), 1)
                AS BIGINT) AS auth_micro
            FROM araw),
          hraw AS (
            SELECT n.node, a.iter,
              COALESCE(SUM((a2.auth_micro * e.w) // i.inw), 0) AS raw
            FROM nodes n
            CROSS JOIN (SELECT DISTINCT iter FROM anorm) a
            LEFT JOIN edges e ON e.src = n.node
            LEFT JOIN inw i ON i.dst = e.dst
            LEFT JOIN anorm a2 ON a2.node = e.dst
            GROUP BY 1, 2),
          hnorm AS (
            SELECT node, iter,
              CAST(raw * 1000000 // GREATEST(MAX(raw) OVER (), 1)
                AS BIGINT) AS hub_micro
            FROM hraw)
          SELECT h.iter + 1, h.node, h.hub_micro, a.auth_micro
          FROM hnorm h JOIN anorm a USING (node, iter)))
      SELECT node, n_name, hub_micro, auth_micro
      FROM hits JOIN nation ON node = n_nationkey
      WHERE iter = 4
      ORDER BY auth_micro DESC, node"""))

  /** The supplier–part bipartite edge list (src, dst) of the k-core
    * family and its edge artifacts: parity encoding disjoints the two
    * key spaces at ANY scale (suppliers even, parts odd) — a fixed
    * offset collides once s_suppkey outgrows it, the
    * graph_bfs_depth/graph_sssp lesson. */
  private def supplierPartEdges(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "lineitem").select(
      (col("l_suppkey").cast("long") * 2).as("src"),
      (col("l_partkey").cast("long") * 2 + 1).as("dst"))

  /** k-core decomposition ([[graft.etl.Graph.coreness]]) of the
    * supplier–part bipartite graph: suppliers and parts are nodes
    * (parity-encoded 2k / 2k+1 to disjoint the key spaces at any
    * scale — a fixed offset collides once keys outgrow it), each distinct
    * (supplier, part) lineitem pairing an undirected edge; 6 rounds
    * of the distributed h-index iteration — converged at round 3
    * (sf0.01) / round 5 (sf0.1), and the fixed budget makes the run
    * hash-comparable at ANY round count regardless. Coreness is the
    * curation-grade connectivity signal (a part in the 30-core is
    * multi-sourced and resilient; a 1-core part has a single fragile
    * supplier chain) and the recurrence is all-BIGINT, so no
    * quantization step is needed at all. The oracle replays the
    * identical recurrence as a DuckDB recursive CTE with the same
    * per-node descending-rank window. */
  private[graft] val graphKcore = Q("graph_kcore",
    (s, dir) => {
      Scratch.scoped {
        kcoreSides(graft.etl.Graph.coreness(supplierPartEdges(s, dir),
            iterations = 6))
          .orderBy(col("side"), col("id"))
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH RECURSIVE
      und AS (SELECT DISTINCT src, dst FROM (
          SELECT CAST(l_suppkey AS BIGINT) * 2 AS src,
            CAST(l_partkey AS BIGINT) * 2 + 1 AS dst FROM lineitem
          UNION ALL
          SELECT CAST(l_partkey AS BIGINT) * 2 + 1,
            CAST(l_suppkey AS BIGINT) * 2 FROM lineitem) u
        WHERE src <> dst),
      kc(iter, node, c) AS (
        SELECT 0, src, CAST(COUNT(*) AS BIGINT) FROM und GROUP BY 1, 2
        UNION ALL
        SELECT * FROM (
          WITH prev AS (SELECT * FROM kc WHERE iter < 6),
          nb AS (
            SELECT u.src AS node, p.iter, p.c AS cv,
              ROW_NUMBER() OVER (PARTITION BY u.src, p.iter
                ORDER BY p.c DESC) AS rn
            FROM und u JOIN prev p ON p.node = u.dst)
          SELECT iter + 1, node, CAST(MAX(LEAST(cv, rn)) AS BIGINT)
          FROM nb GROUP BY 1, 2))
      SELECT
        CASE WHEN node % 2 = 1 THEN 'part' ELSE 'supplier' END AS side,
        node // 2 AS id,
        c AS core
      FROM kc WHERE iter = 6
      ORDER BY side, id"""))

  /** One committed graph artifact PER (source dir, artifact kind),
    * shared by the serve rows — the bench-economics fix the round-12
    * verdict asked for: a SERVE row's timed body must measure serving
    * (kernel over the pinned snapshot), not rebuild+commit the
    * artifact on every attempt. The build cost stays priced in its own
    * row (`graph_edges_artifact`), exactly like a 100 TB deployment
    * pays ONE edge build and amortizes it across the kernel family —
    * and `graph_hits_serve`/`graph_ppr_serve` genuinely read ONE
    * committed trade graph, which is the amortization contract their
    * scaladoc states. `build` commits into the given table path and
    * returns the committed version; the table lives in a
    * [[Scratch.dir]] and the memo is a [[Scratch.memo]], so
    * [[Scratch.cleanup]] drops both together. */
  private[graft] final case class Artifact(table: String, version: Long)
  private val artifacts = Scratch.memo[(String, String), Artifact]()
  private[graft] def stagedArtifact(dir: String, kind: String)(
      build: String => Long): Artifact =
    artifacts((dir, kind)) {
      val tbl = s"${Scratch.dir(s"graft_${kind}_mt")}/edges"
      Artifact(tbl, build(tbl))
    }

  /** (node, c) coreness in the k-core rows' (side, id, core) shape:
    * the inverse of the parity encoding (suppliers 2k, parts 2k+1). */
  private def kcoreSides(c: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame =
    c.select(
      when(col("node") % 2 === 1, lit("part"))
        .otherwise(lit("supplier")).as("side"),
      expr("node div 2").as("id"), // integer div: exact at any id
      col("c").as("core"))

  /** The committed supplier–part edge artifact and the 6-round
    * coreness scores over it, shared by `graph_kcore_serve` and
    * `graph_kcore_gate`. One def per artifact, because whichever row
    * runs first builds the ONE shared copy. */
  private def kcoreEdges(s: org.apache.spark.sql.SparkSession,
                         dir: String): Artifact =
    stagedArtifact(dir, "kcore_edges") { tbl =>
      graft.etl.Graph.commitEdges(s, tbl, supplierPartEdges(s, dir))
    }

  private def kcoreScores(s: org.apache.spark.sql.SparkSession,
                          dir: String): Artifact = {
    val edgesSt = kcoreEdges(s, dir)
    stagedArtifact(dir, "kcore_scores") { tbl =>
      val und = graft.etl.Graph.edgesFromManifest(s, edgesSt.table,
        Some(edgesSt.version))
      graft.sources.ManifestTable.commitAppend(s, tbl, kcoreSides(
        graft.etl.Graph.corenessOfUndirected(und, iterations = 6)))
    }
  }

  /** The GRAPH EDGE ARTIFACT build/serve flow — the graph family's
    * instance of the PQ-index versioned build/serve split
    * ([[graft.etl.Graph.commitEdges]]). Motivation is SCALE.md's 100×
    * rehearsals: every undirected kernel's dominating cost is the
    * SAME fact→edge-list distinct-collapse (hits 35.96 s, ppr
    * 16.87 s at 100× — almost entirely edge aggregation), so a 100 TB
    * engine commits the collapsed graph once per corpus version and
    * serves every kernel from the pinned snapshot. The row exercises
    * the full protocol: build v1 (range-clustered by src, footer
    * stats in the manifest), land a REBUILD over a different corpus
    * cut as v2, then read PINNED v1 and reduce it to exact degree
    * statistics — which hash-match DuckDB recomputing them from the
    * fact directly. A swap that disturbed pinned readers, a collapse
    * that kept a self-loop or a parallel edge, or a clustered rewrite
    * that dropped rows would all move the numbers. */
  private[graft] val graphEdgesArtifact = Q("graph_edges_artifact",
    (s, dir) => {
      val fwd = supplierPartEdges(s, dir)
      val tbl = s"${Scratch.dir("graft_edges_mt")}/edges"
      val v1 = graft.etl.Graph.commitEdges(s, tbl, fwd)
      // rebuild-then-swap: a different corpus cut lands as head+1;
      // the pinned v1 read below must not move (the
      // sim_topk_pq_versioned contract, applied to the graph)
      val v2 = graft.etl.Graph.commitEdges(s, tbl,
        fwd.filter(col("src") % 4 === 0))
      require(v2 == v1 + 1, s"edge rebuild did not advance: $v1 -> $v2")
      val deg = graft.etl.Graph.edgesFromManifest(s, tbl, Some(v1))
        .groupBy("src").agg(count(lit(1)).as("d"))
      deg.agg(count(lit(1)).as("n_nodes"),
        sum("d").as("n_directed_edges"),
        max("d").as("max_degree"), min("d").as("min_degree"))
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
        CAST(MIN(d) AS BIGINT) AS min_degree
      FROM deg"""))

  /** k-core SERVED from a committed SCORES artifact — what a 100 TB
    * deployment's serving path actually is. Coreness is a batch
    * property: the build job collapses the fact once into the edge
    * artifact ([[graphEdgesArtifact]]'s flow), runs the h-index kernel
    * over the pinned snapshot ONCE, and commits the resulting score
    * table as its own ManifestTable version; serving is then a pinned
    * manifest read + sort — no kernel per request, the same
    * build/serve split the ANN family ships (`sim_topk_pq_versioned`).
    * Both artifacts build once per JVM ([[stagedArtifact]], dropped by
    * [[Scratch.cleanup]] and rebuilt on next use), so the timed body
    * prices SERVING; the edge build is priced in
    * `graph_edges_artifact` and the kernel in `graph_kcore` (the
    * canonical build+kernel row — since round 15 the gate serves the
    * same committed scores and pays only its one certificate round).
    * Same frozen oracle as `graph_kcore`:
    * served scores must be bit-identical to a fresh kernel run, the
    * guarantee that lets the deployment trust the artifact. */
  private[graft] val graphKcoreServe = Q("graph_kcore_serve",
    (s, dir) => {
      val st = kcoreScores(s, dir)
      graft.sources.ManifestTable.read(s, st.table, Some(st.version))
        .orderBy(col("side"), col("id"))
    },
    graphKcore.oracle)

  /** The k-core CONVERGENCE CERTIFICATE — upgrades `graph_kcore` from
    * budget-matched to certified-exact. The fixed 6-round contract
    * hash-matches an oracle replaying the SAME budget, so an
    * unconverged run would still be "green" on both engines; this
    * gate replays ONE extra h-index round over the final scores and
    * counts changed nodes. The sequence is monotone non-increasing
    * with fixed point = exact coreness (Montresor et al. 2011), so
    * `c_7 == c_6` CERTIFIES the budget sufficed — and the row
    * hard-fails (require) if any node is still contracting, turning
    * data drift that outgrows the budget into a red row instead of a
    * silently-approximate green one. The oracle recomputes the same
    * certificate cross-engine: DuckDB replays 7 rounds and counts the
    * iter-6 → iter-7 diff. */
  private[graft] val graphKcoreGate = Q("graph_kcore_gate",
    (s, dir) => {
      // The certificate replays one extra round over the FINAL scores
      // — and the final scores a deployment actually trusts are the
      // COMMITTED score artifact (the thing graph_kcore_serve reads),
      // so the gate certifies THAT: served scores + pinned edges +
      // ONE hIndexRound + diff. Re-running the whole 6-round kernel
      // here (the pre-round-15 shape) certified a throwaway
      // recomputation and priced the kernel twice per run —
      // graph_kcore remains the canonical build+kernel pricing row,
      // and the serve/gate pair shares its artifacts (kcoreEdges,
      // kcoreScores: one edge collapse + one kernel per JVM, min-of-3
      // keeps the first-touch build out of the row's min).
      val edgesSt = kcoreEdges(s, dir)
      val scoresSt = kcoreScores(s, dir)
      val und = graft.etl.Graph.edgesFromManifest(s, edgesSt.table,
        Some(edgesSt.version))
      // undo the serve projection: node = 2*id (+1 for parts) — the
      // exact inverse of the artifact's parity encoding
      val c6 = graft.sources.ManifestTable.read(s, scoresSt.table,
          Some(scoresSt.version))
        .select((col("id") * 2 +
          when(col("side") === "part", 1L).otherwise(0L)).as("node"),
          col("core").as("c"))
      val changed = graft.etl.Graph.hIndexRound(und, c6)
        .withColumnRenamed("c", "c7")
        .join(c6.withColumnRenamed("c", "c6"), "node")
        .filter(col("c6") =!= col("c7")).count()
      require(changed == 0,
        s"kcore budget 6 NOT converged: $changed nodes still " +
          "contracting — raise the iteration budget")
      import s.implicits._
      Seq((6L, changed, changed == 0L))
        .toDF("budget_rounds", "changed_nodes", "certified")
    },
    Some("""WITH RECURSIVE
      und AS (SELECT DISTINCT src, dst FROM (
          SELECT CAST(l_suppkey AS BIGINT) * 2 AS src,
            CAST(l_partkey AS BIGINT) * 2 + 1 AS dst FROM lineitem
          UNION ALL
          SELECT CAST(l_partkey AS BIGINT) * 2 + 1,
            CAST(l_suppkey AS BIGINT) * 2 FROM lineitem) u
        WHERE src <> dst),
      kc(iter, node, c) AS (
        SELECT 0, src, CAST(COUNT(*) AS BIGINT) FROM und GROUP BY 1, 2
        UNION ALL
        SELECT * FROM (
          WITH prev AS (SELECT * FROM kc WHERE iter < 7),
          nb AS (
            SELECT u.src AS node, p.iter, p.c AS cv,
              ROW_NUMBER() OVER (PARTITION BY u.src, p.iter
                ORDER BY p.c DESC) AS rn
            FROM und u JOIN prev p ON p.node = u.dst)
          SELECT iter + 1, node, CAST(MAX(LEAST(cv, rn)) AS BIGINT)
          FROM nb GROUP BY 1, 2)),
      diff AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS changed
        FROM kc a JOIN kc b ON a.node = b.node
        WHERE a.iter = 6 AND b.iter = 7 AND a.c <> b.c)
      SELECT CAST(6 AS BIGINT) AS budget_rounds,
        changed AS changed_nodes,
        changed = 0 AS certified
      FROM diff"""))

  /** INCREMENTAL edge-artifact maintenance
    * ([[graft.etl.Graph.appendEdges]]): the committed graph is kept
    * current by anti-joining a growth batch's symmetrized edges
    * against the artifact and appending ONLY the new ones — never
    * rebuilding the collapse. The row splits the fact into a base cut
    * (v1 build) and a growth batch chosen to OVERLAP it (every base
    * edge from a supplier also in the batch re-arrives and must be
    * absorbed, not duplicated), appends as v2, and reduces the LATEST
    * snapshot to exact degree statistics plus a duplicate-edge count —
    * which hash-match DuckDB computing the same stats from the FULL
    * fact directly, plus a literal 0. An anti-join that missed (dups)
    * or over-pruned (missing edges) moves the numbers; the version
    * arithmetic pins that the increment landed as an append, not a
    * rewrite. */
  private[graft] val graphEdgesIncremental = Q("graph_edges_incremental",
    (s, dir) => {
      val fwd = supplierPartEdges(s, dir)
      val tbl = s"${Scratch.dir("graft_edges_inc")}/edges"
      // base: suppliers 0..2 mod 4; growth batch: suppliers 1..3 mod 4
      // — the mod-1..2 overlap re-delivers base edges inside the batch
      val v1 = graft.etl.Graph.commitEdges(s, tbl,
        fwd.filter(col("src") % 8 =!= 6)) // src is 2*suppkey: mod-4 on suppkey
      val v2 = graft.etl.Graph.appendEdges(s, tbl,
        fwd.filter(col("src") % 8 =!= 0))
      require(v2 == v1 + 1, s"increment did not append: $v1 -> $v2")
      val latest = graft.etl.Graph.edgesFromManifest(s, tbl)
      val deg = latest.groupBy("src").agg(count(lit(1)).as("d"))
      val dups = latest.groupBy("src", "dst")
        .agg(count(lit(1)).as("k")).filter(col("k") > 1)
        .agg(count(lit(1)).as("dup_edges"))
      deg.agg(count(lit(1)).as("n_nodes"),
          sum("d").as("n_directed_edges"),
          max("d").as("max_degree"), min("d").as("min_degree"))
        .crossJoin(broadcast(dups))
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

  /** INCREMENTAL k-core maintenance over the append-only edge
    * artifact ([[graft.etl.Graph.incrementalCoreness]]) — the row
    * that closes the graph family's last rebuild-shaped gap: edges
    * already updated incrementally (`graph_edges_incremental`), but
    * coreness recomputed from scratch per build. The timed body is
    * the MAINTENANCE SERVE path a deployment runs per CDC batch:
    * read the pinned post-append snapshot, size B from the
    * artifact's own change feed (readAppendsSince — the rows the
    * append actually LANDED, not what the at-least-once batch
    * claimed), then RE-CONVERGE from the COMMITTED base scores: seed
    * min(deg_new, old + B), clamped frontier-restricted h-index
    * rounds to the fixed point (exactness argued in
    * incrementalCoreness's scaladoc — the seed is a sound upper
    * bound, clamped rounds preserve upper bounds, and any reached
    * fixed point is never above the true coreness, so fixed point =
    * exact). The one-time base build + base kernel + sliver append
    * are staged per JVM (stagedArtifact — priced by `graph_kcore` /
    * `graph_edges_incremental`, excluded from this row's min like
    * every serve row's artifacts). Oracle is `graph_kcore`'s
    * recursive CTE over the FULL fact: the strongest possible pin
    * that incremental maintenance equals the from-scratch recompute,
    * checked cross-engine. The withheld cut is a CDC-SIZED SLIVER
    * (1/64 of ONE supplier's parts, ~17 undirected edges) because
    * that is the regime incremental maintenance exists for: seed
    * inflation per node is min(deg − old_core, B), so a
    * streaming-sized B re-converges in a handful of frontier rounds,
    * while a bulk-sized B degenerates the seed to degree-init and
    * the honest answer is the full kernel — the measured crossover
    * sweep is SCALE.md's round-16 table. */
  private[graft] val graphKcoreIncremental = Q("graph_kcore_incremental",
    (s, dir) => {
      def fwd = supplierPartEdges(s, dir)
      // Staged ONCE per JVM (the stagedArtifact economics every serve
      // row uses): base edge artifact v1 = everything except supplier 3's
      // parts ≡ 0 (mod 64) — src is 2·suppkey, dst is 2·partkey+1, a
      // ~10-edge CDC sliver — then the base kernel's scores, then the
      // sliver lands via appendEdges as v2 (absorption exercised: the
      // "batch" is the ENTIRE fact, ~99.99% re-delivered; only the
      // sliver survives the anti-join). The timed body below is the
      // MAINTENANCE SERVE path: pinned post-append read + committed
      // base scores + re-convergence — per-attempt idempotent because
      // every input is a pinned version, never mutated state.
      val edgesSt = stagedArtifact(dir, "kcore_inc_edges") { tbl =>
        graft.etl.Graph.commitEdges(s, tbl,
          fwd.filter(!(col("src") === 6 && col("dst") % 128 === 1)))
      }
      val scoresSt = stagedArtifact(dir, "kcore_inc_scores") { tbl =>
        val und = graft.etl.Graph.edgesFromManifest(s, edgesSt.table,
          Some(edgesSt.version))
        graft.sources.ManifestTable.commitAppend(s, tbl,
          graft.etl.Graph.corenessOfUndirected(und, iterations = 6))
      }
      val appendSt = stagedArtifact(dir, "kcore_inc_append") { _ =>
        graft.etl.Graph.appendEdges(s, edgesSt.table, fwd)
      }
      require(appendSt.version == edgesSt.version + 1,
        s"increment did not append: ${edgesSt.version} -> " +
          s"${appendSt.version}")
      // B = undirected insertions, from the artifact's own change
      // feed (appended rows are direction pairs — symmetrize
      // guarantees it): the bound prices what LANDED, not what the
      // at-least-once batch claimed to deliver
      val b = graft.sources.ManifestTable
        .readAppendsSince(s, edgesSt.table, edgesSt.version)
        .count() / 2
      Scratch.scoped {
        val oldScores = graft.sources.ManifestTable
          .read(s, scoresSt.table, Some(scoresSt.version))
        kcoreSides(graft.etl.Graph.incrementalCoreness(
            graft.etl.Graph.edgesFromManifest(s, edgesSt.table,
              Some(appendSt.version)),
            oldScores, batchEdges = b))
          .orderBy(col("side"), col("id"))
          .scratchCheckpoint(true)
      }
    },
    graphKcore.oracle)

  /** INCREMENTAL k-core under a MIXED insert+DELETE CDC batch — the
    * deletion half [[graphKcoreIncremental]] left open (round-16
    * verdict item 3): real change feeds carry retractions
    * ([[graft.sources.ManifestCdcSource]] emits them), coreness can
    * only FALL under deletion, and the seed argument extends (see
    * [[graft.etl.Graph.incrementalCoreness]]'s lemmas: deletions are
    * monotone-decreasing so they need NO seed allowance — B counts
    * insertions only). Staged once per JVM: base artifact v1 = the
    * fact's edges MINUS a CDC-sized sliver PLUS a synthetic
    * supplier–supplier K8 clique (nodes 4..18 even — impossible in
    * the bipartite supplier–part fact, so the batch's deletion is
    * guaranteed non-trivial and forces a real re-descent on its 8
    * members); exact base scores via degree-seeded descent to fixed
    * point; then the batch lands as v2 = [[graft.etl.Graph.appendEdges]]
    * of the full fact (sliver inserts, ~99.99% absorbed) and
    * v3 = [[graft.etl.Graph.removeEdges]] of the clique — so the
    * post-batch graph is EXACTLY the fact's edge set and the oracle
    * is `graph_kcore`'s full recursive-CTE recompute, the strongest
    * cross-engine pin that mixed maintenance equals rebuild. B is
    * metadata-only ([[graft.sources.ManifestTable.countRows]] delta
    * across the append version — readAppendsSince would rightly
    * refuse to span the delete's rewrite). The timed body is the
    * maintenance serve: pinned post-batch read + committed base
    * scores + re-convergence, per-attempt idempotent. */
  private[graft] val graphKcoreIncrementalDel =
    Q("graph_kcore_incremental_del",
    (s, dir) => {
      def fwd = supplierPartEdges(s, dir)
      // K8 on supplier nodes 4..18: even–even edges cannot occur in
      // the even–odd bipartite fact, so retraction applies exactly
      def clique = {
        import s.implicits._
        (for { a <- 2 to 9; b <- 2 to 9 if a < b }
          yield (a.toLong * 2, b.toLong * 2)).toDF("src", "dst")
      }
      val edgesSt = stagedArtifact(dir, "kcore_del_edges") { tbl =>
        graft.etl.Graph.commitEdges(s, tbl,
          fwd.filter(!(col("src") === 6 && col("dst") % 128 === 3))
            .unionByName(clique))
      }
      // EXACT base scores (the seed lemma needs true old coreness):
      // degree-seeded descent to FIXED POINT — incrementalCoreness
      // with empty old scores and an unbounded allowance degenerates
      // to degree init, and its converged-or-throw contract certifies
      // exactness, unlike a fixed budget
      val scoresSt = stagedArtifact(dir, "kcore_del_scores") { tbl =>
        val und = graft.etl.Graph.edgesFromManifest(s, edgesSt.table,
          Some(edgesSt.version))
        val noScores = und.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("c")).limit(0)
        graft.sources.ManifestTable.commitAppend(s, tbl,
          graft.etl.Graph.incrementalCoreness(und, noScores,
            batchEdges = 1L << 40, maxRounds = 64))
      }
      val batchSt = stagedArtifact(dir, "kcore_del_batch") { _ =>
        val v2 = graft.etl.Graph.appendEdges(s, edgesSt.table, fwd)
        require(v2 == edgesSt.version + 1,
          s"insert batch did not append: ${edgesSt.version} -> $v2")
        val v3 = graft.etl.Graph.removeEdges(s, edgesSt.table, clique)
        require(v3 == v2 + 1,
          s"retraction did not commit: $v2 -> $v3")
        v3
      }
      // B = undirected INSERTIONS only (deletions need no allowance):
      // manifest row-count delta across the pure-append version
      val vAppend = batchSt.version - 1
      val b = (graft.sources.ManifestTable
        .countRows(s, edgesSt.table, Some(vAppend)).get -
        graft.sources.ManifestTable
          .countRows(s, edgesSt.table, Some(edgesSt.version)).get) / 2
      Scratch.scoped {
        val oldScores = graft.sources.ManifestTable
          .read(s, scoresSt.table, Some(scoresSt.version))
        kcoreSides(graft.etl.Graph.incrementalCoreness(
            graft.etl.Graph.edgesFromManifest(s, edgesSt.table,
              Some(batchSt.version)),
            oldScores, batchEdges = b))
          .orderBy(col("side"), col("id"))
          .scratchCheckpoint(true)
      }
    },
    graphKcore.oracle)

  /** The nation-level trade graph (customer nation → supplier nation,
    * weight = lineitem count) that [[graphPagerank]], [[graphHits]]
    * and [[graphPpr]] aggregate from the fact — one def because the
    * WEIGHTED edge artifact's whole point is that ONE build serves the
    * whole kernel family. */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"),
        col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))

  /** ONE committed weighted trade-graph artifact per JVM, shared by
    * `graph_hits_serve` and `graph_ppr_serve` — the amortization
    * contract made literal, and one def so both rows build the same
    * copy whichever runs first. */
  private def tradeArtifact(s: org.apache.spark.sql.SparkSession,
                            dir: String): Artifact =
    stagedArtifact(dir, "trade_w") { tbl =>
      graft.etl.Graph.commitWeightedEdges(s, tbl, tradeEdges(s, dir))
    }

  /** HITS served from the committed WEIGHTED edge artifact
    * ([[graft.etl.Graph.commitWeightedEdges]]): the fact-sized
    * trade-graph aggregation — the dominating cost of every weighted
    * kernel run at 100× (SCALE.md: hits 35.96 s, ppr 16.87 s) — is
    * paid once into a versioned snapshot; the 4-round kernel then
    * joins node-sized score vectors against the artifact's
    * src-clustered files. Frozen oracle = `graph_hits`: served scores
    * must be bit-identical to built scores, the guarantee that lets
    * one build amortize across the family. */
  private[graft] val graphHitsServe = Q("graph_hits_serve",
    (s, dir) => {
      val st = tradeArtifact(s, dir)
      val edges = graft.sources.ManifestTable.read(s, st.table,
        Some(st.version))
      val nodes = t(s, dir, "nation").select("n_nationkey")
      Scratch.scoped {
        graft.etl.Graph.hits(edges, nodes, iterations = 4)
          .join(t(s, dir, "nation"), col("node") === col("n_nationkey"))
          .select(col("node"), col("n_name"), col("hub_micro"),
            col("auth_micro"))
          .orderBy(col("auth_micro").desc, col("node"))
          .scratchCheckpoint(true)
      }
    },
    graphHits.oracle)

  /** Degree ASSORTATIVITY (Newman 2002) of the supplier–part graph —
    * do high-degree nodes attach to high-degree nodes? (Bipartite
    * procurement graphs are typically DISassortative: prolific
    * suppliers serve long-tail parts.) Pearson correlation of endpoint
    * degrees over the symmetrized edge list: degrees come from one
    * count aggregate, two id-keyed joins attach them to each edge
    * end, and ONE aggregate reduces everything to six exact BIGINT
    * moments (n, Σx, Σy, Σxy, Σx², Σy² — products ≤ deg², sums safe to
    * ~10⁹ edges before the hi/lo split [[statsExact]] uses applies).
    * The r formula casts each moment to double BEFORE any
    * cross-moment multiply — identical IEEE trees in both engines, no
    * BIGINT n·Σxy overflow at any scale. */
  private[graft] val graphAssortativity = Q("graph_assortativity",
    (s, dir) => {
      val fwd = supplierPartEdges(s, dir)
      val und = fwd
        .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val deg = und.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
      val m = und
        .join(deg.select(col("node").as("src"), col("d").as("dx")),
          "src")
        .join(deg.select(col("node").as("dst"), col("d").as("dy")),
          "dst")
        .agg(count(lit(1)).as("n"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
      def d(c: Column) = c.cast("double")
      m.select(col("n").as("n_edges"),
        (d(col("sx")) / d(col("n"))).as("mean_deg"),
        ((d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
          (sqrt(d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) *
           sqrt(d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy")))))
          .as("assortativity"))
    },
    Some("""WITH fwd AS (
        SELECT CAST(l_suppkey AS BIGINT) * 2 AS src,
          CAST(l_partkey AS BIGINT) * 2 + 1 AS dst FROM lineitem),
      und AS (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM fwd
        UNION ALL SELECT dst, src FROM fwd)),
      deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY 1),
      m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(dx.d) AS BIGINT) AS sx,
          CAST(SUM(dy.d) AS BIGINT) AS sy,
          CAST(SUM(dx.d * dy.d) AS BIGINT) AS sxy,
          CAST(SUM(dx.d * dx.d) AS BIGINT) AS sxx,
          CAST(SUM(dy.d * dy.d) AS BIGINT) AS syy
        FROM und u
        JOIN deg dx ON dx.node = u.src
        JOIN deg dy ON dy.node = u.dst)
      SELECT n AS n_edges,
        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_deg,
        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
         sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS assortativity
      FROM m"""))

  /** Personalized PageRank ([[graft.etl.Graph.personalizedPageRank]])
    * over the nation trade graph, teleporting only to EUROPE's
    * nations — "rank every trading partner from Europe's point of
    * view", the graph-recommendation primitive [[graphPagerank]]'s
    * global walk can't answer. Same integer recurrence with a
    * seed-gated teleport term; unreachable nodes hold an EXACT zero
    * (an integer invariant — no float epsilon). The oracle replays
    * the recurrence with the same seed CASE in the recursive CTE. */
  private[graft] val graphPpr = Q("graph_ppr",
    (s, dir) => {
      val edges = tradeEdges(s, dir)
      val nodes = t(s, dir, "nation").select("n_nationkey")
      val seeds = t(s, dir, "nation")
        .join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"))
      Scratch.scoped {
        graft.etl.Graph.personalizedPageRank(edges, nodes, seeds,
            iterations = 5)
          .join(t(s, dir, "nation"),
            col("node") === col("n_nationkey"))
          .select(col("node"), col("n_name"), col("rank_micro"))
          .orderBy(col("rank_micro").desc, col("node"))
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH RECURSIVE
      edges AS (
        SELECT c_nationkey AS src, s_nationkey AS dst,
          CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1),
      seeds AS (SELECT n_nationkey AS node FROM nation
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'),
      ranks(iter, node, rank_micro) AS (
        SELECT 0, n_nationkey,
          CAST(CASE WHEN n_nationkey IN (SELECT node FROM seeds)
            THEN 150000 ELSE 0 END AS BIGINT)
        FROM nation
        UNION ALL
        SELECT * FROM (
          SELECT COALESCE(c.iter, MAX(c.iter) OVER ()) + 1 AS iter,
            n.n_nationkey AS node,
            CAST(CASE WHEN n.n_nationkey IN (SELECT node FROM seeds)
              THEN 150000 ELSE 0 END
              + (85 * COALESCE(c.inflow, 0)) // 100 AS BIGINT)
              AS rank_micro
          FROM nation n LEFT JOIN (
            SELECT e.dst AS dst, r.iter AS iter,
              SUM((r.rank_micro * e.w) // o.outw) AS inflow
            FROM ranks r
            JOIN outw o ON o.src = r.node
            JOIN edges e ON e.src = r.node
            WHERE r.iter < 5
            GROUP BY 1, 2) c ON c.dst = n.n_nationkey)
        WHERE iter IS NOT NULL)
      SELECT node, n_name, rank_micro
      FROM ranks JOIN nation ON node = n_nationkey
      WHERE iter = 5
      ORDER BY rank_micro DESC, node"""))

  /** Personalized PageRank served from the SAME weighted edge
    * artifact shape as [[graphHitsServe]] — the second kernel of the
    * family, pinned to its own committed snapshot and hash-matched
    * against `graph_ppr`'s frozen oracle. Together the two rows prove
    * the amortization contract: different kernels (and different
    * seed sets — the serve path re-runs PPR per audience without
    * touching the fact) read one committed graph. */
  private[graft] val graphPprServe = Q("graph_ppr_serve",
    (s, dir) => {
      // reads the SAME committed trade graph as graph_hits_serve:
      // different kernels, different seed sets, one build
      val st = tradeArtifact(s, dir)
      val edges = graft.sources.ManifestTable.read(s, st.table,
        Some(st.version))
      val nodes = t(s, dir, "nation").select("n_nationkey")
      val seeds = t(s, dir, "nation")
        .join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey"))
      Scratch.scoped {
        graft.etl.Graph.personalizedPageRank(edges, nodes, seeds,
            iterations = 5)
          .join(t(s, dir, "nation"), col("node") === col("n_nationkey"))
          .select(col("node"), col("n_name"), col("rank_micro"))
          .orderBy(col("rank_micro").desc, col("node"))
          .scratchCheckpoint(true)
      }
    },
    graphPpr.oracle)

  /** Exact interpolated percentiles — Spark `percentile` and DuckDB
    * `quantile_cont` share the linear-interpolation definition and
    * produce bit-identical doubles (verified empirically). */
  /** IQR OUTLIER FENCE — the standard robust-statistics DQ filter:
    * per-group exact quartiles (same interpolated `percentile` that
    * hash-matches quantile_cont in `stats_quantiles`), Tukey fences at
    * 1.5×IQR, rows outside either fence flagged with WHICH fence and
    * by how much. Plan: one per-group sort for the quartile aggregate
    * (5 groups — broadcast back onto the scan), then a scan-speed
    * comparison — at 100 TB the quartile table is dimension-sized
    * however large the fact is. The fence arithmetic is a fixed IEEE
    * expression over identical quartiles, so the flag set
    * hash-matches cross-engine. */
  private[graft] val outlierIqr = Q("outlier_iqr",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val fences = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.25)").as("q1"),
        expr("percentile(value, 0.75)").as("q3"))
      ev.join(broadcast(fences), Seq("event_type"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
        .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
        .filter(col("value") < col("lo") || col("value") > col("hi"))
        .select(col("event_id"), col("event_type"), col("value"),
          when(col("value") < col("lo"), lit("below_lower"))
            .otherwise(lit("above_upper")).as("fence"),
          (when(col("value") < col("lo"), col("lo") - col("value"))
            .otherwise(col("value") - col("hi"))).as("excess"))
        .orderBy("event_id")
    },
    Some("""WITH f AS (SELECT event_type,
        quantile_cont(value, 0.25) AS q1,
        quantile_cont(value, 0.75) AS q3
      FROM events WHERE value IS NOT NULL GROUP BY 1),
      j AS (SELECT e.event_id, e.event_type, e.value,
        f.q1 - (f.q3 - f.q1) * 1.5 AS lo,
        f.q3 + (f.q3 - f.q1) * 1.5 AS hi
      FROM events e JOIN f USING (event_type)
      WHERE e.value IS NOT NULL)
      SELECT event_id, event_type, value,
        CASE WHEN value < lo THEN 'below_lower'
          ELSE 'above_upper' END AS fence,
        CASE WHEN value < lo THEN lo - value
          ELSE value - hi END AS excess
      FROM j WHERE value < lo OR value > hi
      ORDER BY event_id"""))

  private[graft] val statsQuantiles = Q("stats_quantiles",
    (s, dir) =>
      events(s, dir).agg(
        expr("percentile(value, 0.25)").as("p25"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.75)").as("p75"),
        expr("percentile(value, 0.95)").as("p95")),
    Some("""SELECT quantile_cont(value, 0.25) AS p25,
      quantile_cont(value, 0.5) AS p50,
      quantile_cont(value, 0.75) AS p75,
      quantile_cont(value, 0.95) AS p95 FROM events"""))

  /** Grouped exact percentiles — the partitioned (scale-safe) form of
    * stats_quantiles: one sort per group key, not one global sort. */
  private[graft] val statsQuantilesByGroup = Q("stats_quantiles_by_group",
    (s, dir) =>
      events(s, dir).groupBy("event_type").agg(
        expr("percentile(value, 0.25)").as("p25"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.75)").as("p75"))
        .orderBy("event_type"),
    Some("""SELECT event_type, quantile_cont(value, 0.25) AS p25,
      quantile_cont(value, 0.5) AS p50,
      quantile_cont(value, 0.75) AS p75
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** Native deterministic MODE aggregate — most-frequent value per
    * group with ties broken toward the LOWEST value (Spark's
    * `mode(e, deterministic = true)`), so the answer is stable under
    * any shuffle/merge order. The oracle re-derives it relationally
    * (count + row_number) because tie policy is exactly what a frozen
    * oracle must pin. One hash aggregate per group at scale — the
    * per-group value map is bounded by the bucket domain (10 here). */
  private[graft] val statsMode = Q("stats_mode",
    (s, dir) =>
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(mode(col("user_id") % 10, deterministic = true)
            .as("mode_bucket"),
          count(lit(1)).as("n"))
        .orderBy("event_type"),
    Some("""SELECT event_type, bucket AS mode_bucket, n
      FROM (
        SELECT event_type, bucket, cnt,
          ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY cnt DESC, bucket ASC) AS rn,
          CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM (
          SELECT event_type, user_id % 10 AS bucket, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2))
      WHERE rn = 1 ORDER BY event_type"""))

  /** Rank-error invariant of `approx_percentile`, oracle-checked
    * against a constant: with accuracy `acc`, the sketch guarantees
    * rank error <= n/acc. For each probed quantile the TRUE rank of
    * the returned value (counted exactly from the data) must land
    * within that bound of p·n — the quantile-sketch counterpart of the
    * HLL error gate in sketch_distinct_union. */
  private[graft] val statsApproxCheck = Q("stats_approx_quantile_check",
    (s, dir) => {
      val acc = 1000
      val ev = events(s, dir).filter(col("value").isNotNull)
        .select(col("value"))
      val apx = ev.agg(
        expr(s"approx_percentile(value, array(0.25, 0.5, 0.75), $acc)")
          .as("aps"),
        count(lit(1)).as("n"))
      val probes = apx.select(posexplode(col("aps")).as(Seq("i", "av")),
        col("n"))
        .withColumn("p", element_at(array(lit(0.25), lit(0.5), lit(0.75)),
          col("i") + 1))
      ev.crossJoin(broadcast(probes))
        .groupBy("i", "p", "av", "n")
        .agg(count(when(col("value") <= col("av"), 1)).as("rank_le"))
        .agg(count(when(
          abs(col("rank_le").cast("double") - col("p") * col("n")) >
            col("n").cast("double") / acc + 1.0, 1))
          .as("rank_violations"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS rank_violations"""))

  /** As-of join composed from built-ins (SURVEY §7.3 preference (a)):
    * each purchase picks the latest signup at-or-before it per user,
    * via a tagged union + last(ignoreNulls) running window — one
    * shuffle on user, no range-join explosion. Oracle: DuckDB's native
    * ASOF LEFT JOIN. */
  private[graft] val asofJoin = Q("asof_join",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val signup = ev.filter(col("event_type") === "signup")
        .select("user_id", "ts_us", "event_id")
      graft.etl.Temporal.asofJoinBackward(purch, signup, "user_id",
        "ts_us", "event_id", "signup_event_id")
        .select("event_id", "user_id", "signup_event_id")
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'purchase'),
      s AS (SELECT event_id AS signup_event_id, user_id,
          epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'signup')
      SELECT p.event_id, p.user_id, s.signup_event_id
      FROM p ASOF LEFT JOIN s
        ON p.user_id = s.user_id AND p.ts_us >= s.ts_us
      ORDER BY p.event_id"""))

  /** Interval (range) join, scale-safe: purchases attributed to any
    * 7-day window after a signup by the SAME user — the classic
    * attribution query. Spark would plan the raw `BETWEEN` join as a
    * nested loop; [[graft.etl.IntervalJoin.bucketed]] reformulates it
    * as an equi-join on (user, day-bucket) + exact filter. Oracle:
    * DuckDB executes the naive range join directly — same rows. */
  private[graft] val intervalAttribution = Q("interval_attribution",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts_us").as("lo"),
          (col("ts_us") + lit(7L * 86400 * 1000000)).as("hi"))
      graft.etl.IntervalJoin.bucketed(purchases, "ts_us", windows,
        "lo", "hi", bucketWidth = 86400L * 1000000, keys = Seq("user_id"))
        .groupBy("user_id")
        .agg(count_distinct(col("event_id")).as("attributed_purchases"))
        .orderBy("user_id")
    },
    Some("""SELECT p.user_id,
      COUNT(DISTINCT p.event_id) AS attributed_purchases
      FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        WHERE event_type = 'purchase') p
      JOIN (SELECT user_id, epoch_us(ts) AS lo,
          epoch_us(ts) + CAST(604800000000 AS BIGINT) AS hi FROM events
        WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts_us >= s.lo AND p.ts_us < s.hi
      GROUP BY 1 ORDER BY 1"""))

  /** Rolling z-score anomaly detection over the daily event counts —
    * the monitoring op that flags a day whose volume departs from its
    * own trailing 28-day distribution. The window sums (n, n², count)
    * are EXACT integers (a BIGINT sum over a 28-row frame), so both
    * engines feed the identical mean/variance doubles through the
    * identical IEEE expression tree — the z-scores hash-match without
    * any epsilon. The frame excludes the current row (28 PRECEDING ..
    * 1 PRECEDING): the day under test never contaminates its own
    * baseline. One shuffle on event_type; at 100 TB the window input
    * is the DAILY aggregate (types × days rows), not the raw fact —
    * the detector's cost is fixed by the calendar, not the corpus. */
  private[graft] val anomalyZscore = Q("anomaly_zscore",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("date"))
        .rowsBetween(-28, -1)
      val withSums = daily.select(col("event_type"), col("date"), col("n"),
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

  /** Percentile winsorization — the robust-statistics preprocessing op
    * that caps a measure at its per-group [p05, p95] before averaging,
    * so a handful of extreme rows can't own the mean. Two passes over
    * the group: exact interpolated percentiles (the same `percentile`/
    * `quantile_cont` pair stats_quantiles pins), then a broadcast join
    * of the tiny per-group fence table back onto the fact — the second
    * pass clips and aggregates map-side. The clipped sum accumulates
    * as DECIMAL(18,6) so the average is shuffle-order-independent.
    * At 100 TB: percentile pass shuffles (type, value) pairs only;
    * the fence table is O(groups) rows and always broadcasts. */
  private[graft] val winsorizeClip = Q("winsorize_clip",
    (s, dir) => {
      val ev = events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val fences = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.05)").as("p05"),
          expr("percentile(value, 0.95)").as("p95"))
      val clipped = least(greatest(col("value"), col("p05")), col("p95"))
      ev.join(broadcast(fences), "event_type")
        .groupBy(col("event_type"))
        .agg(first(col("p05")).as("p05"), first(col("p95")).as("p95"),
          (sum(clipped.cast(DecimalType(18, 6))).cast("double") /
            count(lit(1)).cast("double")).as("clipped_avg"),
          count(lit(1)).as("n"),
          sum(when(col("value") < col("p05"), 1L).otherwise(0L))
            .as("n_clipped_lo"),
          sum(when(col("value") > col("p95"), 1L).otherwise(0L))
            .as("n_clipped_hi"))
        .orderBy("event_type")
    },
    Some("""WITH fences AS (
        SELECT event_type,
          quantile_cont(value, 0.05) AS p05,
          quantile_cont(value, 0.95) AS p95
        FROM events WHERE value IS NOT NULL GROUP BY 1)
      SELECT e.event_type, ANY_VALUE(p05) AS p05, ANY_VALUE(p95) AS p95,
        CAST(SUM(CAST(LEAST(GREATEST(value, p05), p95)
          AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS clipped_avg,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clipped_lo,
        CAST(SUM(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_clipped_hi
      FROM events e JOIN fences USING (event_type)
      WHERE value IS NOT NULL
      GROUP BY 1 ORDER BY 1"""))

  /** Snapshot diff — the audit op that reconciles two versions of a
    * keyed table into added / removed / changed rows (the batch twin
    * of manifest_changes' CDC read). Both versions derive
    * deterministically from `customer`: v1 drops custkey % 101 == 0,
    * v2 drops % 89 == 0 and bumps acctbal by 10 where % 97 == 0. The
    * diff is ONE full outer join on the key with null-safe column
    * compares — no row fingerprinting, so float-formatting quirks
    * can't leak into the hash. At 100 TB both sides shuffle once on
    * the key (or zero times when both snapshots are bucketed on it —
    * the bucketed_join layout), and the unchanged majority is filtered
    * before any downstream work. */
  private[graft] val tableDiff = Q("table_diff",
    (s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val v1 = base.filter(col("c_custkey") % 101 =!= 0)
        .select(col("c_custkey").as("k1"), col("c_name").as("name1"),
          col("c_acctbal").as("bal1"))
      val v2 = base.filter(col("c_custkey") % 89 =!= 0)
        .select(col("c_custkey").as("k2"), col("c_name").as("name2"),
          (when(col("c_custkey") % 97 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal"))).as("bal2"))
      v1.join(v2, col("k1") === col("k2"), "full_outer")
        .withColumn("status",
          when(col("k1").isNull, "added")
            .when(col("k2").isNull, "removed")
            .when(col("name1") <=> col("name2") &&
              col("bal1") <=> col("bal2"), "unchanged")
            .otherwise("changed"))
        .filter(col("status") =!= "unchanged")
        .select(coalesce(col("k1"), col("k2")).as("c_custkey"),
          col("status"), col("bal1").as("bal_old"),
          col("bal2").as("bal_new"))
        .orderBy("c_custkey")
    },
    Some("""WITH v1 AS (
        SELECT c_custkey AS k1, c_name AS name1, c_acctbal AS bal1
        FROM customer WHERE c_custkey % 101 <> 0),
      v2 AS (
        SELECT c_custkey AS k2, c_name AS name2,
          CASE WHEN c_custkey % 97 = 0 THEN c_acctbal + 10.0
            ELSE c_acctbal END AS bal2
        FROM customer WHERE c_custkey % 89 <> 0)
      SELECT COALESCE(k1, k2) AS c_custkey,
        CASE WHEN k1 IS NULL THEN 'added'
          WHEN k2 IS NULL THEN 'removed'
          WHEN name1 IS NOT DISTINCT FROM name2
            AND bal1 IS NOT DISTINCT FROM bal2 THEN 'unchanged'
          ELSE 'changed' END AS status,
        bal1 AS bal_old, bal2 AS bal_new
      FROM v1 FULL OUTER JOIN v2 ON k1 = k2
      WHERE CASE WHEN k1 IS NULL THEN 'added'
          WHEN k2 IS NULL THEN 'removed'
          WHEN name1 IS NOT DISTINCT FROM name2
            AND bal1 IS NOT DISTINCT FROM bal2 THEN 'unchanged'
          ELSE 'changed' END <> 'unchanged'
      ORDER BY c_custkey"""))

  /** Per-node triangle counts over the undirected nation trade graph
    * (graph_pagerank's edge list, canonicalized to a < b). The count
    * is the standard two-join enumeration over ordered edges — each
    * triangle a<b<c materializes exactly once, then fans out to its
    * three corners for the per-node tally. On the 25-node nation
    * graph this is a bounded demo; the scale path is the same plan
    * over DEGREE-ordered ids (orient each edge from the lower-degree
    * endpoint), which bounds the join fan-out by the graph's
    * arboricity — the classic distributed triangle-counting
    * reformulation — and every join stays an equi-join Spark hashes. */
  private[graft] val graphTriangles = Q("graph_triangles",
    (s, dir) => {
      val trade = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") =!= col("s_nationkey"))
        .select(least(col("c_nationkey"), col("s_nationkey")).as("a"),
          greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
        .distinct()
      val e1 = trade.select(col("a").as("x"), col("b").as("y"))
      val e2 = trade.select(col("a").as("y2"), col("b").as("z"))
      val e3 = trade.select(col("a").as("x3"), col("b").as("z3"))
      val tri = e1
        .join(e2, col("y") === col("y2"))
        .join(e3, col("x") === col("x3") && col("z") === col("z3"))
        .select(col("x"), col("y"), col("z"))
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("triangles"))
        .join(t(s, dir, "nation"), col("node") === col("n_nationkey"))
        .select(col("node"), col("n_name"), col("triangles"))
        .orderBy("node")
    },
    Some("""WITH und AS (
        SELECT DISTINCT LEAST(c_nationkey, s_nationkey) AS a,
          GREATEST(c_nationkey, s_nationkey) AS b
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE c_nationkey <> s_nationkey),
      tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e1.b = e2.a
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      corners AS (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
      SELECT node, n_name, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM corners JOIN nation ON node = n_nationkey
      GROUP BY 1, 2 ORDER BY 1"""))
  /** Per-type linear trend fit of daily event volume — the capacity-
    * planning op that reduces a month of counts to slope + intercept.
    * The normal-equation inputs (m, Σx, Σy, Σxy, Σx²) accumulate as
    * EXACT BIGINT sums (x is a small day index, y a daily count), so
    * both engines feed identical integers through the identical
    * closed-form division — the fit hash-matches with no epsilon. At
    * 100 TB the regression input is the daily aggregate (types × days
    * rows); the fact table is touched once by the count. Σxy stays in
    * range up to ~1e12 events/day across a 10⁴-day history. */
  private[graft] val statsLinfit = Q("stats_linfit",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("y"))
        .select(col("event_type"),
          datediff(col("date"), lit("2024-01-01").cast("date"))
            .cast("long").as("x"),
          col("y"))
      val sums = daily.groupBy(col("event_type")).agg(
        count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val den = (col("m") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      sums.select(col("event_type"), col("m").as("n_days"),
        round((col("m") * col("sxy") - col("sx") * col("sy"))
          .cast("double") / den, 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          .cast("double") / den, 6).as("intercept"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS date,
          CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2),
      xy AS (
        SELECT event_type,
          CAST(datediff('day', DATE '2024-01-01', date) AS BIGINT) AS x,
          y
        FROM daily),
      sums AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM xy GROUP BY 1)
      SELECT event_type, m AS n_days,
        ROUND(CAST(m * sxy - sx * sy AS DOUBLE) /
          CAST(m * sxx - sx * sx AS DOUBLE), 6) AS slope,
        ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE) /
          CAST(m * sxx - sx * sx AS DOUBLE), 6) AS intercept
      FROM sums ORDER BY 1"""))

  /** First-order Markov transition matrix over per-user event streams
    * — P(next | prev) for every consecutive event-type pair, the model
    * behind next-action prediction and funnel leak detection. One
    * window pass (lag over the user timeline, event_id tiebreak) pairs
    * each event with its predecessor; the conditional probability is
    * an integer-count ratio so both engines emit identical doubles.
    * At 100 TB: one shuffle on user_id for the lag; the probability
    * window runs over the types×types aggregate, not the fact. */
  private[graft] val eventTransitions = Q("event_transitions",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val pairs = ev
        .select(col("event_type").as("next"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
      val counts = pairs.groupBy(col("prev"), col("next"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev"))
      counts.select(col("prev"), col("next"), col("n"),
        round(col("n").cast("double") /
          sum(col("n")).over(wp).cast("double"), 6).as("p"))
        .orderBy("prev", "next")
    },
    Some("""WITH pairs AS (
        SELECT event_type AS next,
          LAG(event_type, 1) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id) AS prev
        FROM events),
      counts AS (
        SELECT prev, next, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2)
      SELECT prev, next, n,
        ROUND(CAST(n AS DOUBLE) /
          CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE), 6) AS p
      FROM counts ORDER BY prev, next"""))

  /** Event-type co-occurrence with lift — the market-basket op over
    * user behavior: for each unordered type pair, how many users did
    * both, and is that more or less than independence predicts
    * (lift = n_ab·N / (n_a·n_b)). The pair enumeration is a self
    * equi-join of the DISTINCT (user, type) table on user_id with a
    * `<` tiebreak, so per-user fan-out is bounded by the type-enum
    * square, never by event volume; the singles and grand total are
    * tiny broadcast sides. All counts are exact BIGINTs; the two
    * ratios are single double divisions both engines fold
    * identically. */
  private[graft] val eventCooccurrence = Q("event_cooccurrence",
    (s, dir) => {
      val ut = events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val totals = ut.agg(countDistinct(col("user_id")).as("n_users"))
      val singles = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"))
      val a = ut.select(col("user_id"), col("event_type").as("ta"))
      val b = ut.select(col("user_id").as("uid_b"),
        col("event_type").as("tb"))
      a.join(b, col("user_id") === col("uid_b") && col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_ab"))
        .join(broadcast(singles.select(col("event_type").as("ta"),
          col("n_t").as("n_a"))), "ta")
        .join(broadcast(singles.select(col("event_type").as("tb"),
          col("n_t").as("n_b"))), "tb")
        .crossJoin(broadcast(totals))
        .select(col("ta"), col("tb"), col("n_ab"), col("n_a"),
          col("n_b"),
          round(col("n_ab").cast("double") /
            col("n_users").cast("double"), 6).as("support"),
          round((col("n_ab") * col("n_users")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
        .orderBy("ta", "tb")
    },
    Some("""WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events),
      totals AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM ut),
      singles AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t
        FROM ut GROUP BY 1),
      pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
          CAST(COUNT(*) AS BIGINT) AS n_ab
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
      SELECT ta, tb, n_ab, sa.n_t AS n_a, sb.n_t AS n_b,
        ROUND(CAST(n_ab AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
          AS support,
        ROUND(CAST(n_ab * n_users AS DOUBLE) /
          CAST(sa.n_t * sb.n_t AS DOUBLE), 6) AS lift
      FROM pairs
      JOIN singles sa ON sa.event_type = ta
      JOIN singles sb ON sb.event_type = tb
      CROSS JOIN totals
      ORDER BY ta, tb"""))

  /** MAD-based robust outlier fences — the heavy-tail-safe twin of
    * [[anomalyZscore]]: median and median-absolute-deviation per
    * event type, flagging values beyond median ± 3·1.4826·MAD. Two
    * exact interpolated-percentile passes (the `percentile` /
    * `quantile_cont` pair stats_quantiles pins) with the tiny
    * per-type median table broadcast back between them — the fact
    * table streams through twice, map-side both times. The fence
    * compare runs on raw doubles built from identical inputs, so the
    * outlier counts are engine-exact. */
  private[graft] val anomalyMad = Q("anomaly_mad",
    (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), col("value"), col("med"),
          abs(col("value") - col("med")).as("adev"))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(first(col("med")), 6).as("med"),
          round(first(col("mad")), 6).as("mad"),
          sum(when(col("adev") > col("mad") * lit(1.4826) * lit(3.0),
            1L).otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL),
      med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM ev GROUP BY 1),
      dev AS (
        SELECT ev.event_type, value, med, ABS(value - med) AS adev
        FROM ev JOIN med USING (event_type)),
      mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY 1)
      SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        ROUND(ANY_VALUE(med), 6) AS med,
        ROUND(ANY_VALUE(mad.mad), 6) AS mad,
        CAST(SUM(CASE WHEN adev > mad.mad * 1.4826 * 3.0
          THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev JOIN mad USING (event_type)
      GROUP BY 1 ORDER BY 1"""))
  /** Conversion-latency distribution — the timing dimension the funnel
    * counts lack: for each user's FIRST signup, the time to their
    * first subsequent purchase, summarized as exact interpolated
    * percentiles (p50/p90/p99), mean, and converter count. Latencies
    * are exact BIGINT microsecond differences; the mean divides the
    * exact integer sum once, and the percentile pair is the pinned
    * `percentile`/`quantile_cont` match. Two user-keyed aggregates and
    * one user equi-join — the summary is a single row however large
    * the fact table. */
  private[graft] val funnelLatency = Q("funnel_latency",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(min(col("ts_us")).as("first_signup"))
      val latency = ev.filter(col("event_type") === "purchase")
        .join(signup, Seq("user_id"))
        .filter(col("ts_us") > col("first_signup"))
        .groupBy("user_id")
        .agg((min(col("ts_us")) - first(col("first_signup")))
          .as("lat_us"))
      latency.agg(count(lit(1)).as("n_converters"),
        round(expr("percentile(lat_us, 0.5)") / 1e6, 3).as("p50_sec"),
        round(expr("percentile(lat_us, 0.9)") / 1e6, 3).as("p90_sec"),
        round(expr("percentile(lat_us, 0.99)") / 1e6, 3).as("p99_sec"),
        round(sum(col("lat_us")).cast("double") /
          (count(lit(1)).cast("double") * lit(1e6)), 3).as("mean_sec"))
    },
    Some("""WITH s AS (
        SELECT user_id, MIN(epoch_us(ts)) AS first_signup
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      lat AS (
        SELECT e.user_id,
          MIN(epoch_us(e.ts)) - ANY_VALUE(s.first_signup) AS lat_us
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > s.first_signup
        GROUP BY 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_converters,
        ROUND(quantile_cont(lat_us, 0.5) / 1e6, 3) AS p50_sec,
        ROUND(quantile_cont(lat_us, 0.9) / 1e6, 3) AS p90_sec,
        ROUND(quantile_cont(lat_us, 0.99) / 1e6, 3) AS p99_sec,
        ROUND(CAST(SUM(lat_us) AS DOUBLE) /
          (CAST(COUNT(*) AS DOUBLE) * 1e6), 3) AS mean_sec
      FROM lat"""))

  /** Per-key exponential moving average (α = 0.5) over each user's
    * daily spend series — the smoothing primitive behind trend
    * dashboards and streaming feature stores. Spark has no EWMA
    * built-in; rather than a quadratic self-join or a non-deterministic
    * double cumsum, the fold runs INSIDE one row via
    * `aggregate(array_sort(collect_list(...)))`: one shuffle on the
    * key, then a sequential in-memory fold over the (bounded, horizon-
    * sized) series — at 100 TB the state per key is days-in-horizon,
    * not events. α = 0.5 and DECIMAL(18,2) daily sums make every fold
    * step an exact IEEE op sequence both engines replicate bit-for-bit
    * (halving is exponent arithmetic), so the raw double hash-matches
    * with no rounding. DuckDB twin: `list_reduce(list(x ORDER BY d))`,
    * whose accumulator-first lambda folds in the same order. */
  private[graft] val ewmaValue = Q("ewma_value",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("date"))
        .agg(dsum(col("value")).as("x"))
      daily.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          max(col("date")).as("last_date"),
          aggregate(
            array_sort(collect_list(struct(col("date"), col("x")))),
            lit(null).cast("double"),
            (acc, e) => when(acc.isNull, e.getField("x"))
              .otherwise(e.getField("x") * lit(0.5) + acc * lit(0.5)))
            .as("ewma"))
        .orderBy("user_id")
    },
    Some("""WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS date,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2)
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days,
        MAX(date) AS last_date,
        list_reduce(list(x ORDER BY date),
          (acc, v) -> v * 0.5 + acc * 0.5) AS ewma
      FROM daily GROUP BY user_id ORDER BY user_id"""))

  /** CUSUM changepoint detection over each event type's daily count
    * series: the day where the cumulative deviation from the series
    * mean peaks — the classic single-changepoint estimator behind
    * "when did this metric shift?". All math is scaled to BIGINT
    * (S_t = Σ n·c_i − t·total — the mean-deviation cumsum times n),
    * so the statistic is exact and shuffle-order-independent. One
    * shuffle on the (low-cardinality) key; the cumsum window is
    * sequential within a key but each key's series is horizon-bounded
    * (days, not rows), so at 100 TB the heavy part stays the daily
    * pre-aggregate, which is a plain partial+final count. */
  private[graft] val changepointCusum = Q("changepoint_cusum",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("c"))
      val whole = Window.partitionBy(col("event_type"))
      val seq0 = Window.partitionBy(col("event_type"))
        .orderBy(col("date"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = daily
        .withColumn("n", count(lit(1)).over(whole))
        .withColumn("total", sum(col("c")).over(whole))
        .withColumn("s",
          sum(col("n") * col("c") - col("total")).over(seq0))
      scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(abs(col("s")).desc, col("date"))))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("date").as("cp_date"),
          abs(col("s")).as("s_abs"),
          when(col("s") > 0, lit("up")).otherwise(lit("down"))
            .as("direction"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS date,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      scored AS (
        SELECT event_type, date, c,
          COUNT(*) OVER (PARTITION BY event_type) AS n,
          SUM(c) OVER (PARTITION BY event_type) AS total
        FROM daily),
      cum AS (
        SELECT event_type, date,
          CAST(SUM(n * c - total) OVER (PARTITION BY event_type
            ORDER BY date
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS s
        FROM scored)
      SELECT event_type, date AS cp_date, abs(s) AS s_abs,
        CASE WHEN s > 0 THEN 'up' ELSE 'down' END AS direction
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
          ORDER BY abs(s) DESC, date) AS rk FROM cum)
      WHERE rk = 1 ORDER BY event_type"""))

  /** MATCH_RECOGNIZE-lite: classify every SESSION's ordered journey by
    * regex over its '>'-joined event-type path — sequence-pattern
    * bucketing (converted / error-streak / multi / single) without a
    * row-pattern engine. Reuses `session_paths`' one-shuffle
    * sessionize-collect-sort shape; the regexes then run scan-side on
    * one short string per session (paths are gap-bounded), so pattern
    * cost never touches the raw event volume. Patterns stay in the
    * Java∩RE2 common subset so both engines agree. */
  private[graft] val journeyClassify = Q("journey_classify",
    (s, dir) => {
      val byKey = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val newSess = when(
        col("ts_us") - lag(col("ts_us"), 1).over(byKey) >
          lit(1800L * 1000000L), 1).otherwise(0)
      val paths = events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
        .withColumn("session_id",
          sum(newSess).over(byKey.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          concat_ws(">",
            transform(
              array_sort(collect_list(struct(col("ts_us"),
                col("event_id"), col("event_type")))),
              e => e.getField("event_type"))).as("path"))
      val bucket = when(col("path").rlike("signup.*purchase"),
          lit("converted"))
        .when(col("path").rlike("(^|>)error>error"),
          lit("error_streak"))
        .when(col("n_events") >= 2, lit("multi_event"))
        .otherwise(lit("single_event"))
      paths.withColumn("bucket", bucket)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_events"),
          min(col("user_id")).as("sample_user"))
        .orderBy("bucket")
    },
    Some("""WITH tagged_ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
          CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
            > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        FROM events),
      sess AS (
        SELECT user_id, event_id, event_type, ts_us,
          SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS session_id
        FROM tagged_ev),
      paths AS (
        SELECT user_id, session_id,
          CAST(COUNT(*) AS BIGINT) AS n_events,
          string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        FROM sess GROUP BY 1, 2),
      tagged AS (
        SELECT *, CASE
          WHEN regexp_matches(path, 'signup.*purchase')
            THEN 'converted'
          WHEN regexp_matches(path, '(^|>)error>error')
            THEN 'error_streak'
          WHEN n_events >= 2 THEN 'multi_event'
          ELSE 'single_event' END AS bucket
        FROM paths)
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(n_events) AS BIGINT) AS n_events,
        MIN(user_id) AS sample_user
      FROM tagged GROUP BY bucket ORDER BY bucket"""))

  /** Connected components as a first-class graph query (the same
    * [[graft.llmops.Dedup.connectedComponents]] min-label propagation
    * the dedup clusterer runs, here over a general graph): the sparse
    * order↔part bipartite graph (low-quantity line items), components
    * summarized as a size histogram. Node ids are disjoint by parity
    * (order→2k, part→2k+1) — no magic offsets to collide at scale.
    * Each propagation round is one equi-join + min-aggregate on two
    * longs with localCheckpoint lineage barriers; rounds are bounded
    * by component diameter and stop early on the exact comp-sum
    * convergence signal, so at 100 TB the cost is O(diameter) key
    * shuffles, never a transitive-closure blowup. The DuckDB twin IS
    * the transitive closure (exact, affordable at oracle scale) —
    * agreement proves the iterative path converged to true components.
    */
  private[graft] val graphComponents = Q("graph_components",
    (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2)
        .select((col("l_orderkey") * 2).as("id_a"),
          (col("l_partkey") * 2 + 1).as("id_b"))
      val labels = graft.llmops.Dedup
        .connectedComponents(pairs, iterations = 50)
      labels.groupBy(col("comp"))
        .agg(count(lit(1)).as("comp_size"))
        .groupBy(col("comp_size"))
        .agg(count(lit(1)).as("n_components"),
          min(col("comp")).as("min_comp_id"))
        .orderBy("comp_size")
    },
    Some("""WITH RECURSIVE
      base AS (SELECT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b
        FROM lineitem WHERE l_quantity <= 2),
      edges AS (SELECT a AS src, b AS dst FROM base
        UNION SELECT b, a FROM base),
      reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r
          JOIN edges e ON e.src = r.node),
      comp AS (SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node),
      sizes AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS comp_size
        FROM comp GROUP BY comp)
      SELECT comp_size, CAST(COUNT(*) AS BIGINT) AS n_components,
        MIN(comp) AS min_comp_id
      FROM sizes GROUP BY comp_size ORDER BY comp_size"""))

  /** Welch two-sample t-test — the A/B significance primitive — over
    * per-event spend of two event types. Both engines reduce each
    * group to EXACT integer moments first (cents BIGINT: n, Σx, Σx²;
    * one partial+final aggregate, no row ever leaves the scan), then
    * run the identical double-arithmetic formula on those six exact
    * longs — so the t statistic and Welch–Satterthwaite df hash-match
    * bit-for-bit with no tolerance. Squares stay well inside long
    * range (cents ≤ 49 002 ⇒ x² ≤ 2.4e9); at any scale the moment
    * sums would move to the hi/lo BIGINT split `stats_exact` uses. */
  private[graft] val statsTtest = Q("stats_ttest",
    (s, dir) => {
      val m = events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
          sum(col("c") * col("c")).as("sxx"))
        .withColumn("mean",
          col("sx").cast("double") / col("n").cast("double") / 100.0)
        .withColumn("variance",
          (col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") /
              col("n").cast("double")) /
            (col("n").cast("double") - 1.0) / 10000.0)
      val a = m.filter(col("event_type") === "click")
        .select(col("n").as("n1"), col("mean").as("m1"),
          col("variance").as("v1"))
      val b = m.filter(col("event_type") === "view")
        .select(col("n").as("n2"), col("mean").as("m2"),
          col("variance").as("v2"))
      val se2a = col("v1") / col("n1").cast("double")
      val se2b = col("v2") / col("n2").cast("double")
      a.crossJoin(b).select(
        col("n1"), col("n2"),
        (col("m1") - col("m2")).as("mean_diff"),
        ((col("m1") - col("m2")) / sqrt(se2a + se2b)).as("t_stat"),
        ((se2a + se2b) * (se2a + se2b) /
          (se2a * se2a / (col("n1").cast("double") - 1.0) +
            se2b * se2b / (col("n2").cast("double") - 1.0)))
          .as("welch_df"))
    },
    Some("""WITH m AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(c) AS BIGINT) AS sx,
          CAST(SUM(c * c) AS BIGINT) AS sxx
        FROM (SELECT event_type,
            CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE event_type IN ('click', 'view'))
        GROUP BY event_type),
      mm AS (SELECT event_type, n,
          CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
          (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0
            AS variance
        FROM m),
      a AS (SELECT n AS n1, mean AS m1, variance AS v1 FROM mm
        WHERE event_type = 'click'),
      b AS (SELECT n AS n2, mean AS m2, variance AS v2 FROM mm
        WHERE event_type = 'view')
      SELECT n1, n2, m1 - m2 AS mean_diff,
        (m1 - m2) / sqrt(v1 / CAST(n1 AS DOUBLE) +
          v2 / CAST(n2 AS DOUBLE)) AS t_stat,
        (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)) *
          (v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE)) /
          (v1 / CAST(n1 AS DOUBLE) * (v1 / CAST(n1 AS DOUBLE)) /
            (CAST(n1 AS DOUBLE) - 1.0) +
           v2 / CAST(n2 AS DOUBLE) * (v2 / CAST(n2 AS DOUBLE)) /
            (CAST(n2 AS DOUBLE) - 1.0)) AS welch_df
      FROM a, b"""))

  /** Mann–Whitney U (Wilcoxon rank-sum, tie-corrected, normal
    * approximation) over the same two spend populations as
    * [[statsTtest]] — the nonparametric sibling for when spend is
    * too skewed for Welch. NO global row sort: ranks come from the
    * cents VALUE HISTOGRAM (one groupBy, domain ≤ 49 003 distinct
    * cents — the [[statsSpearman]]/ml_auc justification), where the
    * midrank of a tie group is cum + (t+1)/2; carrying DOUBLED ranks
    * (2·cum + t + 1) keeps the rank-sum an exact BIGINT, and the tie
    * correction Σ(t³−t) is exact alongside it. Every double then
    * emerges from the same five exact longs in both engines with the
    * operation tree written identically, so U, σ and z hash-match
    * bit-for-bit — the [[statsTtest]] discipline. Overflow headroom:
    * Σ a·(2cum+t+1) ≈ n₁·2N ≤ 2·10¹⁸ at N ≈ 10⁹ rows; past that the
    * hi/lo BIGINT split `stats_exact` uses applies, and t³ asks the
    * same once one tie group passes 2·10⁶ rows. */
  private[graft] val statsMannWhitney = Q("stats_mannwhitney",
    (s, dir) => {
      val m = events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          expr("cast(round(value * 100) as bigint)").as("c"))
      val hist = m.groupBy("c").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("a"),
        count(lit(1)).as("t"))
      val wc = boundedWindow(col("c"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val r = hist.select(col("a"), col("t"),
        coalesce(sum(col("t")).over(wc), lit(0L)).as("cum"))
      val agg = r.agg(
        sum(col("a") * (lit(2L) * col("cum") + col("t") + lit(1L)))
          .as("s2"),
        sum(col("a")).as("n1"),
        sum(col("t")).as("n"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie"))
      val n1d = col("n1").cast("double")
      val n2d = (col("n") - col("n1")).cast("double")
      val nd = col("n").cast("double")
      agg.select(
          col("n1"), (col("n") - col("n1")).as("n2"),
          (col("s2").cast("double") / lit(2.0) -
            n1d * (n1d + lit(1.0)) / lit(2.0)).as("u_stat"),
          (n1d * n2d / lit(2.0)).as("mu_u"),
          (n1d * n2d / lit(12.0) * ((nd + lit(1.0)) -
            col("tie").cast("double") / (nd * (nd - lit(1.0)))))
            .as("sigma2_u"))
        .select(col("n1"), col("n2"), col("u_stat"), col("mu_u"),
          ((col("u_stat") - col("mu_u")) / sqrt(col("sigma2_u")))
            .as("z_score"))
    },
    Some("""WITH m AS (SELECT event_type,
          CAST(round(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('click', 'view')),
      hist AS (SELECT c,
          CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS a,
          CAST(COUNT(*) AS BIGINT) AS t
        FROM m GROUP BY c),
      r AS (SELECT a, t,
          COALESCE(SUM(t) OVER (ORDER BY c
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        FROM hist),
      agg AS (SELECT
          CAST(SUM(a * (2 * cum + t + 1)) AS BIGINT) AS s2,
          CAST(SUM(a) AS BIGINT) AS n1,
          CAST(SUM(t) AS BIGINT) AS n,
          CAST(SUM(t * t * t - t) AS BIGINT) AS tie FROM r),
      stat AS (SELECT n1, n - n1 AS n2,
          CAST(s2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) *
            (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u_stat,
          CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 2.0 AS mu_u,
          CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0 *
            ((CAST(n AS DOUBLE) + 1.0) - CAST(tie AS DOUBLE) /
              (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
            AS sigma2_u
        FROM agg)
      SELECT n1, n2, u_stat, mu_u,
        (u_stat - mu_u) / sqrt(sigma2_u) AS z_score
      FROM stat"""))

  /** WEIGHTED median + quartiles — "the median order quantity, where
    * each row counts by its revenue": the warehouse staple plain
    * percentile can't answer (a 1-unit order and a 50-unit order are
    * not the same evidence). Exact and scale-safe by the same
    * value-histogram trick as [[statsMannWhitney]]: quantity is a
    * BOUNDED domain (1..50), so one map-side-combined aggregate
    * yields per-quantity revenue-cent weights, a 50-row cumulative
    * window finds the crossing points, and the quantile conditions
    * are CROSS-MULTIPLIED integers (4·cum ≥ k·total — no /2 or /4
    * fraction ever materializes, so there is no rounding to disagree
    * on). One row out; everything after the scan is a 50-row plan. */
  private[graft] val statsWeightedMedian = Q("stats_weighted_median",
    (s, dir) => {
      val hist = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("q"),
          expr("cast(round(l_extendedprice * 100) as bigint)")
            .as("cents"))
        .groupBy("q").agg(sum(col("cents")).as("w"))
      val wc = boundedWindow(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("q"), col("w"),
        sum(col("w")).over(wc).as("cum"))
      val tot = cum.agg(sum(col("w")).as("total"))
      cum.crossJoin(broadcast(tot))
        .select(col("q"), col("cum"), col("total"))
        .agg(
          min(when(col("cum") * 4 >= col("total"), col("q")))
            .as("wq25"),
          min(when(col("cum") * 2 >= col("total"), col("q")))
            .as("wmedian"),
          min(when(col("cum") * 4 >= col("total") * 3, col("q")))
            .as("wq75"),
          max(col("total")).as("total_cents"))
    },
    Some("""WITH hist AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
          CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
            AS BIGINT) AS w
        FROM lineitem GROUP BY 1),
      cum AS (SELECT q, w,
          CAST(SUM(w) OVER (ORDER BY q ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum
        FROM hist),
      tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM cum)
      SELECT
        MIN(CASE WHEN cum * 4 >= total THEN q END) AS wq25,
        MIN(CASE WHEN cum * 2 >= total THEN q END) AS wmedian,
        MIN(CASE WHEN cum * 4 >= total * 3 THEN q END) AS wq75,
        MAX(total) AS total_cents
      FROM cum CROSS JOIN tot"""))

  /** Cohen's kappa — inter-annotator agreement, the rater-ops
    * primitive behind preference-data quality ([[pref_bradley_terry]]'s
    * upstream question: do the raters even agree?). The two "raters"
    * here are deterministic quality judgments of the same documents —
    * A: char count ≥ 300 (the [[QueriesAnalytics.mlAuc]] label), B:
    * whitespace token count ≥ 60 — so the 2×2 agreement table is
    * reproducible. One aggregate reduces the corpus to four exact
    * BIGINT cells; observed and chance agreement and κ =
    * (p_o − p_e)/(1 − p_e) are identical double trees over those
    * four longs in both engines, so the row hash-matches with no
    * tolerance. At 100 TB the table is the scan's partial-agg output
    * — four longs per partition. */
  private[graft] val statsKappa = Q("stats_kappa",
    (s, dir) => {
      val judged = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("ra"),
          when(size(split(trim(col("text")), "\\s+")) >= 60, 1L)
            .otherwise(0L).as("rb"))
      val cells = judged.agg(
        count(lit(1)).as("n"),
        sum(col("ra") * col("rb")).as("n11"),
        sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
        sum((lit(1L) - col("ra")) * col("rb")).as("n01"))
      val nd = col("n").cast("double")
      val po = (col("n11") + (col("n") - col("n11") - col("n10") -
        col("n01"))).cast("double") / nd
      val pe = (col("n11") + col("n10")).cast("double") / nd *
        ((col("n11") + col("n01")).cast("double") / nd) +
        ((col("n") - col("n11") - col("n10")).cast("double") / nd) *
          ((col("n") - col("n11") - col("n01")).cast("double") / nd)
      cells.select(col("n"), col("n11"), col("n10"), col("n01"),
          po.as("p_observed"), pe.as("p_chance"))
        .select(col("n"), col("n11"), col("n10"), col("n01"),
          col("p_observed"), col("p_chance"),
          ((col("p_observed") - col("p_chance")) /
            (lit(1.0) - col("p_chance"))).as("kappa"))
    },
    Some(raw"""WITH judged AS (
        SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
          CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 60
            THEN 1 ELSE 0 END AS rb
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      cells AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(ra * rb) AS BIGINT) AS n11,
          CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
          CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01
        FROM judged),
      probs AS (SELECT n, n11, n10, n01,
          CAST(n11 + (n - n11 - n10 - n01) AS DOUBLE) /
            CAST(n AS DOUBLE) AS p_observed,
          CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE) *
            (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)) +
          CAST(n - n11 - n10 AS DOUBLE) / CAST(n AS DOUBLE) *
            (CAST(n - n11 - n01 AS DOUBLE) / CAST(n AS DOUBLE))
            AS p_chance
        FROM cells)
      SELECT n, n11, n10, n01, p_observed, p_chance,
        (p_observed - p_chance) / (1.0 - p_chance) AS kappa
      FROM probs"""))

  /** Chi-square test of independence over the customer-segment ×
    * order-status contingency table — "does order status depend on
    * segment?". Per-cell terms use the all-integer identity
    * χ²ᵢⱼ = (N·nᵢⱼ − rᵢ·cⱼ)² / (N·rᵢ·cⱼ): the numerator N·nᵢⱼ − rᵢ·cⱼ
    * is an exact BIGINT, representable exactly as a double below 2⁵³
    * (≈9e15 — holds to N≈10⁸ rows; past that, move the square to the
    * hi/lo BIGINT split `stats_exact` uses), so squaring in double is
    * ONE identically-rounded op per cell in both engines. The
    * final reduction folds the 15 cell terms in sorted (segment,
    * status) order inside one row — double summation order is pinned,
    * so χ² hash-matches bit-for-bit. The only data-sized work is the
    * fact-side count aggregate; everything after runs on a 15-row
    * table. */
  private[graft] val statsChi2 = Q("stats_chi2",
    (s, dir) => {
      val cells = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"))
      val whole = boundedAll
      val withMargins = cells
        .withColumn("r", sum(col("n")).over(
          Window.partitionBy(col("seg"))))
        .withColumn("c", sum(col("n")).over(
          Window.partitionBy(col("status"))))
        .withColumn("total", sum(col("n")).over(whole))
        .withColumn("num",
          (col("total") * col("n") - col("r") * col("c"))
            .cast("double"))
        .withColumn("term",
          (col("num") * col("num")) /
            (col("total").cast("double") * col("r").cast("double") *
              col("c").cast("double")))
      withMargins
        .groupBy()
        .agg(
          count(lit(1)).as("n_cells"),
          countDistinct(col("seg")).as("n_seg"),
          countDistinct(col("status")).as("n_status"),
          aggregate(
            array_sort(collect_list(struct(col("seg"), col("status"),
              col("term")))),
            lit(0.0),
            (acc, e) => acc + e.getField("term")).as("chi2"))
        .select(col("n_cells"),
          ((col("n_seg") - 1) * (col("n_status") - 1)).as("dof"),
          col("chi2"))
    },
    Some("""WITH cells AS (
        SELECT c_mktsegment AS seg, o_orderstatus AS status,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2),
      m AS (
        SELECT seg, status, n,
          SUM(n) OVER (PARTITION BY seg) AS r,
          SUM(n) OVER (PARTITION BY status) AS c,
          SUM(n) OVER () AS total
        FROM cells),
      terms AS (
        SELECT seg, status,
          (CAST(total * n - r * c AS DOUBLE) *
           CAST(total * n - r * c AS DOUBLE)) /
            (CAST(total AS DOUBLE) * CAST(r AS DOUBLE) *
             CAST(c AS DOUBLE)) AS term
        FROM m)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
        CAST((COUNT(DISTINCT seg) - 1) *
          (COUNT(DISTINCT status) - 1) AS BIGINT) AS dof,
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list(term ORDER BY seg, status)),
          (acc, v) -> acc + v) AS chi2
      FROM terms"""))

  /** Multi-source BFS hop distance — "how far is every node from the
    * seed set?" — over the same sparse order↔part graph as
    * `graph_components`, seeds = the 10 smallest node ids. The same
    * iterative shape as min-label propagation (one equi-join + min
    * aggregate per round, localCheckpoint barriers) except the label
    * is hops and convergence is exact when a round changes nothing;
    * rounds are bounded by graph eccentricity, not volume. Unreached
    * nodes report hops = -1 (a real row, not an absent one — silent
    * truncation would vanish them). Output is the hop histogram. The
    * DuckDB twin is the exact recursive closure. */
  private[graft] val graphBfsDepth = Q("graph_bfs_depth",
    (s, dir) => {
      // The parallel-edge dedup stays load-bearing (the round-10
      // lesson: without it every round's frontier join fans out once
      // per duplicate — 37 s → 21 s at the 100× rehearsal, where
      // replicated inputs make duplicate edges the dominant term; the
      // oracle's edge CTE is a deduping UNION already, so it also
      // aligns semantics). Round 11 folded it into the single-scan
      // edge build below and moved the loop to reached-set state —
      // see the in-body comments.
      import org.apache.spark.sql.graft.CheckpointBridge
      // ONE scan, ONE materialization (the graph_sssp round-11 build):
      // symmetrize scan-side, dedup in the same shuffle; the bounded
      // reached side broadcasts each round, so the edge checkpoint is
      // read in place — see graph_sssp's plan-audit note for why a
      // src pre-repartition was dropped.
      // Collapse BEFORE mirroring (round 17, the Graph.symmetrize
      // shape): the distinct shuffles the N directed pairs once and
      // the explode emits both directions narrowly from the collapsed
      // set — the previous explode-first shape shuffled 2N rows into
      // the same aggregate for an identical output set.
      Scratch.scoped {
        val edges = t(s, dir, "lineitem")
          .filter(col("l_quantity") <= 2)
          .select((col("l_orderkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"))
          .distinct()
          .select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .scratchCheckpoint(true)
        // Δ-frontier loop state, exactly graph_sssp's round-11 shape
        // (q.v. for the blocked-convergence argument): the REACHED set
        // (id, hops) is the only loop state — never a dense per-node
        // vector — and rounds run in blocks of K lazy checkpoints with
        // the exact (count, Σhops) aggregate as the one action per
        // block. (A frontier-only variant with a union-tree visited
        // set was measured and rejected: by round r the anti-join
        // re-scanned r cached frames, quadratic stage growth that
        // benched 4.0–4.2 s vs this shape's ~3 s.)
        var reached = edges.select(col("src").as("id")).distinct()
          .orderBy("id").limit(10)
          .select(col("id"), lit(0L).as("hops"))
          .scratchCheckpoint(false)
        def state(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)), sum(col("hops"))).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        var prev = state(reached)
        val blockK = 2
        var converged = false
        var i = 0
        while (i < 50 && !converged) {
          val superseded = scala.collection.mutable.ArrayBuffer(reached)
          var j = 0
          while (j < blockK) {
            val cand = edges.join(reached, edges("src") === col("id"))
              .select(col("dst").as("id"), (col("hops") + 1).as("hops"))
            reached = reached.union(cand)
              .groupBy("id").agg(min(col("hops")).as("hops"))
              .scratchCheckpoint(false)
            superseded += reached
            j += 1
            i += 1
          }
          val cur = state(reached) // one job per K rounds
          superseded.dropRight(1).foreach(CheckpointBridge.release)
          converged = cur == prev
          prev = cur
        }
        val nodes = edges.select(col("src").as("id")).distinct()
        val unreached = nodes
          .join(reached.select(col("id")), Seq("id"), "left_anti")
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
          .select(lit(-1L).as("hops"), col("n_nodes"), col("min_id"))
          .filter(col("n_nodes") > 0)
        reached.groupBy(col("hops"))
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
          .unionByName(unreached)
          .orderBy("hops")
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH RECURSIVE
      base AS (SELECT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b
        FROM lineitem WHERE l_quantity <= 2),
      edges AS (SELECT a AS src, b AS dst FROM base
        UNION SELECT b, a FROM base),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 10),
      reach(id, hops) AS (
        SELECT id, CAST(0 AS BIGINT) FROM seeds
        UNION
        SELECT e.dst, r.hops + 1 FROM reach r
          JOIN edges e ON e.src = r.id
        WHERE r.hops < 50),
      dist AS (SELECT id, MIN(hops) AS hops FROM reach GROUP BY id),
      full_dist AS (
        SELECT n.id, COALESCE(d.hops, -1) AS hops
        FROM nodes n LEFT JOIN dist d ON n.id = d.id)
      SELECT hops, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        MIN(id) AS min_id
      FROM full_dist GROUP BY hops ORDER BY hops"""))

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution:
    * each purchase distributes 1.0 of credit over the user's
    * click/view touches in the prior 7 days — 40% to the first touch,
    * 40% to the last, the 20% middle pool split over interior touches.
    * Credit lives in exact BIGINT micro-units; the middle split is
    * floor division with the remainder assigned to the FIRST interior
    * touch (deterministic, so per-purchase credit sums to exactly
    * 1 000 000 and channel totals are shuffle-order-independent —
    * fractional-credit doubles would not be). The join is user-keyed
    * equi + time-range predicate (the `interval_attribution` shape);
    * the per-purchase position window sees only horizon-bounded touch
    * lists. 1-touch and 2-touch journeys take the whole/half credits
    * (the standard degenerate-form rule). */
  private[graft] val attributionPosition = Q("attribution_position",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts_us").as("p_ts"))
      val touches = ev.filter(col("event_type").isin("click", "view"))
      val joined = touches.join(purchases, Seq("user_id"))
        .filter(col("ts_us") < col("p_ts") &&
          col("ts_us") >= col("p_ts") - lit(7L * 86400 * 1000000))
      val byPurchase = Window.partitionBy(col("user_id"), col("p_id"))
      val pos = joined
        .withColumn("pos", row_number().over(
          byPurchase.orderBy(col("ts_us"), col("event_id"))))
        .withColumn("m", count(lit(1)).over(byPurchase))
      val credit = expr("""CASE
        WHEN m = 1 THEN CAST(1000000 AS BIGINT)
        WHEN m = 2 THEN CAST(500000 AS BIGINT)
        WHEN pos = 1 OR pos = m THEN CAST(400000 AS BIGINT)
        ELSE CAST(200000 AS BIGINT) div (m - 2) +
          IF(pos = 2, CAST(200000 AS BIGINT) % (m - 2),
             CAST(0 AS BIGINT)) END""")
      pos.withColumn("credit", credit)
        .groupBy(col("event_type").as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          (sum(col("credit")).cast("double") / 1e6).as("credit"))
        .orderBy("channel")
    },
    Some("""WITH p AS (
        SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_ts
        FROM events WHERE event_type = 'purchase'),
      t AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events WHERE event_type IN ('click', 'view')),
      j AS (
        SELECT t.user_id, t.event_id, t.event_type, t.ts_us,
          p.p_id, p.p_ts
        FROM t JOIN p ON t.user_id = p.user_id
        WHERE t.ts_us < p.p_ts
          AND t.ts_us >= p.p_ts - CAST(604800000000 AS BIGINT)),
      pos AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY user_id, p_id
            ORDER BY ts_us, event_id) AS BIGINT) AS pos,
          CAST(COUNT(*) OVER (PARTITION BY user_id, p_id) AS BIGINT)
            AS m
        FROM j),
      credited AS (
        SELECT event_type, CASE
          WHEN m = 1 THEN 1000000
          WHEN m = 2 THEN 500000
          WHEN pos = 1 OR pos = m THEN 400000
          ELSE 200000 // (m - 2) +
            CASE WHEN pos = 2 THEN 200000 % (m - 2) ELSE 0 END
          END AS credit
        FROM pos)
      SELECT event_type AS channel,
        CAST(COUNT(*) AS BIGINT) AS n_touches,
        CAST(SUM(credit) AS DOUBLE) / 1e6 AS credit
      FROM credited GROUP BY 1 ORDER BY 1"""))

  /** DATA-DRIVEN multi-touch attribution — the Markov removal-effect
    * model ([[graft.etl.Attribution.removalEffects]], Anderl et al.
    * 2014), the principled alternative to [[attributionPosition]]'s
    * fixed 40/20/40 heuristic: channels are states of an absorbing
    * chain, credit is how much start-state conversion probability
    * drops when the channel is knocked out (edges into it redirected
    * to null, its outgoing edges removed). Journeys truncate at each
    * user's FIRST purchase (prior-purchase running count = 0), states
    * order by (ts, event_id) — a total order, so the transition
    * matrix is reproducible. The data-sized work is two user-
    * partitioned windows + one (src, dst) count aggregate; what the
    * driver fits on is the (channels+2)² transition matrix (the
    * bounded-model-state contract), 12 integer value-iteration rounds
    * per variant. The oracle replays the identical recurrence as a
    * recursive CTE keyed by (variant, state). */
  private[graft] val attributionMarkov = Q("attribution_markov",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val kept = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prior_p", coalesce(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .filter(col("prior_p") === 0)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", lit("conv"))
            .otherwise(col("event_type")).as("state"))
      val seq = kept.select(col("state"),
        row_number().over(w).as("rn"),
        lead(col("state"), 1).over(w).as("nxt"))
      val pairs = seq.filter(col("state") =!= "conv")
        .select(col("state").as("src"),
          coalesce(col("nxt"), lit("null")).as("dst"))
        .unionAll(seq.filter(col("rn") === 1)
          .select(lit("start").as("src"), col("state").as("dst")))
      val trans = pairs.groupBy("src", "dst")
        .agg(count(lit(1)).as("n"))
        .as[(String, String, Long)]
        .collect() // bounded: (channels + 2)^2 enum-domain rows
        .toSeq
      graft.etl.Attribution.removalEffects(trans, iterations = 12)
        .toDF("channel", "v_base", "v_removed", "re_micro",
          "share_micro")
        .orderBy("channel")
    },
    Some("""WITH RECURSIVE
      ev AS (
        SELECT user_id, ts, event_id, event_type,
          COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
            END) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS prior_p
        FROM events),
      kept AS (
        SELECT user_id, ts, event_id,
          CASE WHEN event_type = 'purchase' THEN 'conv'
            ELSE event_type END AS state
        FROM ev WHERE prior_p = 0),
      seq AS (
        SELECT user_id, state,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS rn,
          LEAD(state) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS nxt
        FROM kept),
      pairs AS (
        SELECT state AS src, COALESCE(nxt, 'null') AS dst FROM seq
        WHERE state <> 'conv'
        UNION ALL
        SELECT 'start', state FROM seq WHERE rn = 1),
      trans AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY 1, 2),
      channels AS (SELECT DISTINCT src AS c FROM trans
        WHERE src <> 'start'),
      variants AS (SELECT 'none' AS variant
        UNION ALL SELECT c FROM channels),
      vtrans AS (
        SELECT variant, src,
          CASE WHEN dst = variant THEN 'null' ELSE dst END AS dst,
          CAST(SUM(n) AS BIGINT) AS n
        FROM variants JOIN trans ON src <> variant
        GROUP BY 1, 2, 3),
      vstates AS (
        SELECT DISTINCT variant, s FROM (
          SELECT variant, src AS s FROM vtrans
          UNION ALL SELECT variant, dst FROM vtrans
          UNION ALL SELECT variant, 'conv' FROM variants
          UNION ALL SELECT variant, 'null' FROM variants)),
      nout AS (SELECT variant, src, CAST(SUM(n) AS BIGINT) AS nout
        FROM vtrans GROUP BY 1, 2),
      mc(iter, variant, s, v) AS (
        SELECT 0, variant, s, CASE WHEN s = 'conv'
          THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END
        FROM vstates
        UNION ALL
        SELECT * FROM (
          WITH prev AS (SELECT * FROM mc WHERE iter < 12),
          stepped AS (
            SELECT p.iter, p.variant, p.s,
              CASE WHEN p.s IN ('conv', 'null') THEN p.v
                ELSE COALESCE(
                  COALESCE((
                    SELECT CAST(SUM(t.n * p2.v) AS BIGINT)
                    FROM vtrans t JOIN prev p2
                      ON p2.variant = t.variant AND p2.s = t.dst
                        AND p2.iter = p.iter
                    WHERE t.variant = p.variant AND t.src = p.s), 0)
                  // (SELECT GREATEST(o.nout, 1) FROM nout o
                     WHERE o.variant = p.variant AND o.src = p.s),
                  0)
              END AS v
            FROM prev p)
          SELECT iter + 1, variant, s, v FROM stepped)),
      fin AS (SELECT variant, v FROM mc WHERE iter = 12 AND s = 'start'),
      base AS (SELECT v AS vb FROM fin WHERE variant = 'none'),
      rem AS (SELECT variant AS channel, v AS v_removed FROM fin
        WHERE variant <> 'none'),
      tot AS (SELECT CAST(SUM(GREATEST(vb - v_removed, 0)) AS BIGINT)
        AS sre FROM rem CROSS JOIN base)
      SELECT channel, vb AS v_base, v_removed,
        (vb - v_removed) * 1000000 // GREATEST(vb, 1) AS re_micro,
        (vb - v_removed) * 1000000 // GREATEST(sre, 1) AS share_micro
      FROM rem CROSS JOIN base CROSS JOIN tot
      ORDER BY channel"""))

  /** Deep 3-table join chain (the TPC-H Q3 "shipping priority" shape):
    * segment-filtered customers x date-bounded orders x post-cutoff
    * lineitems, revenue per order, top 10. Revenue quantizes BOTH
    * factors to BIGINT hundredths BEFORE multiplying (price-cents x
    * discount-percent = 1e-4-dollar units), so the per-order sum is
    * pure long arithmetic — exact under any shuffle order and
    * bit-identical in DuckDB; the per-row product stays under ~1e9
    * and a single order has bounded lineitems, so the group sum can
    * never overflow. Scale shape: both joins are equi-joins that
    * shuffle on their natural keys; the segment filter (1/5 of
    * customers) and date filters are pushed to the scans, and the
    * top-10 is TakeOrderedAndProject (per-partition heads, never a
    * global sort). Ties broken by o_orderkey. */
  private[graft] val priorityRevenue = Q("priority_revenue_top10",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"),
          (expr("cast(round(l_extendedprice * 100) as bigint)") *
            expr("cast(round((1.0 - l_discount) * 100) as bigint)"))
            .as("rev_u"))
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("rev_u")).as("rev_units"))
        .orderBy(col("rev_units").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"),
          (col("rev_units").cast("double") / 1e4).as("revenue"),
          to_date(col("o_orderdate")).as("order_date"),
          col("o_orderpriority"))
    },
    Some("""SELECT o_orderkey,
        CAST(rev_units AS DOUBLE) / 1e4 AS revenue,
        order_date, o_orderpriority
      FROM (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
          o_orderpriority,
          CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
            CAST(ROUND((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
            AS rev_units
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3)
      ORDER BY rev_units DESC, o_orderkey LIMIT 10"""))

  /** 6-table join chain (the TPC-H Q5 "local supplier volume" shape):
    * region -> nation -> customer -> orders -> lineitem -> supplier,
    * with the co-location predicate s_nationkey = c_nationkey, revenue
    * per nation for one region-year. Scale shape: region/nation and
    * supplier are broadcast (bounded dimension tables — suppliers
    * scale far slower than facts and carry 2 columns here); customer x
    * orders and orders x lineitem shuffle on their keys. The revenue
    * sum splits each 1e-4-dollar unit product DIV/% 1e6 into two long
    * sums (the `stats_exact` trick) so a nation's total can't overflow
    * before ~1e12 rows, recombined in double at the end — exact and
    * engine-identical. Output ordered by revenue desc with n_name
    * tiebreak. */
  private[graft] val regionalSupplierVolume = Q("regional_supplier_volume",
    (s, dir) => {
      val nat = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = t(s, dir, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (expr("cast(round(l_extendedprice * 100) as bigint)") *
            expr("cast(round((1.0 - l_discount) * 100) as bigint)"))
            .as("rev_u"))
      ord.join(cust, col("o_custkey") === col("c_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey")
          && col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(expr("rev_u DIV 1000000")).as("hi"),
          sum(expr("rev_u % 1000000")).as("lo"))
        .select(col("n_name"),
          ((col("hi").cast("double") * 1e6 + col("lo").cast("double"))
            / 1e4).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""SELECT n_name,
        (CAST(hi AS DOUBLE) * 1e6 + CAST(lo AS DOUBLE)) / 1e4 AS revenue
      FROM (
        SELECT n_name,
          CAST(SUM(ru // 1000000) AS BIGINT) AS hi,
          CAST(SUM(ru % 1000000) AS BIGINT) AS lo
        FROM (
          SELECT n_name,
            CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
              CAST(ROUND((1.0 - l_discount) * 100) AS BIGINT) AS ru
          FROM region
          JOIN nation ON n_regionkey = r_regionkey
          JOIN customer ON c_nationkey = n_nationkey
          JOIN orders ON o_custkey = c_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
            AND s_nationkey = c_nationkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        GROUP BY 1)
      ORDER BY revenue DESC, n_name"""))

  /** Spearman rank correlation of l_quantity vs l_discount — computed
    * entirely from the JOINT VALUE HISTOGRAM, never from per-row
    * ranks: both measures have bounded value domains (50 and 11
    * distinct cent-quantized values), so the only data-sized work is
    * ONE partial-aggregated shuffle onto <= 550 (quantity, discount)
    * cell keys. Average ranks come from cumulative marginal counts
    * (windows over the tiny marginal aggregates — bounded by the value
    * domain, not row count), doubled to stay integral (avg rank is a
    * multiple of 0.5). Rank moments accumulate per-cell as
    * Decimal(38,0) — exact 128-bit integers in both engines, off the
    * codegen path only for the 550-row tail — and are cast to double
    * BEFORE the final Pearson combination, so both engines run the
    * same IEEE expression over identical inputs. Exact while
    * cnt*r2a*r2b < 1e38, i.e. to ~1e11 rows. */
  private[graft] val statsSpearman = Q("stats_spearman",
    (s, dir) => {
      val cells = t(s, dir, "lineitem")
        .select(expr("cast(round(l_quantity * 100) as bigint)").as("qv"),
          expr("cast(round(l_discount * 100) as bigint)").as("dv"))
        .groupBy(col("qv"), col("dv"))
        .agg(count(lit(1)).as("cnt"))
      def ranks(key: String, rk: String) = {
        val w = boundedWindow(col(key))
          .rowsBetween(Window.unboundedPreceding, -1)
        cells.groupBy(col(key)).agg(sum(col("cnt")).as("m"))
          .withColumn("before", coalesce(sum(col("m")).over(w), lit(0L)))
          .select(col(key), (col("before") * 2 + col("m") + 1).as(rk))
      }
      val d38 = DecimalType(38, 0)
      val moments = cells
        .join(broadcast(ranks("qv", "r2a")), Seq("qv"))
        .join(broadcast(ranks("dv", "r2b")), Seq("dv"))
        .select(col("cnt").cast(d38).as("c"),
          col("r2a").cast(d38).as("ra"), col("r2b").cast(d38).as("rb"))
        .agg(sum(col("c")).cast("double").as("n"),
          sum(col("c") * col("ra")).cast("double").as("sa"),
          sum(col("c") * col("rb")).cast("double").as("sb"),
          sum(col("c") * col("ra") * col("ra")).cast("double").as("saa"),
          sum(col("c") * col("rb") * col("rb")).cast("double").as("sbb"),
          sum(col("c") * col("ra") * col("rb")).cast("double").as("sab"))
      moments.select(col("n"),
        ((col("n") * col("sab") - col("sa") * col("sb")) /
          (sqrt(col("n") * col("saa") - col("sa") * col("sa")) *
            sqrt(col("n") * col("sbb") - col("sb") * col("sb"))))
          .as("spearman_qty_discount"))
    },
    Some("""WITH cells AS (
        SELECT CAST(ROUND(l_quantity * 100) AS BIGINT) AS qv,
          CAST(ROUND(l_discount * 100) AS BIGINT) AS dv,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2),
      ra AS (SELECT qv, CAST(2 * COALESCE(SUM(m) OVER (ORDER BY qv
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + m + 1 AS BIGINT) AS r2a
        FROM (SELECT qv, CAST(SUM(cnt) AS BIGINT) AS m
          FROM cells GROUP BY 1)),
      rb AS (SELECT dv, CAST(2 * COALESCE(SUM(m) OVER (ORDER BY dv
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            + m + 1 AS BIGINT) AS r2b
        FROM (SELECT dv, CAST(SUM(cnt) AS BIGINT) AS m
          FROM cells GROUP BY 1)),
      mo AS (SELECT
          CAST(SUM(CAST(cnt AS DECIMAL(38,0))) AS DOUBLE) AS n,
          CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * r2a) AS DOUBLE) AS sa,
          CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * r2b) AS DOUBLE) AS sb,
          CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * r2a * r2a) AS DOUBLE)
            AS saa,
          CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * r2b * r2b) AS DOUBLE)
            AS sbb,
          CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * r2a * r2b) AS DOUBLE)
            AS sab
        FROM cells JOIN ra USING (qv) JOIN rb USING (dv))
      SELECT n, (n * sab - sa * sb) /
          (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))
          AS spearman_qty_discount
      FROM mo"""))

  /** Common-neighbor link prediction over the customer<->part basket
    * graph (who bought what, via orders x lineitem): for every part
    * pair sharing >= 2 buyers, the shared-buyer count and the Jaccard
    * overlap of their buyer neighborhoods, top 100. Scale shape: pair
    * enumeration is a self equi-join ON THE CUSTOMER KEY, so
    * candidates are bounded per customer by their own (quantity-
    * filtered) basket size — never all part pairs; degrees are one
    * groupBy over the deduped edge list, joined back by part key.
    * Jaccard divides two longs — identical IEEE result in both
    * engines; ordering ties break on (part_a, part_b). */
  private[graft] val graphLinkPredict = Q("graph_link_predict",
    (s, dir) => {
      val edges = t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 5)
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .dropDuplicates("c", "p")
      val deg = edges.groupBy(col("p")).agg(count(lit(1)).as("d"))
      val common = edges.select(col("c"), col("p").as("pa"))
        .join(edges.select(col("c"), col("p").as("pb")), Seq("c"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= 2)
      common
        .join(deg.select(col("p").as("pa"), col("d").as("da")), Seq("pa"))
        .join(deg.select(col("p").as("pb"), col("d").as("db")), Seq("pb"))
        .select(col("pa").as("part_a"), col("pb").as("part_b"),
          col("n_common"),
          (col("n_common").cast("double") /
            (col("da") + col("db") - col("n_common")).cast("double"))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
        .limit(100)
    },
    Some("""WITH edges AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity <= 5),
      deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY 1),
      common AS (
        SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM edges a JOIN edges b ON a.c = b.c AND a.p < b.p
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT pa AS part_a, pb AS part_b, n_common,
        CAST(n_common AS DOUBLE) / CAST(da + db - n_common AS DOUBLE)
          AS jaccard
      FROM (SELECT c.pa, c.pb, c.n_common, x.d AS da, y.d AS db
        FROM common c JOIN deg x ON c.pa = x.p JOIN deg y ON c.pb = y.p)
      ORDER BY jaccard DESC, part_a, part_b LIMIT 100"""))

  /** COMMUNITY DETECTION by deterministic synchronous label
    * propagation ([[graft.etl.Graph.labelPropagation]], 4 rounds) over
    * the same bipartite order–part graph as [[graphComponents]] —
    * LPA finds assortative clusters where components only find
    * reachability. Mode-with-min-tie-break per round is a total
    * order, so the assignment is engine-reproducible and the oracle
    * is the SAME four rounds unrolled in DuckDB SQL — each round one
    * neighbor-vote join + per-node argmax, exactly the Spark plan
    * re-expressed. Output: community-size histogram. O(rounds)
    * node-keyed shuffles at any graph size; the fixed round budget is
    * the honest contract (synchronous LPA can oscillate, so
    * "until converged" is not a well-defined stop). */
  private[graft] val graphLabelProp = Q("graph_label_propagation",
    (s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 2)
        .select((col("l_orderkey") * 2).as("id_a"),
          (col("l_partkey") * 2 + 1).as("id_b"))
      Scratch.scoped {
        graft.etl.Graph.labelPropagation(pairs, iterations = 4)
          .groupBy(col("lab"))
          .agg(count(lit(1)).as("comm_size"))
          .groupBy(col("comm_size"))
          .agg(count(lit(1)).as("n_communities"),
            min(col("lab")).as("min_label"))
          .orderBy("comm_size")
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH base AS (SELECT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b
        FROM lineitem WHERE l_quantity <= 2),
      edges AS (SELECT a AS src, b AS dst FROM base
        UNION SELECT b, a FROM base),
      l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),
      n1 AS (SELECT e.src AS node, l.lab, COUNT(*) AS c FROM edges e
        JOIN l0 l ON l.node = e.dst GROUP BY 1, 2),
      l1 AS (SELECT node, lab FROM (SELECT node, lab,
          ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM n1) WHERE rn = 1),
      n2 AS (SELECT e.src AS node, l.lab, COUNT(*) AS c FROM edges e
        JOIN l1 l ON l.node = e.dst GROUP BY 1, 2),
      l2 AS (SELECT node, lab FROM (SELECT node, lab,
          ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM n2) WHERE rn = 1),
      n3 AS (SELECT e.src AS node, l.lab, COUNT(*) AS c FROM edges e
        JOIN l2 l ON l.node = e.dst GROUP BY 1, 2),
      l3 AS (SELECT node, lab FROM (SELECT node, lab,
          ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM n3) WHERE rn = 1),
      n4 AS (SELECT e.src AS node, l.lab, COUNT(*) AS c FROM edges e
        JOIN l3 l ON l.node = e.dst GROUP BY 1, 2),
      l4 AS (SELECT node, lab FROM (SELECT node, lab,
          ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
        FROM n4) WHERE rn = 1),
      sizes AS (SELECT lab, CAST(COUNT(*) AS BIGINT) AS comm_size
        FROM l4 GROUP BY 1)
      SELECT comm_size, CAST(COUNT(*) AS BIGINT) AS n_communities,
        MIN(lab) AS min_label
      FROM sizes GROUP BY 1 ORDER BY 1"""))

  /** In-session abandonment per item — "viewed it this session, never
    * bought it this session": the product-analytics read that joins
    * the sessionization machinery to the per-item funnel (cart/intent
    * abandonment is the e-commerce face; the reference's video twin
    * is started-but-not-finished). Sessions are the lag-gap 30-minute
    * construction over ALL of a user's events (ties broken on
    * event_id); a view is abandoned when NO purchase of the SAME item
    * falls LATER in the SAME session (left anti on the
    * user/session/item key triple plus the time predicate — an
    * equi-join with a residual range condition, never a cross
    * product). Per-item exact counts; rate is the single trailing
    * division. */
  private[graft] val kpiAbandonment = Q("kpi_abandonment",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("item"),
        unix_micros(col("ts")).as("ts_us"))
      val byKey = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val sess = ev
        .withColumn("new_sess", when(col("ts_us") -
          lag(col("ts_us"), 1).over(byKey) > lit(1800L * 1000000L), 1)
          .otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(
          byKey.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val views = sess.filter(col("event_type") === "view" &&
        col("item").isNotNull)
      val purch = sess.filter(col("event_type") === "purchase" &&
          col("item").isNotNull)
        .select(col("user_id").as("pu"), col("session_id").as("ps"),
          col("item").as("pi"), col("ts_us").as("pts"))
      val abandoned = views.join(purch,
        col("user_id") === col("pu") && col("session_id") === col("ps")
          && col("item") === col("pi") && col("pts") > col("ts_us"),
        "left_anti")
      val nv = views.groupBy(col("item"))
        .agg(count(lit(1)).as("n_views"))
      val na = abandoned.groupBy(col("item"))
        .agg(count(lit(1)).as("n_abandoned"))
      nv.join(na, Seq("item"), "left")
        .select(col("item"), col("n_views"),
          coalesce(col("n_abandoned"), lit(0L)).as("n_abandoned"),
          (coalesce(col("n_abandoned"), lit(0L)).cast("double") /
            col("n_views").cast("double")).as("abandonment_rate"))
        .orderBy("item")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, event_type,
        CAST(json_extract_string(props, '$.k') AS INTEGER) AS item,
        epoch_us(ts) AS ts_us
        FROM events),
      marked AS (SELECT *,
          CASE WHEN ts_us - LAG(ts_us) OVER w > 1800000000
            THEN 1 ELSE 0 END AS new_sess
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      sess AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
          ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
          AS session_id
        FROM marked),
      views AS (SELECT * FROM sess
        WHERE event_type = 'view' AND item IS NOT NULL),
      purch AS (SELECT user_id AS pu, session_id AS ps, item AS pi,
          ts_us AS pts FROM sess
        WHERE event_type = 'purchase' AND item IS NOT NULL),
      abandoned AS (SELECT v.* FROM views v
        WHERE NOT EXISTS (SELECT 1 FROM purch p
          WHERE p.pu = v.user_id AND p.ps = v.session_id
            AND p.pi = v.item AND p.pts > v.ts_us)),
      nv AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_views
        FROM views GROUP BY 1),
      na AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_abandoned
        FROM abandoned GROUP BY 1)
      SELECT nv.item, nv.n_views,
        COALESCE(na.n_abandoned, 0) AS n_abandoned,
        CAST(COALESCE(na.n_abandoned, 0) AS DOUBLE) /
          CAST(nv.n_views AS DOUBLE) AS abandonment_rate
      FROM nv LEFT JOIN na ON nv.item = na.item
      ORDER BY nv.item"""))

  /** Sessionization via the BUILT-IN `session_window` aggregate — the
    * same 30-minute-gap concept [[sessionBatch]] derives with
    * lag+cumsum windows, through Spark's native session-window API
    * (the batch face of the streaming session operator
    * `stream_sessions` uses). A cross-METHOD equivalence row, like
    * [[graphSssp]]: the DuckDB oracle re-derives sessions with the
    * lag-gap construction, so the two formulations must agree on
    * every per-user session profile. Boundary semantics pinned by the
    * oracle: `session_window`'s range is [start, last + gap) — an
    * event at EXACTLY last + gap starts a new session, so the lag
    * rule is `diff >= gap`, one `=` away from [[sessionBatch]]'s
    * documented `> gap` convention (both valid; this row pins the
    * native operator's choice so nobody conflates them). */
  private[graft] val sessionWindowBatch = Q("session_window_batch",
    (s, dir) => {
      val sw = events(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
      sw.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n")).as("n_events"),
          max(col("n")).as("max_session_events"))
        .orderBy("user_id")
    },
    Some("""WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us
        FROM events),
      marked AS (SELECT user_id, ts_us,
          CASE WHEN ts_us - LAG(ts_us) OVER w >= 1800000000
            THEN 1 ELSE 0 END AS new_sess
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      sess AS (SELECT user_id,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
            ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked),
      per AS (SELECT user_id, session_id, COUNT(*) AS n
        FROM sess GROUP BY 1, 2)
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        CAST(SUM(n) AS BIGINT) AS n_events,
        CAST(MAX(n) AS BIGINT) AS max_session_events
      FROM per GROUP BY 1 ORDER BY 1"""))

  /** MAP-typed per-user event profile — the one Spark SQL container
    * type the registry didn't yet exercise end-to-end: each user's
    * event counts collapse into a `map<event_type, count>` column
    * (entries array_sort'ed BEFORE map_from_entries so the map's
    * internal order is deterministic), and the output columns are all
    * derived THROUGH map functions — map_keys size, element_at lookup
    * with null-default, and an `aggregate` fold over map_values. The
    * map is the right shape when the enum domain rides along with the
    * row (feature stores serialize exactly this); the plan is one
    * user-keyed aggregate and scan-side map ops. The DuckDB twin
    * produces the same ROWS from plain conditional aggregates — the
    * oracle checks semantics, not container internals (DuckDB 1.0's
    * map_extract returning LIST would make a literal map mirror
    * noisier than the semantics it checks). */
  private[graft] val mapEventProfile = Q("map_event_profile",
    (s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val profiled = counts.groupBy(col("user_id"))
        .agg(map_from_entries(array_sort(collect_list(
          struct(col("event_type"), col("n"))))).as("profile"))
      profiled.select(col("user_id"),
          size(map_keys(col("profile"))).as("n_event_types"),
          coalesce(element_at(col("profile"), "purchase"), lit(0L))
            .as("n_purchases"),
          aggregate(map_values(col("profile")), lit(0L), _ + _)
            .as("n_events"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id,
        CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_event_types,
        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_purchases,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Weighted single-source shortest paths — distributed Bellman-Ford
    * (min-plus relaxation) over the sparse order↔part graph with
    * l_quantity as the edge weight, seeds = the 10 smallest node ids:
    * the weighted upgrade of [[graphBfsDepth]] (hop counting) to
    * "cheapest route", the primitive under latency/cost propagation.
    * Loop state is the REACHED set only — (id, d) for nodes a path
    * has touched — never a dense distance vector: seeded traversal
    * reaches a component, not the graph, so carrying every node's
    * `inf` through every round shuffles the whole node table per
    * round for no information (measured: the dense form moved ~30k
    * rows/round to update 55). Each round is one equi-join of the
    * edge list against the reached set + a min-aggregate over
    * (reached ∪ candidates) — shuffles carry O(|reached|) longs; the
    * bounded reached side broadcasts (plan-audited), so the edge
    * checkpoint's cached blocks are read in place and the per-round
    * edge relation is never re-exchanged. Rounds are bounded by the
    * shortest-path edge
    * diameter. Convergence is EXACT: stop when the (reached-count,
    * Σ distances) pair — both exact BIGINTs — stops moving.
    * Parallel edges collapse to their min weight first (one aggregate)
    * so relaxation never wastes rounds on dominated edges.
    *
    * The DuckDB twin is a DIFFERENT algorithm, which is the point:
    * weights here are 1 or 2, so each weight-2 edge expands through a
    * unique virtual midpoint node and weighted distance becomes plain
    * BFS hop distance on the expanded graph, solved by the recursive
    * closure — an independent derivation that must agree node-for-node
    * with the relaxation. Output: the distance histogram over real
    * nodes (unreached = −1, a real row). */
  private[graft] val graphSssp = Q("graph_sssp",
    (s, dir) => {
      // Job-count disciplines (same three as Dedup.connectedComponents,
      // the round-10 lesson: driver-sequenced job LAUNCHES dominate
      // iterative wall-clock at bench scale): the min-weight edge base
      // materializes ONCE (so each symmetric-union branch reads the
      // aggregate, not re-scans + re-aggregates lineitem) and the
      // unioned edge set ONCE more (every round re-reads it — measured
      // ~10% faster than re-deriving the union per round from the base
      // checkpoint), each round's checkpoint is LAZY with the exact
      // convergence aggregate as its materializing action (one job per
      // round, not two), and superseded round states release
      // deterministically.
      import org.apache.spark.sql.graft.CheckpointBridge
      // ONE scan, ONE materialization: symmetrize scan-side (explode
      // emits both directions of each lineitem edge — a/b parity
      // keeps the directions disjoint) and collapse parallel edges in
      // the same aggregate. The earlier two-checkpoint build (base
      // agg, then union) paid a second materialization for nothing.
      // Round exchanges, plan-audited: the reached side is bounded →
      // the per-round join BROADCASTS it and the edge checkpoint's
      // cached blocks are read in place, zero edge movement. (A
      // pre-repartition by src was measured and dropped: under AQE
      // the checkpoint's partitioning does NOT satisfy a later SMJ's
      // requirement — coalescing changes the partition count — so it
      // bought nothing and cost a build exchange. If a frontier ever
      // outgrows broadcast, the SMJ re-exchanges edges per round;
      // pinning exchange reuse then means bucketing the edge table,
      // not an in-plan repartition.)
      // Collapse BEFORE mirroring (round 17, the Graph.symmetrize
      // shape): min(w) is direction-symmetric, so aggregating the N
      // directed pairs on their canonical form and exploding both
      // directions from the E collapsed rows emits the identical
      // weighted edge set while the exchange carries half the rows of
      // the previous explode-first shape.
      Scratch.scoped {
        val edges = t(s, dir, "lineitem")
          .filter(col("l_quantity") <= 2)
          .select((col("l_orderkey") * 2).as("src"),
            (col("l_partkey") * 2 + 1).as("dst"),
            col("l_quantity").cast("long").as("w"))
          .groupBy(col("src"), col("dst"))
          .agg(min(col("w")).as("w"))
          .select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"),
            col("w"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("w"))
          .scratchCheckpoint(true)
        // reached = (id, d) for touched nodes ONLY (see scaladoc);
        // seeds are the 10 smallest node ids at distance 0
        var reached = edges.select(col("src").as("id")).distinct()
          .orderBy("id").limit(10)
          .select(col("id"), lit(0L).as("d"))
          .scratchCheckpoint(false)
        def state(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
          val r = df.agg(count(lit(1)), sum(col("d"))).head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        var prev = state(reached) // materializes the lazy checkpoint
        // Rounds run in BLOCKS of K lazy-checkpoint rounds with ONE
        // materializing action per block (the LPA/PageRank ladder
        // shape): each round's logical plan is truncated by its lazy
        // checkpoint, and the block-boundary convergence aggregate
        // computes the whole K-round RDD chain in a single job. The
        // block check stays EXACT: reached-count is monotone
        // non-decreasing and, at fixed membership, Σd is monotone
        // non-increasing, so an unchanged (count, Σd) pair across a
        // block means no relaxation fired anywhere inside it.
        val blockK = 2
        var converged = false
        var i = 0
        while (i < 100 && !converged) {
          val superseded = scala.collection.mutable.ArrayBuffer(reached)
          var j = 0
          while (j < blockK) {
            val cand = edges.join(reached, edges("src") === col("id"))
              .select(col("dst").as("id"),
                (col("d") + col("w")).as("d"))
            reached = reached.union(cand)
              .groupBy("id").agg(min(col("d")).as("d"))
              .scratchCheckpoint(false)
            superseded += reached
            j += 1
            i += 1
          }
          val cur = state(reached) // one job per K rounds
          superseded.dropRight(1) // keep the live boundary state
            .foreach(CheckpointBridge.release)
          converged = cur == prev
          prev = cur
        }
        // histogram over reached distances + ONE unreached row (d=-1),
        // derived by an anti-join at the end — the only time the full
        // node set is touched after the seed selection. Eagerly
        // checkpointed (≤ distance-domain rows) so the scope can
        // release the edge + round checkpoints the plan consumed.
        val nodes = edges.select(col("src").as("id")).distinct()
        val unreached = nodes
          .join(reached.select(col("id")), Seq("id"), "left_anti")
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
          .select(lit(-1L).as("d"), col("n_nodes"), col("min_id"))
          .filter(col("n_nodes") > 0)
        reached.groupBy(col("d"))
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_id"))
          .unionByName(unreached)
          .orderBy("d")
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH RECURSIVE
      base AS (SELECT l_orderkey * 2 AS a, l_partkey * 2 + 1 AS b,
          CAST(MIN(l_quantity) AS BIGINT) AS w
        FROM lineitem WHERE l_quantity <= 2 GROUP BY 1, 2),
      expanded AS (
        SELECT a AS u, b AS v FROM base WHERE w = 1
        UNION ALL
        SELECT a AS u, -(a * 4000003 + b) AS v FROM base WHERE w = 2
        UNION ALL
        SELECT -(a * 4000003 + b) AS u, b AS v FROM base WHERE w = 2),
      edges AS (SELECT u AS src, v AS dst FROM expanded
        UNION SELECT v, u FROM expanded),
      nodes AS (SELECT DISTINCT a AS id FROM base
        UNION SELECT DISTINCT b FROM base),
      seeds AS (SELECT id FROM nodes ORDER BY id LIMIT 10),
      reach(id, d) AS (
        SELECT id, CAST(0 AS BIGINT) FROM seeds
        UNION
        SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.id
        WHERE r.d < 250),
      dist AS (SELECT id, MIN(d) AS d FROM reach GROUP BY id),
      full_dist AS (SELECT n.id, COALESCE(dd.d, -1) AS d
        FROM nodes n LEFT JOIN dist dd ON n.id = dd.id)
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        MIN(id) AS min_id
      FROM full_dist GROUP BY 1 ORDER BY 1"""))

}
