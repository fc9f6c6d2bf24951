package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.kpi.Kpi
import graft.Qdsl._

/** Registry part 2 — the KPI layer (SURVEY §2.7) plus the mergeable
  * distinct-visitor sketch union. */
private[graft] object QueriesKpi {
  // ======================================================================
  // KPI layer (SURVEY §2.7, guide p.33-34) over the lineitem star schema
  // ======================================================================

  private[graft] val kpiTotalPlays = Q("kpi_total_plays",
    (s, dir) => Kpi.totalPlays(t(s, dir, "lineitem"), "l_quantity"),
    Some("""SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_plays FROM lineitem"""))

  private[graft] val kpiAvgCompletion = Q("kpi_avg_completion",
    (s, dir) => Kpi.avgCompletion(t(s, dir, "lineitem"), "l_discount"),
    Some("""SELECT CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_completion FROM lineitem"""))

  private[graft] val kpiWatchHours = Q("kpi_watch_hours",
    (s, dir) => Kpi.totalWatchHours(t(s, dir, "lineitem"),
      "l_extendedprice"),
    Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 3600.0 AS total_watch_hours FROM lineitem"""))

  private[graft] val kpiEngagementRate = Q("kpi_engagement_rate",
    (s, dir) => Kpi.engagementRate(t(s, dir, "lineitem"), "l_quantity",
      "l_orderkey"),
    Some("""SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / NULLIF(CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE), 0.0) AS engagement_rate FROM lineitem"""))

  private[graft] val kpiByChannel = Q("kpi_by_channel",
    (s, dir) => Kpi.videosByChannel(t(s, dir, "part"), "p_brand"),
    Some("""SELECT p_brand AS channel, COUNT(*) AS n_videos FROM part
      GROUP BY 1 ORDER BY 1"""))

  private[graft] val kpiDailyTrend = Q("kpi_daily_trend",
    (s, dir) => Kpi.dailyTrend(
      t(s, dir, "lineitem").withColumn("ship_date",
        to_date(col("l_shipdate"))),
      "ship_date", "l_quantity"),
    Some("""SELECT CAST(l_shipdate AS DATE) AS date,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_plays
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** K7: fact ⋈ broadcast(dim) rollup (J1 star join). */
  private[graft] val kpiVideoPerformance = Q("kpi_video_performance",
    (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_name").as("title"))
        .agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_quantity")).as("total_qty"),
          dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("title"),
    Some("""SELECT p_name AS title, COUNT(*) AS n_lines,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY 1"""))

  /** K8: top-N by measure — TakeOrdered, deterministic tie-break. */
  private[graft] val kpiTopVideos = Q("kpi_top_videos",
    (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_name").as("title"))
        .agg(dsum(col("l_extendedprice")).as("revenue"))
        .orderBy(col("revenue").desc, col("title"))
        .limit(10),
    Some("""SELECT p_name AS title,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1 ORDER BY revenue DESC, title LIMIT 10"""))

  /** K9: 4-way dim chain — lineitem→orders→customer→nation→region, all
    * dims broadcast. */
  private[graft] val kpiByCountry = Q("kpi_by_country",
    (s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("country"))
        .agg(
          dsum(col("l_extendedprice")).as("revenue"),
          count_distinct(col("o_custkey")).as("unique_customers"))
        .orderBy("region", "country"),
    Some("""SELECT r.r_name AS region, n.n_name AS country,
      CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      COUNT(DISTINCT o.o_custkey) AS unique_customers
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** K10: first-seen window → daily new-vs-returning split. */
  private[graft] val kpiNewVsReturning = Q("kpi_new_vs_returning",
    (s, dir) => Kpi.newVsReturning(
      t(s, dir, "orders")
        .select(col("o_custkey").as("visitor_id"),
          to_date(col("o_orderdate")).as("order_date")),
      "visitor_id", "order_date"),
    Some("""SELECT order_date AS date, is_new,
      COUNT(DISTINCT visitor_id) AS visitors FROM (
        SELECT o_custkey AS visitor_id,
          CAST(o_orderdate AS DATE) AS order_date,
          CASE WHEN CAST(o_orderdate AS DATE) = MIN(CAST(o_orderdate AS DATE))
            OVER (PARTITION BY o_custkey) THEN 1 ELSE 0 END AS is_new
        FROM orders)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  private[graft] val kpiUniqueVisitors = Q("kpi_unique_visitors",
    (s, dir) => Kpi.uniqueVisitors(
      t(s, dir, "orders").withColumnRenamed("o_custkey", "visitor"),
      "visitor"),
    Some("""SELECT COUNT(DISTINCT o_custkey) AS unique_visitors FROM orders"""))

  /** Mergeable-sketch distinct counting, invariant-oracled: per-day HLL
    * sketches of the visitor set are built once, then UNIONED to answer
    * the all-time distinct — the architecture that answers any
    * date-range distinct query at 100 TB from kilobyte sketches without
    * re-touching raw data (precompute daily, merge at query time).
    * Sketch bits are engine-specific, but the ERROR CONTRACT is not:
    * both the merged estimate and every daily estimate must land within
    * 5% of the exact count (HLL lgConfigK=12 ⇒ ~1.6% std error), so the
    * registered output is the violation count — constant 0. */
  private[graft] val sketchDistinctUnion = Q("sketch_distinct_union",
    (s, dir) => {
      val ev = events(s, dir)
        .select(to_date(col("ts")).as("date"), col("user_id"))
      val daily = ev.groupBy("date")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count_distinct(col("user_id")).as("exact_daily"))
      val dailyViolations = daily
        .select(when(
          abs(hll_sketch_estimate(col("sk")).cast("double") -
            col("exact_daily").cast("double")) /
            col("exact_daily").cast("double") > 0.05, 1L).otherwise(0L)
          .as("v"))
        .agg(sum(col("v")).as("daily_violations"))
      val merged = daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = ev.agg(count_distinct(col("user_id")).as("exact"))
      merged.crossJoin(exact).crossJoin(dailyViolations)
        .select(
          when(abs(col("est").cast("double") - col("exact").cast("double"))
            / col("exact").cast("double") > 0.05, 1L).otherwise(0L)
            .as("union_violations"),
          col("daily_violations"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS union_violations,
      CAST(0 AS BIGINT) AS daily_violations"""))

  /** Count-min-sketch frequency estimation, invariant-oracled — the
    * heavy-hitter companion to [[sketchDistinctUnion]]'s HLL: one
    * fixed-size mergeable sketch (here ~2000×7 counters for
    * eps=0.001, conf=0.99) absorbs the whole stream via map-side
    * partial aggregation, then answers "how often did key X occur"
    * without a per-key groupBy — at 100 TB the sketch is kilobytes
    * per partition merged on one reducer, vs a full-key shuffle.
    * Probing has no SQL builtin, so the audit deserializes the ONE
    * sketch on the driver and checks every key of the enum-bounded
    * event_type domain against its exact count: CMS never
    * under-counts (`underest` must be 0), and with a fixed seed the
    * over-count side is deterministic for fixed data (`over_eps` = 0
    * at width 2000 vs a handful of keys). Exact per-key counts ride
    * a domain-bounded collect, same posture as the k-means centroid
    * pull. */
  private[graft] val sketchCmsCheck = Q("sketch_cms_check",
    (s, dir) => {
      val ev = events(s, dir)
      val skBytes = ev.agg(
        expr("count_min_sketch(event_type, 0.001d, 0.99d, 1)").as("sk"))
        .head().getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skBytes))
      val exact = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n")).collect() // enum-bounded domain
      val total = exact.map(_.getAs[Long]("n")).sum
      val verdicts = exact.map { r =>
        val est = cms.estimateCount(r.getAs[String]("event_type"))
        val n = r.getAs[Long]("n")
        (if (est < n) 1L else 0L,
          if (est > n + (0.001 * total).toLong) 1L else 0L)
      }
      import s.implicits._
      Seq((exact.length.toLong,
        verdicts.map(_._1).sum, verdicts.map(_._2).sum))
        .toDF("n_keys", "underest", "over_eps")
    },
    Some("""SELECT (SELECT COUNT(DISTINCT event_type) FROM events)
        AS n_keys,
      CAST(0 AS BIGINT) AS underest, CAST(0 AS BIGINT) AS over_eps"""))

  /** Per-group HLL++ error gate: `approx_count_distinct` (the 100 TB
    * path — no exact-distinct shuffle of the key space) vs the exact
    * per-group distinct, relative error bounded at 5% for every group
    * (the sketch is configured at 2%; the gate leaves headroom for
    * small-group variance). The global-union variant is
    * `sketch_distinct_union`; this is the grouped form a per-source /
    * per-day cardinality report runs. `n_groups` is computed
    * independently by both engines so the gate cannot pass vacuously
    * on an empty aggregate. */
  private[graft] val sketchDistinctByGroup = Q("sketch_distinct_by_group",
    (s, dir) => {
      val g = events(s, dir).groupBy("event_type").agg(
        count_distinct(col("user_id")).as("exact_d"),
        approx_count_distinct(col("user_id"), 0.02).as("approx_d"))
      g.agg(
        count(lit(1)).as("n_groups"),
        count(when(
          abs(col("approx_d") - col("exact_d")).cast("double") /
            col("exact_d").cast("double") > 0.05, 1))
          .as("groups_outside_error"))
    },
    Some("""SELECT (SELECT COUNT(DISTINCT event_type) FROM events)
        AS n_groups,
      CAST(0 AS BIGINT) AS groups_outside_error"""))

  /** Misra–Gries HEAVY HITTERS
    * ([[graft.functions.MisraGriesAggregator]]) — "which keys
    * dominate" with k counters, no key-universe state: the converse of
    * count-min's "how often did this key occur". The events fixture is
    * deliberately near-uniform, so the gate synthesizes skew
    * DETERMINISTICALLY (half the stream collapses to key 'hot', the
    * rest spreads over ~97 cold keys) — a guaranteed heavy hitter
    * exists and MUST surface. Which cold keys also survive depends on
    * merge order, so the gate checks the operator's actual contract,
    * data-dependently where it can: `n_heavy` (keys above n/k) is
    * computed independently by both engines, and the sketch must miss
    * none of them (completeness), never overcount, never undercount by
    * more than n/k, and never exceed k counters. The exact-counts
    * collect is bounded by the synthesized key domain (~98), the same
    * enum-bounded audit pattern as `sketch_cms_check`; the sketch
    * itself shuffles k rows per partition. */
  private[graft] val sketchHeavyHitters = Q("sketch_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val k = 4
      val keyed = events(s, dir).select(
        when(col("user_id") % 2 === 0, lit("hot"))
          .otherwise(concat(lit("u"), (col("user_id") % 97)
            .cast("string")))
          .as("key"))
      val sketch: Map[String, Long] = keyed.as[String]
        .select(graft.functions.MisraGriesAggregator(k).toColumn)
        .head()
      val exact = keyed.groupBy("key")
        .agg(count(lit(1)).as("n")).collect() // bounded key domain
      val total = exact.map(_.getAs[Long]("n")).sum
      val thresh = total.toDouble / k
      val heavy = exact.filter(_.getAs[Long]("n") > thresh)
        .map(_.getAs[String]("key"))
      val trueCount = exact
        .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
      val missed = heavy.count(h => !sketch.contains(h)).toLong
      val bad = sketch.count { case (key, est) =>
        val truth = trueCount.getOrElse(key, 0L)
        est > truth || truth - est > thresh
      }.toLong
      Seq((heavy.length.toLong, missed, bad,
        if (sketch.size > k) 1L else 0L))
        .toDF("n_heavy", "missed_heavy", "bad_estimate", "oversize")
    },
    Some("""SELECT (SELECT COUNT(*) FROM (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'hot'
          ELSE 'u' || CAST(user_id % 97 AS VARCHAR) END AS key,
          COUNT(*) AS c
        FROM events GROUP BY 1)
        WHERE c > (SELECT COUNT(*) FROM events) / 4.0) AS n_heavy,
      CAST(0 AS BIGINT) AS missed_heavy,
      CAST(0 AS BIGINT) AS bad_estimate,
      CAST(0 AS BIGINT) AS oversize"""))
  /** Week-over-week growth — ISO-week event volume per type with the
    * relative change vs the previous week. The lag window runs over
    * the weekly aggregate (types × weeks rows), so its cost is fixed
    * by the calendar; counts are exact BIGINTs and the growth ratio is
    * one double division both engines fold identically. Weeks with no
    * predecessor report NULL growth rather than a fake 0. */
  private[graft] val kpiWowGrowth = Q("kpi_wow_growth",
    (s, dir) => {
      val weekly = events(s, dir)
        .groupBy(col("event_type"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      weekly
        .select(col("event_type"), col("week"), col("n"),
          lag(col("n"), 1).over(w).as("prev_n"))
        .select(col("event_type"), col("week"), col("n"), col("prev_n"),
          round((col("n") - col("prev_n")).cast("double") /
            col("prev_n").cast("double"), 6).as("wow_growth"))
        .orderBy("event_type", "week")
    },
    Some("""WITH weekly AS (
        SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
      lagged AS (
        SELECT event_type, week, n,
          LAG(n, 1) OVER (PARTITION BY event_type ORDER BY week)
            AS prev_n
        FROM weekly)
      SELECT event_type, week, n, prev_n,
        ROUND(CAST(n - prev_n AS DOUBLE) / CAST(prev_n AS DOUBLE), 6)
          AS wow_growth
      FROM lagged ORDER BY event_type, week"""))

  /** HLL set-INTERSECTION estimate via inclusion–exclusion
    * (|A∩B| ≈ hll(A) + hll(B) − hll(A∪B)) — audience-overlap without
    * ever shuffling the key sets together, the 100 TB form of "how
    * many users both clicked and purchased". Three sketches at 2%
    * target error; inclusion–exclusion amplifies relative error when
    * the overlap is small, so the gate bounds the estimate at 15% of
    * the EXACT overlap (computed independently by both engines — the
    * gate can't pass vacuously). Sketch estimates are deterministic
    * for fixed data, so violations==0 is a hash-stable oracle row. */
  private[graft] val sketchHllIntersect = Q("sketch_hll_intersection",
    (s, dir) => {
      val ev = events(s, dir)
      val est = ev.agg(
        approx_count_distinct(
          when(col("event_type") === "click", col("user_id")), 0.02)
          .as("est_a"),
        approx_count_distinct(
          when(col("event_type") === "purchase", col("user_id")), 0.02)
          .as("est_b"),
        approx_count_distinct(
          when(col("event_type").isin("click", "purchase"),
            col("user_id")), 0.02).as("est_u"))
      val exact = ev.filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("user_id"))
        .agg(count_distinct(col("event_type")).as("k"))
        .agg(count(when(col("k") === 2, 1)).as("exact_inter"))
      est.crossJoin(exact).select(
        col("exact_inter"),
        when(abs(col("est_a") + col("est_b") - col("est_u") -
            col("exact_inter")).cast("double") >
            col("exact_inter").cast("double") * 0.15, 1L)
          .otherwise(0L).as("violations"))
    },
    Some("""WITH both_types AS (
        SELECT user_id FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id
        HAVING COUNT(DISTINCT event_type) = 2)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM both_types)
          AS exact_inter,
        CAST(0 AS BIGINT) AS violations"""))

  /** Per-video audience-retention curve — the engagement heatmap that
    * IS the reference product's signature visualization (guide p.33's
    * per-video engagement graph): for each item, the share of views
    * still watching at each 30-second checkpoint (0–300 s, tail
    * capped). The scale-correct construction: each view buckets
    * SCAN-SIDE to its last-reached checkpoint (one value-domain
    * aggregate, output bounded by items × 11 buckets regardless of
    * event volume), then a per-item DESCENDING cumulative window turns
    * the histogram into the survival counts — the windows run over the
    * bounded bucket domain, never raw views. Counts exact; share is
    * the single trailing division. */
  private[graft] val kpiRetentionCurve = Q("kpi_retention_curve",
    (s, dir) => {
      val v = events(s, dir)
        .filter(col("event_type") === "view")
        .select(get_json_object(col("props"), "$.k").cast("int")
          .as("item"),
          least(floor(col("value") / 30.0).cast("long"), lit(10L))
            .as("bucket"))
        .filter(col("item").isNotNull)
      val hist = v.groupBy(col("item"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val wDesc = Window.partitionBy(col("item"))
        .orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("item"))
      hist
        .withColumn("n_reached", sum(col("n")).over(wDesc))
        .withColumn("n_views", sum(col("n")).over(wAll))
        .select(col("item"), (col("bucket") * 30).as("checkpoint_sec"),
          col("n_views"), col("n_reached"),
          (col("n_reached").cast("double") /
            col("n_views").cast("double")).as("share_reached"))
        .orderBy("item", "checkpoint_sec")
    },
    Some("""WITH v AS (SELECT
          CAST(json_extract_string(props, '$.k') AS INTEGER) AS item,
          LEAST(CAST(FLOOR(value / 30.0) AS BIGINT), 10) AS bucket
        FROM events
        WHERE event_type = 'view'
          AND json_extract_string(props, '$.k') IS NOT NULL),
      hist AS (SELECT item, bucket, CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY 1, 2)
      SELECT item, bucket * 30 AS checkpoint_sec,
        CAST(SUM(n) OVER (PARTITION BY item) AS BIGINT) AS n_views,
        CAST(SUM(n) OVER (PARTITION BY item ORDER BY bucket DESC
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_reached,
        CAST(SUM(n) OVER (PARTITION BY item ORDER BY bucket DESC
          ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
          CAST(SUM(n) OVER (PARTITION BY item) AS DOUBLE)
          AS share_reached
      FROM hist ORDER BY item, checkpoint_sec"""))

}
