package graft

import graft.Scratch.ScratchOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Qdsl._

/** Registry part 7 — product/growth analytics over the event stream and
  * the order history: rolling active-user counts, referential-integrity
  * audits, audience overlap, ML feature generation, and revenue
  * concentration. Same determinism contract as every other part
  * (exact integer/decimal shuffles, single float op at the end, total
  * ORDER BY on non-null keys). */
private[graft] object QueriesAnalytics {

  /** Rolling distinct active users — DAU and trailing-7-day WAU per
    * day. A windowed COUNT(DISTINCT) cannot be expressed as a window
    * function (distinct isn't decomposable over frames), and the naive
    * self-join `events × dates` re-scans raw events once per report
    * day. The scale shape: collapse raw events to distinct
    * (user, day) FIRST — one shuffle, output bounded by active-pairs,
    * not event volume — then fan each pair out to the ≤7 report dates
    * it supports (`explode(sequence(0,6))`, a bounded ×7 expansion of
    * the SMALL relation), semi-join to observed dates (broadcast — the
    * date domain is tiny by construction), and re-distinct on
    * (date, user) so the final per-date count is a plain count. Every
    * shuffle carries (8-byte user, 4-byte date); raw events are
    * touched exactly once. At 100 TB the same plan holds: the ×7
    * blow-up applies to the deduped pair set, and a 28-day MAU is the
    * same plan with a ×28 constant. */
  private[graft] val rollingActiveUsers = Q("kpi_rolling_active_users",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val dates = ud.select(col("d").as("date")).distinct()
      val dau = ud.groupBy(col("d").as("date"))
        .agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("off"), col("d"))
        .select(col("user_id"), date_add(col("d"), col("off")).as("date"))
        .join(broadcast(dates), Seq("date")) // only observed report days
        .distinct() // a user active on several days counts once per window
        .groupBy("date")
        .agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("date")).orderBy("date")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS date FROM ud),
      win AS (SELECT DISTINCT dy.date, u.user_id
        FROM days dy JOIN ud u ON u.d BETWEEN dy.date - 6 AND dy.date),
      dau AS (SELECT d AS date, COUNT(*) AS dau FROM ud GROUP BY 1),
      wau AS (SELECT date, COUNT(*) AS wau FROM win GROUP BY 1)
      SELECT dau.date, dau.dau, wau.wau
      FROM dau JOIN wau USING (date) ORDER BY 1"""))

  /** Referential-integrity audit across the star schema's foreign keys
    * — the DQ check a warehouse runs before trusting a join: for each
    * FK relation, the count of child rows whose key has no parent
    * (orphans). Each relation is a LEFT ANTI join on PROJECTED KEYS
    * ONLY — the child table's payload never enters the shuffle, so the
    * exchange carries one 8-byte key per row regardless of row width;
    * counts partial-aggregate map-side. The five audits are
    * independent one-row aggregates unioned at the end (no barrier —
    * Spark schedules them as parallel subtrees of one job). events →
    * customer is expected to carry orphans in this dataset (user ids
    * outside the customer key range) — the audit REPORTS, the
    * [[quarantineDeadletter]] family enforces. */
  private[graft] val dqReferential = Q("dq_referential",
    (s, dir) => {
      def orphans(child: DataFrame, key: String, parent: DataFrame,
                  pkey: String, rel: String): DataFrame =
        child.select(col(key).as("k"))
          .join(parent.select(col(pkey).as("k")), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("orphans"))
          .select(lit(rel).as("relation"), col("orphans"))
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      orphans(li, "l_orderkey", o, "o_orderkey",
          "lineitem.l_orderkey->orders")
        .unionByName(orphans(li, "l_partkey", t(s, dir, "part"),
          "p_partkey", "lineitem.l_partkey->part"))
        .unionByName(orphans(li, "l_suppkey", t(s, dir, "supplier"),
          "s_suppkey", "lineitem.l_suppkey->supplier"))
        .unionByName(orphans(o, "o_custkey", t(s, dir, "customer"),
          "c_custkey", "orders.o_custkey->customer"))
        .unionByName(orphans(events(s, dir), "user_id",
          t(s, dir, "customer"), "c_custkey", "events.user_id->customer"))
        .orderBy("relation")
    },
    Some("""SELECT relation, orphans FROM (
        SELECT 'lineitem.l_orderkey->orders' AS relation, COUNT(*) AS orphans
          FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderkey IS NULL
        UNION ALL
        SELECT 'lineitem.l_partkey->part', COUNT(*)
          FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
          WHERE p.p_partkey IS NULL
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier', COUNT(*)
          FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE s.s_suppkey IS NULL
        UNION ALL
        SELECT 'orders.o_custkey->customer', COUNT(*)
          FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_custkey IS NULL
        UNION ALL
        SELECT 'events.user_id->customer', COUNT(*)
          FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
          WHERE c.c_custkey IS NULL)
      ORDER BY relation"""))

  /** Pairwise audience overlap between event types: for every type
    * pair, the distinct-user intersection, union, and Jaccard — "how
    * much does the purchase audience overlap the signup audience".
    * Distinct (type, user) first (the one event-volume shuffle), then
    * a self-join KEYED BY USER: per-user fan-out is bounded by
    * C(|type domain|, 2), a constant — never a cross join. The Jaccard
    * is one float division of two exact BIGINTs, deterministic in both
    * engines. At 100 TB: the pair table is |users| × small-constant;
    * intersection counts partial-aggregate; type totals broadcast back
    * onto the ≤C(k,2) result rows. */
  private[graft] val audienceOverlap = Q("audience_overlap",
    (s, dir) => {
      val tu = events(s, dir)
        .select(coalesce(col("event_type"), lit("(none)")).as("et"),
          col("user_id"))
        .distinct()
      val inter = tu.as("a")
        .join(tu.as("b"), col("a.user_id") === col("b.user_id") &&
          col("a.et") < col("b.et"))
        .groupBy(col("a.et").as("type_a"), col("b.et").as("type_b"))
        .agg(count(lit(1)).as("inter"))
      val totals = tu.groupBy(col("et")).agg(count(lit(1)).as("n"))
      inter
        .join(broadcast(totals.select(col("et").as("type_a"),
          col("n").as("na"))), Seq("type_a"))
        .join(broadcast(totals.select(col("et").as("type_b"),
          col("n").as("nb"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("inter"),
          (col("na") + col("nb") - col("inter")).as("uni"),
          (col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")).cast("double"))
            .as("jaccard"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH tu AS (SELECT DISTINCT
          COALESCE(event_type, '(none)') AS et, user_id FROM events),
      tot AS (SELECT et, COUNT(*) AS n FROM tu GROUP BY 1),
      pairs AS (SELECT a.et AS type_a, b.et AS type_b,
          COUNT(*) AS inter
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.et < b.et
        GROUP BY 1, 2)
      SELECT p.type_a, p.type_b, p.inter,
        ta.n + tb.n - p.inter AS uni,
        CAST(p.inter AS DOUBLE) / CAST(ta.n + tb.n - p.inter AS DOUBLE)
          AS jaccard
      FROM pairs p
      JOIN tot ta ON ta.et = p.type_a
      JOIN tot tb ON tb.et = p.type_b
      ORDER BY 1, 2"""))

  /** ML feature generation over the order history: per customer, each
    * order annotated with its previous price, the mean of the prior
    * three, and days since the previous order — the lag-feature shape
    * every churn/LTV training set starts from. All windows PARTITION BY
    * customer (keyed windows scale — state per window is one
    * customer's orders, the shuffle is one pass on the key); prices
    * move as exact cents through the frame sums and become doubles in
    * one final division, so the frame arithmetic is
    * shuffle-order-independent. First-order rows carry SQL-standard
    * nulls (no sentinel defaults — a training pipeline imputes
    * downstream with its own policy). */
  private[graft] val featureLags = Q("feature_lags",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("order_date"), col("o_orderkey"))
      val prev3 = w.rowsBetween(-3, -1)
      o.select(
          col("o_custkey"), col("o_orderkey"), col("order_date"),
          (col("cents").cast("double") / 100.0).as("price"),
          (lag(col("cents"), 1).over(w).cast("double") / 100.0)
            .as("prev_price"),
          (sum(col("cents")).over(prev3).cast("double") /
            (count(lit(1)).over(prev3).cast("double") * 100.0))
            .as("avg_prev3"),
          datediff(col("order_date"), lag(col("order_date"), 1).over(w))
            .cast("long").as("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""WITH o AS (SELECT o_custkey, o_orderkey,
        CAST(o_orderdate AS DATE) AS order_date,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
      SELECT o_custkey, o_orderkey, order_date,
        CAST(cents AS DOUBLE) / 100.0 AS price,
        CAST(LAG(cents, 1) OVER w AS DOUBLE) / 100.0 AS prev_price,
        CAST(SUM(cents) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
            AS DOUBLE) /
          (CAST(COUNT(*) OVER (w ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
            AS DOUBLE) * 100.0) AS avg_prev3,
        CAST(date_diff('day', LAG(order_date, 1) OVER w, order_date)
          AS BIGINT) AS days_since_prev
      FROM o
      WINDOW w AS (PARTITION BY o_custkey ORDER BY order_date, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  /** RFM segmentation — the classic CRM quartile grid: per customer,
    * recency (days since last order, against the corpus max date),
    * frequency (order count), monetary (exact cents), each scored
    * NTILE(4); output one row per (r,f,m) cell (≤64 rows) with size
    * and exact revenue. The global NTILE runs as
    * [[graft.etl.Ranking.ntileByValue]] — a CDF window over the
    * VALUE-AGGREGATED relation, never a global sort of customers —
    * so each tiling's window is bounded by its value domain: recency
    * by the date span, frequency by max-orders-per-customer, monetary
    * by $10 bands (the banding is part of the query's definition and
    * mirrored in the oracle; tile boundaries at $10 granularity are
    * an analytics non-event). Tile 1 = most recent / fewest / lowest
    * by NTILE's ascending convention; consumers relabel as they like. */
  private[graft] val rfmSegments = Q("kpi_rfm_segments",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val maxd = o.agg(max(col("d")).as("maxd"))
      val per = o.groupBy("o_custkey").agg(
          max(col("d")).as("lastd"),
          count(lit(1)).as("freq"),
          sum(col("cents")).as("cents"))
        .crossJoin(broadcast(maxd)) // 1-row aggregate compose
        .select(col("o_custkey"), col("freq"), col("cents"),
          datediff(col("maxd"), col("lastd")).as("rec_days"),
          expr("cents DIV 1000").as("mband"))
      val r = graft.etl.Ranking.ntileByValue(per, "rec_days", "o_custkey", 4)
        .withColumnRenamed("ntile", "r_tile")
      val f = graft.etl.Ranking.ntileByValue(r, "freq", "o_custkey", 4)
        .withColumnRenamed("ntile", "f_tile")
      val m = graft.etl.Ranking.ntileByValue(f, "mband", "o_custkey", 4)
        .withColumnRenamed("ntile", "m_tile")
      m.groupBy("r_tile", "f_tile", "m_tile")
        .agg(count(lit(1)).as("n"),
          (sum(col("cents")).cast("double") / 100.0).as("monetary"))
        .orderBy("r_tile", "f_tile", "m_tile")
    },
    Some("""WITH per AS (SELECT o_custkey, COUNT(*) AS freq,
        SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
        date_diff('day', MAX(CAST(o_orderdate AS DATE)),
          (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)) AS rec_days
        FROM orders GROUP BY o_custkey),
      sc AS (SELECT cents,
        NTILE(4) OVER (ORDER BY rec_days, o_custkey) AS r_tile,
        NTILE(4) OVER (ORDER BY freq, o_custkey) AS f_tile,
        NTILE(4) OVER (ORDER BY cents // 1000, o_custkey) AS m_tile
        FROM per)
      SELECT r_tile, f_tile, m_tile, COUNT(*) AS n,
        CAST(SUM(cents) AS DOUBLE) / 100.0 AS monetary
      FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""))

  /** Lorenz curve of revenue concentration at decile granularity —
    * "the top decile of customers carries X% of revenue". Customers
    * are tiled into revenue deciles (ntileByValue over $100 bands —
    * same bounded-domain discipline as [[rfmSegments]]), then each
    * decile's EXACT cents sum feeds a cumulative share. The only
    * windows after the tiling run over the 10-row decile aggregate.
    * Shares are exact-BIGINT cents over exact total — one float
    * division per output cell. */
  private[graft] val revenueLorenz = Q("revenue_lorenz",
    (s, dir) => {
      val per = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .groupBy("o_custkey").agg(sum(col("cents")).as("cents"))
        .withColumn("band", expr("cents DIV 10000"))
      val dec = graft.etl.Ranking.ntileByValue(per, "band", "o_custkey", 10)
        .groupBy(col("ntile").as("decile"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("dec_cents"))
      val cumW = boundedWindow(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val allW = boundedAll // over the 10-row aggregate
      dec.select(col("decile"), col("n"),
          (col("dec_cents").cast("double") / 100.0).as("revenue"),
          (sum(col("dec_cents")).over(cumW).cast("double") /
            sum(col("dec_cents")).over(allW).cast("double"))
            .as("cum_share"))
        .orderBy("decile")
    },
    Some("""WITH per AS (SELECT o_custkey,
        SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey),
      tiled AS (SELECT cents,
        NTILE(10) OVER (ORDER BY cents // 10000, o_custkey) AS decile
        FROM per),
      dec AS (SELECT decile, COUNT(*) AS n, SUM(cents) AS dec_cents
        FROM tiled GROUP BY 1)
      SELECT decile, n, CAST(dec_cents AS DOUBLE) / 100.0 AS revenue,
        CAST(SUM(dec_cents) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
          CAST(SUM(dec_cents) OVER () AS DOUBLE) AS cum_share
      FROM dec ORDER BY decile"""))

  /** Gini coefficient of the decile-grouped revenue distribution —
    * the piecewise-linear-Lorenz Gini over [[revenueLorenz]]'s exact
    * decile aggregate: G = 1 - Σ n_i·(2·cum_i − x_i) / (N·total),
    * every moment exact (Decimal(38,0) products of counts × cents) and
    * ONE float division at the end. Grouping at decile granularity is
    * the scale trade: the exact per-customer Gini needs a global rank
    * of every customer, the decile version needs a 10-row window —
    * and the two differ only by the within-decile term the Lorenz
    * chord straightens out. */
  private[graft] val revenueGini = Q("revenue_gini",
    (s, dir) => {
      val per = t(s, dir, "orders")
        .select(col("o_custkey"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .groupBy("o_custkey").agg(sum(col("cents")).as("cents"))
        .withColumn("band", expr("cents DIV 10000"))
      val dec = graft.etl.Ranking.ntileByValue(per, "band", "o_custkey", 10)
        .groupBy(col("ntile").as("decile"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("x"))
      val cumW = boundedWindow(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec.select(col("n"), col("x"),
          sum(col("x")).over(cumW).as("cum"))
        .agg(
          sum(col("n")).as("n_customers"),
          (lit(1.0) -
            sum(col("n").cast(DecimalType(38, 0)) *
              (lit(2) * col("cum") - col("x"))).cast("double") /
            (sum(col("n")).cast(DecimalType(38, 0)) *
              max(col("cum"))).cast("double")).as("gini"))
    },
    Some("""WITH per AS (SELECT o_custkey,
        SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey),
      tiled AS (SELECT cents,
        NTILE(10) OVER (ORDER BY cents // 10000, o_custkey) AS decile
        FROM per),
      dec AS (SELECT decile, COUNT(*) AS n, SUM(cents) AS x
        FROM tiled GROUP BY 1),
      cums AS (SELECT n, x, SUM(x) OVER (ORDER BY decile
        ROWS UNBOUNDED PRECEDING) AS cum FROM dec)
      SELECT CAST(SUM(n) AS BIGINT) AS n_customers,
        1.0 - CAST(SUM(CAST(n AS HUGEINT) * (2 * cum - x)) AS DOUBLE) /
          CAST(SUM(n) * MAX(cum) AS DOUBLE) AS gini
      FROM cums"""))

  /** Autocorrelation of the daily-revenue series at lags 1..7 — the
    * seasonality probe a forecasting pipeline runs first (a weekly
    * cycle shows as a lag-7 peak). The series is the date-grouped
    * revenue aggregate (bounded by the calendar span, not row count);
    * each lag's (x_t, x_{t-l}) pairing is an EQUI-JOIN of the series
    * against its date-shifted self (`explode(1..7)` fans the bounded
    * series ×7, never a window over raw rows). Pearson r per lag from
    * exact Decimal(38,0) moments of the cents values; the float math
    * happens once per lag on exact scalars. */
  private[graft] val statsAcf = Q("stats_acf",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("d"),
          expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
        .groupBy("d").agg(sum(col("cents")).as("x"))
      val lagged = daily
        .select(explode(sequence(lit(1), lit(7))).as("lag"),
          expr("date_add(d, lag)").as("d"), col("x").as("xl"))
      val dec = (c: Column) => c.cast(DecimalType(38, 0))
      daily.join(lagged, Seq("d"))
        .groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("x"))).as("sx"), sum(dec(col("xl"))).as("sy"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx"),
          sum(dec(col("xl")) * dec(col("xl"))).as("syy"),
          sum(dec(col("x")) * dec(col("xl"))).as("sxy"))
        .select(col("lag"), col("n"),
          ((dec(col("n")) * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            sqrt((dec(col("n")) * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
              (dec(col("n")) * col("syy") - col("sy") * col("sy"))
                .cast("double"))).as("acf"))
        .orderBy("lag")
    },
    Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS x
        FROM orders GROUP BY 1),
      pairs AS (SELECT l.lag, a.x AS x, b.x AS xl
        FROM daily a
        CROSS JOIN (SELECT UNNEST(range(1, 8)) AS lag) l
        JOIN daily b ON b.d = a.d - CAST(l.lag AS INTEGER)),
      mom AS (SELECT lag, COUNT(*) AS n,
        SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(xl AS HUGEINT)) AS sy,
        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        SUM(CAST(xl AS HUGEINT) * xl) AS syy,
        SUM(CAST(x AS HUGEINT) * xl) AS sxy
        FROM pairs GROUP BY 1)
      SELECT lag, n,
        CAST(n * sxy - sx * sy AS DOUBLE) /
          sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
               CAST(n * syy - sy * sy AS DOUBLE)) AS acf
      FROM mom ORDER BY lag"""))

  /** Shannon entropy of each market segment's order-priority mix —
    * "how concentrated is demand urgency per segment". The priority
    * domain is a FIXED five-value enum, so the per-segment
    * distribution pivots to five named count columns and the entropy
    * is one closed-form expression over exact counts:
    * H = ln(n) − Σ c_i·ln(c_i)/n, with the Σ written term-by-term in
    * a fixed textual order — float addition order is part of the query
    * definition, identical in both engines, so no
    * nondeterministic double summation ever happens. No windows, no
    * HOFs: one segment-keyed aggregate at any scale. */
  private[graft] val statsEntropy = Q("stats_entropy",
    (s, dir) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")
      val o = t(s, dir, "orders").select(col("o_custkey"),
        col("o_orderpriority").as("prio"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      val cells = o.join(c, Seq("o_custkey"))
        .groupBy("c_mktsegment")
        .pivot("prio", prios).agg(count(lit(1)))
      val cnt = (i: Int) => coalesce(col(s"`${prios(i)}`"), lit(0L))
      val term = (i: Int) => when(cnt(i) > 0,
        cnt(i).cast("double") * log(cnt(i).cast("double")))
        .otherwise(lit(0.0))
      val n = prios.indices.map(cnt).reduce(_ + _)
      cells.select(col("c_mktsegment"), n.as("n_orders"),
          (log(n.cast("double")) -
            prios.indices.map(term).reduce(_ + _) / n.cast("double"))
            .as("entropy"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH cells AS (SELECT c_mktsegment,
        COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS c1,
        COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS c2,
        COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS c3,
        COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS c4,
        COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS c5
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1)
      SELECT c_mktsegment, c1 + c2 + c3 + c4 + c5 AS n_orders,
        ln(CAST(c1 + c2 + c3 + c4 + c5 AS DOUBLE)) -
          (CASE WHEN c1 > 0 THEN CAST(c1 AS DOUBLE) * ln(CAST(c1 AS DOUBLE)) ELSE 0.0 END +
           CASE WHEN c2 > 0 THEN CAST(c2 AS DOUBLE) * ln(CAST(c2 AS DOUBLE)) ELSE 0.0 END +
           CASE WHEN c3 > 0 THEN CAST(c3 AS DOUBLE) * ln(CAST(c3 AS DOUBLE)) ELSE 0.0 END +
           CASE WHEN c4 > 0 THEN CAST(c4 AS DOUBLE) * ln(CAST(c4 AS DOUBLE)) ELSE 0.0 END +
           CASE WHEN c5 > 0 THEN CAST(c5 AS DOUBLE) * ln(CAST(c5 AS DOUBLE)) ELSE 0.0 END)
          / CAST(c1 + c2 + c3 + c4 + c5 AS DOUBLE) AS entropy
      FROM cells ORDER BY c_mktsegment"""))

  /** Market-basket association — top part pairs by lift over the
    * order "baskets": support (co-occurrence count), and
    * lift = N·n₁₂/(n₁·n₂) against the parts' independent frequencies.
    * The pair enumeration is a SELF-EQUI-JOIN on the order key with
    * p1 < p2 — per-order fan-out is C(basket size, 2), a per-row
    * constant (TPC-H baskets are ≤7 items; a retail basket is
    * dozens), never a cross join. Part frequencies aggregate to
    * |parts| rows — a dimension that GROWS with corpus scale, so the
    * join carries no broadcast hint: AQE broadcasts it while it fits
    * and falls back to a shuffled hash join on the (p1)/(p2) keys
    * when it doesn't. Only the 1-row basket count is hint-broadcast.
    * Lift is exact integers → one float division; the top-20 runs as
    * TakeOrderedAndProject on (support DESC, lift DESC, keys). */
  private[graft] val basketLift = Q("basket_lift",
    (s, dir) => {
      val lp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val nOrders = lp.select("ok").distinct()
        .agg(count(lit(1)).as("n_orders"))
      val freq = lp.groupBy(col("pk")).agg(count(lit(1)).as("nf"))
      val pairs = lp.as("a")
        .join(lp.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
      pairs
        .join(freq.select(col("pk").as("p1"), col("nf").as("n1")),
          Seq("p1"))
        .join(freq.select(col("pk").as("p2"), col("nf").as("n2")),
          Seq("p2"))
        .crossJoin(broadcast(nOrders))
        .select(col("p1"), col("p2"), col("support"),
          ((col("support") * col("n_orders")).cast("double") /
            (col("n1") * col("n2")).cast("double")).as("lift"))
        .orderBy(col("support").desc, col("lift").desc,
          col("p1"), col("p2"))
        .limit(20)
    },
    Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem),
      n_orders AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM lp),
      freq AS (SELECT pk, COUNT(*) AS nf FROM lp GROUP BY 1),
      pairs AS (SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS support
        FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT p1, p2, support,
        CAST(support * n_orders AS DOUBLE) /
          CAST(f1.nf * f2.nf AS DOUBLE) AS lift
      FROM pairs
      JOIN freq f1 ON f1.pk = p1
      JOIN freq f2 ON f2.pk = p2
      CROSS JOIN n_orders
      ORDER BY support DESC, lift DESC, p1, p2 LIMIT 20"""))

  /** Benford first-significant-digit audit of order totals — the
    * forensic DQ check for fabricated or truncated monetary data: the
    * observed share per leading digit next to Benford's expectation
    * log10(1+1/d). One 9-cell aggregate (digit from the exact-cents
    * string — scan-side, no float log in the grouping), total composed
    * back as a 1-row broadcast; share is one float division, the
    * expectation a closed-form scalar. */
  private[graft] val statsBenford = Q("stats_benford",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        expr("cast(substring(cast(cast(round(o_totalprice * 100) as bigint) as string), 1, 1) as int)")
          .as("digit"))
      val tot = o.agg(count(lit(1)).as("total"))
      o.groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("total").cast("double"))
            .as("share"),
          log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
            .as("benford"))
        .orderBy("digit")
    },
    Some("""WITH d AS (SELECT CAST(SUBSTRING(CAST(
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
          AS INTEGER) AS digit FROM orders),
      tot AS (SELECT COUNT(*) AS total FROM d)
      SELECT digit, COUNT(*) AS n,
        CAST(COUNT(*) AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS benford
      FROM d CROSS JOIN tot
      GROUP BY digit, total ORDER BY digit"""))

  /** Kaplan-Meier survival curve of signup→purchase conversion — the
    * censoring-aware "time to convert" a naive average gets wrong
    * (users who haven't converted YET are information, not missing
    * data). Per user: first signup, first purchase at-or-after it;
    * non-converters censor at the corpus horizon. The KM table
    * aggregates durations to DAY grain — every step after that runs
    * over the day-domain aggregate (calendar-sized, never row-sized):
    * risk set n(t) = N − cum(d+c before t); survival
    * S(t) = Π (n−d)/n as an ORDERED LEFT FOLD over the collected day
    * array (the [[QueriesRelational.ewmaValue]] technique) — float
    * multiply/divide are exactly-rounded IEEE ops, identical across
    * engines, where the exp(Σ ln) formulation diverges by a libm ulp.
    * The fold also absorbs the terminal d=n row: its ratio is exactly
    * 0.0, no log-of-zero special case. */
  private[graft] val survivalKm = Q("survival_km",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      val per = su.join(pu, Seq("user_id"), "left")
        .groupBy("user_id", "s_ts")
        .agg(min(when(col("ts") >= col("s_ts"), col("ts"))).as("p_ts"))
      val mx = ev.agg(max(to_date(col("ts"))).as("maxd"))
      val durs = per.crossJoin(broadcast(mx))
        .select(
          when(col("p_ts").isNotNull,
            datediff(to_date(col("p_ts")), to_date(col("s_ts"))))
            .otherwise(datediff(col("maxd"), to_date(col("s_ts"))))
            .as("t"),
          col("p_ts").isNotNull.cast("long").as("event"))
      val tbl = durs.groupBy("t")
        .agg(sum(col("event")).as("d"),
          sum(lit(1L) - col("event")).as("c"))
      val prevW = boundedWindow(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val allW = boundedAll // over the day-domain aggregate
      val nRisk = (sum(col("d") + col("c")).over(allW) -
        coalesce(sum(col("d") + col("c")).over(prevW), lit(0L)))
      val rows = tbl.withColumn("n_risk", nRisk)
        .withColumn("ratio",
          (col("n_risk") - col("d")).cast("double") /
            col("n_risk").cast("double"))
      // one bounded array (day domain) → running product left fold
      val acc0 = struct(
        expr("cast(array() as array<struct<t:int,d:bigint,c:bigint," +
          "n_risk:bigint,km:double>>)").as("out"),
        lit(1.0).as("run"))
      val folded = rows
        .agg(array_sort(collect_list(struct(col("t"), col("d"),
          col("c"), col("n_risk"), col("ratio")))).as("arr"))
        .select(aggregate(col("arr"), acc0, (acc, e) => {
          val km = acc.getField("run") * e.getField("ratio")
          struct(
            concat(acc.getField("out"), array(struct(
              e.getField("t").as("t"), e.getField("d").as("d"),
              e.getField("c").as("c"),
              e.getField("n_risk").as("n_risk"), km.as("km")))).as("out"),
            km.as("run"))
        }).getField("out").as("out"))
      folded.select(explode(col("out")).as("r"))
        .select(col("r.t").as("t"), col("r.d").as("d"),
          col("r.c").as("c"), col("r.n_risk").as("n_risk"),
          col("r.km").as("km"))
        .orderBy("t")
    },
    Some("""WITH su AS (SELECT user_id, MIN(ts) AS s_ts FROM events
        WHERE event_type = 'signup' GROUP BY 1),
      per AS (SELECT su.user_id, su.s_ts,
        MIN(CASE WHEN e.ts >= su.s_ts THEN e.ts END) AS p_ts
        FROM su LEFT JOIN (SELECT user_id, ts FROM events
          WHERE event_type = 'purchase') e USING (user_id)
        GROUP BY 1, 2),
      mx AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
      durs AS (SELECT CASE WHEN p_ts IS NOT NULL
          THEN date_diff('day', CAST(s_ts AS DATE), CAST(p_ts AS DATE))
          ELSE date_diff('day', CAST(s_ts AS DATE), maxd) END AS t,
        CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM per CROSS JOIN mx),
      tbl AS (SELECT t, CAST(SUM(event) AS BIGINT) AS d,
        CAST(SUM(1 - event) AS BIGINT) AS c FROM durs GROUP BY 1),
      nr AS (SELECT t, d, c,
        (SELECT SUM(d + c) FROM tbl) -
          COALESCE(SUM(d + c) OVER (ORDER BY t ROWS BETWEEN
            UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM tbl),
      nrr AS (SELECT t, d, c, CAST(n_risk AS BIGINT) AS n_risk,
        CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE) AS ratio,
        ROW_NUMBER() OVER (ORDER BY t) AS i FROM nr),
      arr AS (SELECT list(ratio ORDER BY t) AS rs FROM nrr)
      SELECT t, d, c, n_risk,
        list_reduce(rs[1:i], (a, b) -> a * b) AS km
      FROM nrr CROSS JOIN arr ORDER BY t"""))

  /** percent_rank / cume_dist within nation — the distributional
    * window pair ([[QueriesRelational.windowRanks]] covers
    * rank/dense_rank/row_number): where does each customer's balance
    * sit inside their nation. The windows PARTITION BY nation — keyed
    * windows scale, the shuffle is one pass on the nation key and the
    * per-partition sort is one nation's customers. The order is made
    * total (acctbal, custkey) so both rank functions are
    * deterministic under ties. */
  private[graft] val windowPercentiles = Q("window_percentiles",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_custkey"), col("c_acctbal"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("n_name", "c_custkey")
    },
    Some("""SELECT n_name, c_custkey, c_acctbal,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
      ORDER BY n_name, c_custkey"""))

  /** Concurrent-interval count — how many orders are OPEN (ordered,
    * not yet fully shipped) on each calendar day, the classic
    * sweep-line: ±1 deltas at interval endpoints, aggregated to the
    * DAY domain, then one cumulative window over the bounded delta
    * table. The alternative — joining a day spine against the
    * interval table — re-scans the intervals once per day; the
    * sweep-line touches each interval exactly twice regardless of its
    * length, and everything after the delta aggregate is
    * calendar-sized. Exact integers throughout. Both endpoint deltas
    * EXPLODE out of one pass over the joined intervals — a UNION of
    * two selects re-executes the whole scan+join subtree per branch
    * (the text_bm25 lesson; measured 19× at the 10× rehearsal before
    * this shape, 1.4× after). */
  private[graft] val intervalConcurrency = Q("interval_concurrency",
    (s, dir) => {
      val ends = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(max(to_date(col("l_shipdate"))).as("endd"))
      val iv = t(s, dir, "orders")
        .select(col("o_orderkey").as("ok"),
          to_date(col("o_orderdate")).as("od"))
        .join(ends, Seq("ok"))
      val deltas = iv.select(explode(array(
          struct(col("od").as("d"), lit(1L).as("delta")),
          struct(date_add(col("endd"), 1).as("d"),
            lit(-1L).as("delta")))).as("e"))
        .groupBy(col("e.d").as("d")).agg(sum(col("e.delta")).as("delta"))
      val cumW = boundedWindow(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      deltas.select(col("d"), sum(col("delta")).over(cumW).as("open"))
        .orderBy("d")
    },
    Some("""WITH ends AS (SELECT l_orderkey,
        MAX(CAST(l_shipdate AS DATE)) AS endd
        FROM lineitem GROUP BY 1),
      iv AS (SELECT CAST(o.o_orderdate AS DATE) AS od, e.endd
        FROM orders o JOIN ends e ON o.o_orderkey = e.l_orderkey),
      deltas AS (SELECT d, CAST(SUM(delta) AS BIGINT) AS delta FROM (
        SELECT od AS d, 1 AS delta FROM iv
        UNION ALL
        SELECT endd + 1 AS d, -1 AS delta FROM iv) GROUP BY 1)
      SELECT d, CAST(SUM(delta) OVER (ORDER BY d ROWS UNBOUNDED
        PRECEDING) AS BIGINT) AS open
      FROM deltas ORDER BY d"""))

  /** Day-of-week seasonality index of order revenue — share of weekly
    * revenue per weekday and the ×7 index against a flat week (the
    * first profile a forecaster detrends by, and what [[statsAcf]]'s
    * lag-7 peak quantifies). One 7-cell aggregate of exact cents; the
    * overall total composes back as a 1-row broadcast; one float
    * division per cell. Weekday numbering is pinned 0=Sunday in both
    * engines. */
  private[graft] val dowSeasonality = Q("kpi_dow_seasonality",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        (dayofweek(to_date(col("o_orderdate"))) - 1).as("dow"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val tot = o.agg(sum(col("cents")).as("total"))
      o.groupBy("dow")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
        .crossJoin(broadcast(tot))
        .select(col("dow"), col("n_orders"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          ((lit(7L) * col("cents")).cast("double") /
            col("total").cast("double")).as("index"))
        .orderBy("dow")
    },
    Some("""WITH o AS (SELECT dayofweek(CAST(o_orderdate AS DATE)) AS dow,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      tot AS (SELECT SUM(cents) AS total FROM o)
      SELECT dow, COUNT(*) AS n_orders,
        CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue,
        CAST(7 * SUM(cents) AS DOUBLE) / CAST(total AS DOUBLE) AS index
      FROM o CROSS JOIN tot
      GROUP BY dow, total ORDER BY dow"""))

  /** DETERMINISTIC POISSON BOOTSTRAP — the scalable bootstrap for
    * massive data (Kleiner et al. / the Poisson-resampling form used
    * at cluster scale: per (row, replica) draw a Poisson(1) weight
    * instead of materializing resamples): a 95% CI for the mean
    * purchase value from B = 200 replicas. Weights are DERIVED, not
    * drawn — u32 = md5(replica, event_id) bucketed by fixed integer
    * thresholds ⌊e⁻¹·2³²⌋… into w ∈ {0,1,2,3} (tail lumped at 3) — so
    * both engines produce the SAME resample universe and the CI
    * hash-matches exactly; rand()-based bootstrap can never be
    * replayed or verified. Plan shape: NO row fan-out at all — one
    * no-key typed aggregation
    * ([[graft.functions.PoissonBootstrapSumsAggregator]]) derives
    * each row's B-lane weights in its JVM hot loop (same md5 scheme,
    * bit-identical u32s) and accumulates the B (Σwx, Σw) integer
    * partials per partition; the only exchange carries
    * `partitions × 2 × B` longs. Replica means are one division each
    * over the B-row lane table, and the CI is an exact interpolated
    * percentile over it. This replaced an `explode(sequence(0, B-1))`
    * formulation whose ×B in-flight row inflation was the engine's
    * one measured superlinear-in-practice cost at the 100× rehearsal
    * (and a `transform(…md5…)` variant that was no faster because
    * higher-order functions are CodegenFallback) — the weights, the
    * resample universe, and the frozen CI oracle are unchanged; only
    * the plan did. At 100 TB the cost is B linear scans' worth of
    * digest work and a 2·B-long reduce; no resampled copy of the
    * data ever exists. */
  private[graft] val statsBootstrapCi = Q("stats_bootstrap_ci",
    (s, dir) => {
      import s.implicits._
      val b = 200
      val x = events(s, dir)
        .filter(col("event_type") === "purchase" &&
          col("value").isNotNull)
        .select(col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("c"))
      val reps = x
        .select(col("c"), col("event_id").cast("string"))
        .as[(Long, String)]
        .select(graft.functions.PoissonBootstrapSumsAggregator(b)
          .toColumn.name("s"))
        // typed select flattens the tuple output to top-level _1/_2
        .select(explode(expr(
          """zip_with(_1, _2,
            |  (swx, sw) -> cast(swx as double) /
            |    (cast(sw as double) * 100.0))""".stripMargin)).as("m"))
      val base = x.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      reps.agg(
          expr("percentile(m, 0.025)").as("lo"),
          expr("percentile(m, 0.975)").as("hi"))
        .crossJoin(broadcast(base)) // 1-row compose
        .select(col("n"),
          round(col("sc").cast("double") /
            (col("n").cast("double") * 100.0), 6).as("mean_value"),
          round(col("lo"), 6).as("ci_lo"),
          round(col("hi"), 6).as("ci_hi"))
    },
    Some("""WITH x AS (
        SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      pairs AS (
        SELECT rep, c,
          CASE
            WHEN u32 < 1580030168 THEN 0
            WHEN u32 < 3160060337 THEN 1
            WHEN u32 < 3950075421 THEN 2
            ELSE 3 END AS w
        FROM (
          SELECT x.event_id, x.c, g.rep,
            CAST('0x' || substring(md5('b:' || CAST(g.rep AS VARCHAR)
              || ':' || CAST(x.event_id AS VARCHAR)), 1, 8) AS BIGINT)
              AS u32
          FROM x CROSS JOIN (SELECT unnest(generate_series(0, 199))
            AS rep) g)),
      reps AS (
        SELECT CAST(SUM(w * c) AS DOUBLE) /
          (CAST(SUM(w) AS DOUBLE) * 100.0) AS m
        FROM pairs GROUP BY rep),
      base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(c) AS BIGINT) AS sc FROM x)
      SELECT n,
        ROUND(CAST(sc AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
          AS mean_value,
        ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
        ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
      FROM reps CROSS JOIN base
      GROUP BY n, sc"""))

  /** ADDITIVE SEASONAL DECOMPOSITION + residual anomaly flag over the
    * daily event count — the classic trend/seasonal/residual split
    * (STL's moving-average skeleton): trend = centered 7-day moving
    * average (interior days only, m = 7), seasonal = day-of-week mean
    * of the detrended series, residual = detrended − seasonal, flagged
    * when it exceeds 15% of trend. Determinism: the detrended series
    * is carried as the EXACT integer 7·n − Σ₇n (never a summed
    * double), the day-of-week mean sums those integers, and every
    * double emerges from one terminal expression over exact inputs —
    * the [[anomalyZscore]] discipline. Both unpartitioned windows run
    * over the AGGREGATED daily series (bounded by the calendar, the
    * [[graft.etl.Ranking]] justification), so the raw event volume
    * never meets a global sort: the plan is one count shuffle + two
    * tiny windows at any scale. */
  private[graft] val seasonalAnomaly = Q("seasonal_anomaly",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n"))
      val wMa = boundedWindow(col("date")).rowsBetween(-3, 3)
      val interior = daily
        .select(col("date"), col("n"),
          sum(col("n")).over(wMa).as("s1"),
          count(col("n")).over(wMa).as("m"))
        .filter(col("m") === 7) // centered MA defined on interior days
        .select(col("date"), col("n"), col("s1"),
          (dayofweek(col("date")) - 1).as("dow"),
          (lit(7L) * col("n") - col("s1")).as("detr7")) // exact 7·detrended
      val wDow = Window.partitionBy("dow")
      val trend = col("s1").cast("double") / 7.0
      val seasonal = col("dsum").cast("double") /
        (lit(7.0) * col("dcnt").cast("double"))
      val resid = col("detr7").cast("double") / 7.0 - seasonal
      interior
        .select(col("date"), col("n"), col("dow"), col("s1"),
          col("detr7"),
          sum(col("detr7")).over(wDow).as("dsum"),
          count(col("detr7")).over(wDow).as("dcnt"))
        .select(col("date"), col("n"), col("dow"),
          round(trend, 6).as("trend"),
          round(seasonal, 6).as("seasonal"),
          round(resid, 6).as("residual"),
          (abs(resid) > lit(0.15) * trend).as("is_anomaly"))
        .orderBy("date")
    },
    Some("""WITH daily AS (
        SELECT CAST(ts AS DATE) AS date, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1),
      ma AS (
        SELECT date, n,
          CAST(SUM(n) OVER f AS BIGINT) AS s1,
          COUNT(n) OVER f AS m
        FROM daily
        WINDOW f AS (ORDER BY date
          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      interior AS (
        SELECT date, n, s1,
          CAST(dayofweek(date) AS INTEGER) AS dow,
          7 * n - s1 AS detr7
        FROM ma WHERE m = 7),
      season AS (
        SELECT date, n, dow, s1, detr7,
          CAST(SUM(detr7) OVER (PARTITION BY dow) AS BIGINT) AS dsum,
          COUNT(detr7) OVER (PARTITION BY dow) AS dcnt
        FROM interior)
      SELECT date, n, dow,
        ROUND(CAST(s1 AS DOUBLE) / 7.0, 6) AS trend,
        ROUND(CAST(dsum AS DOUBLE) / (7.0 * CAST(dcnt AS DOUBLE)), 6)
          AS seasonal,
        ROUND(CAST(detr7 AS DOUBLE) / 7.0 -
          CAST(dsum AS DOUBLE) / (7.0 * CAST(dcnt AS DOUBLE)), 6)
          AS residual,
        ABS(CAST(detr7 AS DOUBLE) / 7.0 -
          CAST(dsum AS DOUBLE) / (7.0 * CAST(dcnt AS DOUBLE)))
          > 0.15 * (CAST(s1 AS DOUBLE) / 7.0) AS is_anomaly
      FROM season ORDER BY date"""))

  /** Item-item collaborative filtering — the "viewers of this video
    * also watched" table every media-analytics product ships (the
    * reference's dashboard stops at per-video KPIs; this is the next
    * feature its users ask for). Classic neighborhood CF over the
    * implicit-feedback matrix: cosine(i,j) = |U_i ∩ U_j| /
    * sqrt(|U_i|·|U_j|) on distinct (user, item) engagement, top-5
    * neighbors per item.
    *
    * The scale hazard is pair generation: a raw self-join on user_id
    * fans out C(n_u, 2) per user, and one power user with 10^5 items
    * detonates the stage. The production guard is applied HERE, not
    * hand-waved: each user is capped to their top-50 items by
    * engagement count (row_number over the per-user aggregate —
    * deterministic ties) before the self-join, bounding per-user
    * fan-out at C(50,2) ≈ 1.2k rows of three longs. That cap is the
    * standard CF construction (it also denoises crawlers); with it the
    * co-occurrence shuffle is O(users · 1225) 24-byte rows no matter
    * how skewed the engagement distribution is, and the final top-5 is
    * a per-item window over the ≤ items² pair aggregate. Cosine is one
    * IEEE div-of-sqrt over exact integers, bit-identical in both
    * engines; ties break on neighbor id. */
  /** Shared CF plumbing for the `reco_*` family: raw engagement →
    * per-(user, item) counts. */
  private def cfInteractions(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id"), col("item"))
      .agg(count(lit(1)).as("cnt"))

  /** The per-user top-50 engagement cap that bounds CF pair fan-out at
    * C(50,2) narrow rows per user regardless of skew (deterministic
    * ties: count desc, item asc). Input: (user_id, item, cnt). */
  private def cfCap(inter: DataFrame): DataFrame =
    inter.withColumn("rk", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("cnt").desc, col("item"))))
      .filter(col("rk") <= 50)
      .select(col("user_id"), col("item"))

  /** Symmetric co-occurrence cosine table (i, j, co, cosine) from the
    * capped (user_id, item) list — self-join on user, count per pair,
    * cosine = co / √(n_i·n_j) as one IEEE div-of-sqrt over exact
    * integers. */
  private def cfPairs(capped: DataFrame): DataFrame = {
    val ni = capped.groupBy(col("item")).agg(count(lit(1)).as("n"))
    val co = capped.as("a").join(capped.as("b"), Seq("user_id"))
      .filter(col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("co"))
    val sym = co.select(col("i"), col("j"), col("co"))
      .union(co.select(col("j").as("i"), col("i").as("j"), col("co")))
    sym
      .join(ni.select(col("item").as("i"), col("n").as("ni")), Seq("i"))
      .join(ni.select(col("item").as("j"), col("n").as("nj")), Seq("j"))
      .withColumn("cosine",
        col("co").cast("double") /
          sqrt((col("ni") * col("nj")).cast("double")))
  }

  /** Top-5 neighbor table (i, cand, sim) with 6dp-DECIMAL similarity —
    * the broadcastable serving artifact. */
  private def cfNeighbors(pairs: DataFrame): DataFrame =
    pairs.withColumn("rk", row_number().over(
        Window.partitionBy(col("i"))
          .orderBy(col("cosine").desc, col("j"))))
      .filter(col("rk") <= 5)
      .select(col("i"), col("j").as("cand"),
        round(col("cosine"), 6).cast(DecimalType(18, 6)).as("sim"))

  /** Unseen-item scores (user_id, cand, score_d) — the item-based CF
    * serving rule: broadcast neighbor table against the capped seen
    * list, decimal-exact score sums, anti-join removes seen items. */
  private def cfRecScores(capped: DataFrame, nbrs: DataFrame): DataFrame =
    capped
      .join(broadcast(nbrs), capped("item") === nbrs("i"))
      .groupBy(col("user_id"), col("cand"))
      .agg(sum(col("sim")).as("score_d"))
      .join(capped.select(col("user_id"), col("item").as("cand")),
        Seq("user_id", "cand"), "left_anti")

  private[graft] val recoItemItem = Q("reco_item_item",
    (s, dir) => {
      // capped feeds three consumers inside cfPairs (self-join sides +
      // item counts) — materialize once, see recoUserTopn. The final
      // eager checkpoint (items×5 rows, bounded) lets the scope release
      // the capped intermediate deterministically instead of leaving
      // it in executor storage until the ContextCleaner runs.
      Scratch.scoped {
        val capped = cfCap(cfInteractions(s, dir)).scratchCheckpoint(true)
        cfPairs(capped)
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("i"))
              .orderBy(col("cosine").desc, col("j"))).cast("bigint"))
          .filter(col("rank") <= 5)
          .select(col("i").as("item"), col("rank"),
            col("j").as("neighbor"), col("co"), col("cosine"))
          .orderBy("item", "rank")
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH inter AS (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS item,
          COUNT(*) AS cnt
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
          AND json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1, 2),
      capped AS (SELECT user_id, item FROM (
        SELECT user_id, item, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY cnt DESC, item) AS rk
        FROM inter) WHERE rk <= 50),
      ni AS (SELECT item, COUNT(*) AS n FROM capped GROUP BY 1),
      co AS (SELECT a.item AS i, b.item AS j, COUNT(*) AS co
        FROM capped a JOIN capped b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2),
      sym AS (SELECT i, j, co FROM co
        UNION ALL SELECT j AS i, i AS j, co FROM co),
      scored AS (SELECT s.i, s.j, s.co,
        CAST(s.co AS DOUBLE) / sqrt(CAST(x.n * y.n AS DOUBLE)) AS cosine
        FROM sym s JOIN ni x ON s.i = x.item JOIN ni y ON s.j = y.item)
      SELECT item, rank, neighbor, co, cosine FROM (
        SELECT i AS item,
          CAST(ROW_NUMBER() OVER (PARTITION BY i
            ORDER BY cosine DESC, j) AS BIGINT) AS rank,
          j AS neighbor, co, cosine
        FROM scored)
      WHERE rank <= 5 ORDER BY item, rank"""))

  /** Cohort LTV curves — cumulative revenue per customer by
    * acquisition-month cohort and month age, the table under every
    * "payback period" growth chart (and the longitudinal complement of
    * [[QueriesRelational]]'s retention_cohorts). Cohort = month of the
    * customer's first order (one min-aggregate on the customer key);
    * every order joins back to its owner's cohort (an equi-join on
    * custkey — at 100 TB both sides shuffle once on an 8-byte key, or
    * zero times if orders are bucketed by custkey like
    * [[QueriesCore.bucketedJoin]] demonstrates); age =
    * months-between(order month, cohort month). Revenue sums as exact
    * cents; the cumulative window runs per cohort over the ≤
    * months-of-history frame (calendar-bounded, never data-bounded);
    * LTV-per-customer is the single trailing float division. */
  private[graft] val kpiCohortLtv = Q("kpi_cohort_ltv",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("od"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val first = o.groupBy(col("o_custkey"))
        .agg(trunc(min(col("od")), "month").as("cohort"))
      val size = first.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_customers"))
      val aged = o.join(first, Seq("o_custkey"))
        .select(col("cohort"),
          months_between(trunc(col("od"), "month"), col("cohort"))
            .cast("bigint").as("age"),
          col("cents"))
        .groupBy(col("cohort"), col("age"))
        .agg(sum(col("cents")).as("rev_cents"))
      val cum = Window.partitionBy(col("cohort")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      aged.join(size, Seq("cohort"))
        .withColumn("cum_cents", sum(col("rev_cents")).over(cum))
        .select(col("cohort"), col("age"), col("n_customers"),
          col("rev_cents"), col("cum_cents"),
          (col("cum_cents").cast("double") /
            (lit(100.0) * col("n_customers").cast("double")))
            .as("ltv_per_customer"))
        .orderBy("cohort", "age")
    },
    Some("""WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
        CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      first AS (SELECT o_custkey,
        CAST(date_trunc('month', MIN(od)) AS DATE) AS cohort
        FROM o GROUP BY 1),
      sz AS (SELECT cohort, COUNT(*) AS n_customers FROM first GROUP BY 1),
      aged AS (SELECT f.cohort,
          CAST(date_diff('month', f.cohort, date_trunc('month', o.od))
            AS BIGINT) AS age,
          CAST(SUM(o.cents) AS BIGINT) AS rev_cents
        FROM o JOIN first f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2)
      SELECT a.cohort, a.age, s.n_customers, a.rev_cents,
        CAST(SUM(a.rev_cents) OVER (PARTITION BY a.cohort ORDER BY a.age
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
        CAST(SUM(a.rev_cents) OVER (PARTITION BY a.cohort ORDER BY a.age
          ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
          (100.0 * CAST(s.n_customers AS DOUBLE)) AS ltv_per_customer
      FROM aged a JOIN sz s ON a.cohort = s.cohort
      ORDER BY a.cohort, a.age"""))

  /** Holt linear-trend forecast (double exponential smoothing,
    * α = β = 0.5) of daily order revenue, 7 days ahead — the first
    * model a metrics team reaches for past a moving average, and the
    * trend-aware upgrade of [[QueriesRelational.ewmaValue]]. The
    * recursion l_t = αx_t + (1−α)(l+b); b_t = β(l_t − l) + (1−β)b is
    * inherently sequential, so the scale shape mirrors ewma/KM: the
    * HEAVY pass is the daily cents aggregate (partial+final sum,
    * calendar-bounded output), and the fold runs inside ONE row via
    * `aggregate(array_sort(collect_list(...)))` over the
    * days-of-history series — at 100 TB the fold length is the
    * calendar, not the row count. α = β = 0.5 keeps every step an
    * IEEE halve-and-add both engines replicate bit-for-bit. The
    * DuckDB twin is a recursive CTE, NOT list_reduce: DuckDB 1.0's
    * list_reduce mutates a struct accumulator field-by-field, so the
    * 'b' lambda would read the already-updated level (verified
    * empirically — a two-field recursion silently diverges).
    * Output: the 7 forecast rows ŷ_h = l + h·b. */
  private[graft] val forecastHolt = Q("forecast_holt",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("cents"))
      val accT = "struct<l:double,b:double>"
      val folded = daily
        .agg(array_sort(collect_list(struct(col("d"),
          col("cents").cast("double").as("x")))).as("arr"))
        .select(aggregate(col("arr"), lit(null).cast(accT), (acc, e) => {
          val x = e.getField("x")
          val ln = lit(0.5) * x +
            lit(0.5) * (acc.getField("l") + acc.getField("b"))
          when(acc.isNull, struct(x.as("l"), lit(0.0).as("b")))
            .otherwise(struct(ln.as("l"),
              (lit(0.5) * (ln - acc.getField("l")) +
                lit(0.5) * acc.getField("b")).as("b")))
        }).as("st"))
      folded.select(explode(sequence(lit(1L), lit(7L))).as("h"),
          col("st.l").as("level"), col("st.b").as("trend"))
        .select(col("h"), col("level"), col("trend"),
          ((col("level") + col("h").cast("double") * col("trend")) /
            lit(100.0)).as("forecast"))
        .orderBy("h")
    },
    Some("""WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS cents
        FROM orders GROUP BY 1),
      s AS (SELECT CAST(cents AS DOUBLE) AS x,
          ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
      holt(i, l, b) AS (
        SELECT i, x, CAST(0 AS DOUBLE) FROM s WHERE i = 1
        UNION ALL
        SELECT s.i,
          0.5 * s.x + 0.5 * (h.l + h.b),
          0.5 * ((0.5 * s.x + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
        FROM holt h JOIN s ON s.i = h.i + 1),
      fin AS (SELECT l, b FROM holt
        WHERE i = (SELECT MAX(i) FROM s))
      SELECT CAST(h AS BIGINT) AS h, f.l AS level, f.b AS trend,
        (f.l + CAST(h AS DOUBLE) * f.b) / 100.0 AS forecast
      FROM fin f CROSS JOIN generate_series(1, 7) AS t(h)
      ORDER BY h"""))

  /** Personalized top-N recommendations composed from
    * [[recoItemItem]]'s neighbor table: score every item a user has
    * NOT engaged with by the summed similarity of the user's own items
    * that list it as a neighbor, keep the top 3 — the standard
    * item-based CF serving rule (Sarwar et al. 2001). Plan shape: the
    * neighbor table is items × 5 rows (small by construction — it
    * broadcasts), so scoring is a map-side join of the capped
    * user-item list against it, one aggregate on (user, candidate),
    * an anti-join back to the seen set on the same key pair, and a
    * per-user top-3 window. Per-pair similarities round to 6dp DECIMAL
    * before the sum so the score aggregate is shuffle-order-exact;
    * ties break on item id. */
  private[graft] val recoUserTopn = Q("reco_user_topn",
    (s, dir) => {
      // capped feeds FOUR consumers (co-occurrence self-join ×2, item
      // counts, score join, anti-join seen set) — materialize it once
      // or every consumer re-executes the whole events scan + JSON
      // extraction + two shuffles (measured 64.9 s → 4.5 s at the 10×
      // rehearsal). At 100 TB the capped seen-list is a persisted
      // table the serving job reads, same contract. Final eager
      // checkpoint (users×3 rows — the serving table you'd write
      // anyway) → the scope releases capped deterministically, not at
      // GC time.
      Scratch.scoped {
        val capped = cfCap(cfInteractions(s, dir)).scratchCheckpoint(true)
        cfRecScores(capped, cfNeighbors(cfPairs(capped)))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("score_d").desc, col("cand"))).cast("bigint"))
          .filter(col("rank") <= 3)
          .select(col("user_id"), col("rank"), col("cand").as("item"),
            col("score_d").cast("double").as("score"))
          .orderBy("user_id", "rank")
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH inter AS (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS item,
          COUNT(*) AS cnt
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
          AND json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1, 2),
      capped AS (SELECT user_id, item FROM (
        SELECT user_id, item, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY cnt DESC, item) AS rk
        FROM inter) WHERE rk <= 50),
      ni AS (SELECT item, COUNT(*) AS n FROM capped GROUP BY 1),
      co AS (SELECT a.item AS i, b.item AS j, COUNT(*) AS co
        FROM capped a JOIN capped b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2),
      sym AS (SELECT i, j, co FROM co
        UNION ALL SELECT j AS i, i AS j, co FROM co),
      nbrs AS (SELECT i, cand, sim FROM (
        SELECT s.i, s.j AS cand,
          CAST(ROUND(CAST(s.co AS DOUBLE) /
            sqrt(CAST(x.n * y.n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sim,
          ROW_NUMBER() OVER (PARTITION BY s.i ORDER BY
            CAST(s.co AS DOUBLE) / sqrt(CAST(x.n * y.n AS DOUBLE)) DESC,
            s.j) AS rk
        FROM sym s JOIN ni x ON s.i = x.item JOIN ni y ON s.j = y.item)
        WHERE rk <= 5),
      scored AS (SELECT c.user_id, nb.cand, SUM(nb.sim) AS score_d
        FROM capped c JOIN nbrs nb ON c.item = nb.i
        GROUP BY 1, 2),
      unseen AS (SELECT sc.* FROM scored sc
        LEFT JOIN capped cp
          ON sc.user_id = cp.user_id AND sc.cand = cp.item
        WHERE cp.item IS NULL)
      SELECT user_id, rank, cand AS item, score FROM (
        SELECT user_id, cand,
          CAST(ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY score_d DESC, cand) AS BIGINT) AS rank,
          CAST(score_d AS DOUBLE) AS score
        FROM unseen)
      WHERE rank <= 3 ORDER BY user_id, rank"""))

  /** Rolling-origin BACKTEST of the [[forecastHolt]] model — the
    * evaluation a forecast must pass before anyone trusts it: hold out
    * the final 7 calendar days, fit Holt(α=β=0.5) on the prefix,
    * and compare its per-day absolute error against the naive
    * last-observed-value baseline (the bar every forecasting paper
    * reports, because beating naive is what "the model learned
    * something" means). Same scale posture as the fit itself: one
    * daily aggregate, one calendar-bounded fold; the holdout compare
    * is a 7-row broadcast join. Per-day absolute errors round to 2dp
    * DECIMAL before averaging so the MAEs are order-exact; output is
    * one row with both MAEs (dollars) and the holdout day count.
    * On this fixture the naive baseline WINS (the synthetic daily
    * revenue is stationary noise, so trend extrapolation overshoots) —
    * the textbook outcome on a trendless series, and exactly the
    * decision signal a backtest row exists to surface. */
  private[graft] val forecastBacktest = Q("forecast_backtest",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("cents"))
      val cutoff = daily.agg(date_sub(max(col("d")), 7).as("cutoff"))
      val marked = daily.crossJoin(broadcast(cutoff))
      val train = marked.filter(col("d") <= col("cutoff"))
      val test = marked.filter(col("d") > col("cutoff"))
        .select(col("d"), col("cents"),
          datediff(col("d"), col("cutoff")).cast("double").as("h"))
      val accT = "struct<l:double,b:double,last:double>"
      val fit = train
        .agg(array_sort(collect_list(struct(col("d"),
          col("cents").cast("double").as("x")))).as("arr"))
        .select(aggregate(col("arr"), lit(null).cast(accT), (acc, e) => {
          val x = e.getField("x")
          val ln = lit(0.5) * x +
            lit(0.5) * (acc.getField("l") + acc.getField("b"))
          when(acc.isNull,
            struct(x.as("l"), lit(0.0).as("b"), x.as("last")))
            .otherwise(struct(ln.as("l"),
              (lit(0.5) * (ln - acc.getField("l")) +
                lit(0.5) * acc.getField("b")).as("b"),
              x.as("last")))
        }).as("st"))
      test.crossJoin(broadcast(fit))
        .select(col("d"), col("cents"), col("h"),
          (col("st.l") + col("h") * col("st.b")).as("yhat_holt"),
          col("st.last").as("yhat_naive"))
        .select(
          round(abs(col("cents").cast("double") - col("yhat_holt")) /
            100.0, 2).cast(DecimalType(18, 2)).as("ae_holt"),
          round(abs(col("cents").cast("double") - col("yhat_naive")) /
            100.0, 2).cast(DecimalType(18, 2)).as("ae_naive"))
        .agg(count(lit(1)).as("n_days"),
          (sum(col("ae_holt")).cast("double") / count(lit(1)))
            .as("mae_holt"),
          (sum(col("ae_naive")).cast("double") / count(lit(1)))
            .as("mae_naive"))
    },
    Some("""WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS cents
        FROM orders GROUP BY 1),
      cut AS (SELECT MAX(d) - 7 AS cutoff FROM daily),
      s AS (SELECT CAST(cents AS DOUBLE) AS x,
          ROW_NUMBER() OVER (ORDER BY d) AS i
        FROM daily CROSS JOIN cut WHERE d <= cutoff),
      holt(i, l, b) AS (
        SELECT i, x, CAST(0 AS DOUBLE) FROM s WHERE i = 1
        UNION ALL
        SELECT s.i,
          0.5 * s.x + 0.5 * (h.l + h.b),
          0.5 * ((0.5 * s.x + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b
        FROM holt h JOIN s ON s.i = h.i + 1),
      fit AS (SELECT h.l, h.b,
          (SELECT x FROM s WHERE i = (SELECT MAX(i) FROM s)) AS last
        FROM holt h WHERE h.i = (SELECT MAX(i) FROM s)),
      test AS (SELECT d, cents,
          CAST(date_diff('day', cutoff, d) AS DOUBLE) AS h
        FROM daily CROSS JOIN cut WHERE d > cutoff),
      errs AS (SELECT
          CAST(ROUND(ABS(CAST(cents AS DOUBLE) - (f.l + t.h * f.b)) /
            100.0, 2) AS DECIMAL(18,2)) AS ae_holt,
          CAST(ROUND(ABS(CAST(cents AS DOUBLE) - f.last) /
            100.0, 2) AS DECIMAL(18,2)) AS ae_naive
        FROM test t CROSS JOIN fit f)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        CAST(SUM(ae_holt) AS DOUBLE) / COUNT(*) AS mae_holt,
        CAST(SUM(ae_naive) AS DOUBLE) / COUNT(*) AS mae_naive
      FROM errs"""))

  /** Holt–Winters ADDITIVE forecast (α = β = γ = 0.5, weekly season
    * m = 7) of daily order revenue — the seasonality-aware upgrade of
    * [[forecastHolt]] that [[dowSeasonality]] motivates (revenue has a
    * weekly cycle; a trend-only model aliases it into error). State is
    * (level, trend, 7-slot seasonal ring): l_t = α(x_t − s_{t−7}) +
    * (1−α)(l+b); b_t = β(l_t − l) + (1−β)b; s_t = γ(x_t − l_t) +
    * (1−γ)s_{t−7}. Same scale posture as the other recursions — the
    * corpus-sized work is the daily aggregate; the fold (now carrying
    * a 7-element array through `slice`+`concat` ring updates) is
    * calendar-bounded inside one row. Halving keeps every step
    * IEEE-replicable; the DuckDB twin is a recursive CTE carrying a
    * LIST column with the identical op sequence (list_reduce remains
    * off-limits for multi-field accumulators — see [[forecastHolt]]).
    * Forecast ŷ_h = l + h·b + s[h]: position h of the ring is the
    * seasonal of weekday t+h−7. */
  private[graft] val forecastHw = Q("forecast_hw",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("cents"))
      val accT = "struct<l:double,b:double,s:array<double>>"
      val folded = daily
        .agg(array_sort(collect_list(struct(col("d"),
          col("cents").cast("double").as("x")))).as("arr"))
        .select(aggregate(col("arr"), lit(null).cast(accT), (acc, e) => {
          val x = e.getField("x")
          val sOld = element_at(acc.getField("s"), 1)
          val ln = lit(0.5) * (x - sOld) +
            lit(0.5) * (acc.getField("l") + acc.getField("b"))
          val bn = lit(0.5) * (ln - acc.getField("l")) +
            lit(0.5) * acc.getField("b")
          val sn = lit(0.5) * (x - ln) + lit(0.5) * sOld
          when(acc.isNull, struct(x.as("l"), lit(0.0).as("b"),
            typedLit(Array.fill(7)(0.0)).as("s")))
            .otherwise(struct(ln.as("l"), bn.as("b"),
              concat(slice(acc.getField("s"), 2, 6), array(sn)).as("s")))
        }).as("st"))
      folded.select(explode(sequence(lit(1L), lit(7L))).as("h"),
          col("st.l").as("level"), col("st.b").as("trend"),
          col("st.s").as("s"))
        .select(col("h"), col("level"), col("trend"),
          ((col("level") + col("h").cast("double") * col("trend") +
            element_at(col("s"), col("h").cast("int"))) / lit(100.0))
            .as("forecast"))
        .orderBy("h")
    },
    Some("""WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS cents
        FROM orders GROUP BY 1),
      srs AS (SELECT CAST(cents AS DOUBLE) AS x,
          ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
      hw(i, l, b, s) AS (
        SELECT i, x, CAST(0 AS DOUBLE),
          [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0]
        FROM srs WHERE i = 1
        UNION ALL
        SELECT srs.i,
          0.5 * (srs.x - h.s[1]) + 0.5 * (h.l + h.b),
          0.5 * ((0.5 * (srs.x - h.s[1]) + 0.5 * (h.l + h.b)) - h.l)
            + 0.5 * h.b,
          list_concat(h.s[2:7],
            [0.5 * (srs.x - (0.5 * (srs.x - h.s[1]) +
              0.5 * (h.l + h.b))) + 0.5 * h.s[1]])
        FROM hw h JOIN srs ON srs.i = h.i + 1),
      fin AS (SELECT l, b, s FROM hw
        WHERE i = (SELECT MAX(i) FROM srs))
      SELECT CAST(h AS BIGINT) AS h, f.l AS level, f.b AS trend,
        (f.l + CAST(h AS DOUBLE) * f.b + f.s[CAST(h AS INTEGER)])
          / 100.0 AS forecast
      FROM fin f CROSS JOIN generate_series(1, 7) AS t(h)
      ORDER BY h"""))

  /** ROC-AUC by the Mann–Whitney rank statistic — the evaluation
    * primitive behind every classifier/quality-score dashboard:
    * AUC = (Σ ranks of positives − P(P+1)/2) / (P·N), with AVERAGE
    * ranks for ties (the textbook estimator; naive pairwise
    * comparison is O(P·N) and a non-starter at scale). Scored here:
    * does token count predict the long-document label — the same
    * concept [[QueriesText.qualityClassifier]] trains on, evaluated
    * without training anything.
    *
    * Scale shape: rows collapse to SCORE GROUPS first (one aggregate,
    * output bounded by distinct scores), so the ranking window runs
    * over the group table, not raw rows — the classic trick that makes
    * rank statistics feasible on 100 TB (same posture as
    * [[QueriesRelational.statsSpearman]]'s histogram ranks). Average
    * ranks are exact binary halves (cum + (n+1)/2), positive-rank
    * mass multiplies exact counts, so every sum is IEEE-exact and
    * order-independent; the final AUC is one division. */
  private[graft] val mlAuc = Q("ml_auc",
    (s, dir) => {
      val scored = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(size(split(trim(col("text")), "\\s+"))
          .cast("bigint").as("score"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"))
      val groups = scored.groupBy(col("score"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      val wcum = boundedWindow(col("score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = groups
        .withColumn("cum", sum(col("n")).over(wcum))
        .select(col("n"), col("n_pos"),
          ((col("cum") - col("n")).cast("double") +
            (col("n").cast("double") + 1.0) / 2.0).as("r_avg"))
      ranked.agg(
          sum(col("n_pos")).as("p"),
          sum(col("n") - col("n_pos")).as("nneg"),
          sum(col("n_pos").cast("double") * col("r_avg"))
            .as("pos_rank_sum"))
        .select(col("p"), col("nneg"),
          ((col("pos_rank_sum") -
            col("p").cast("double") * (col("p").cast("double") + 1.0) /
              2.0) /
            (col("p").cast("double") * col("nneg").cast("double")))
            .as("auc"))
    },
    Some(raw"""WITH scored AS (
        SELECT CAST(len(regexp_split_to_array(trim(text), '\s+'))
            AS BIGINT) AS score,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      groups AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1),
      ranked AS (SELECT n, n_pos,
          CAST(SUM(n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
            - n AS DOUBLE) + (CAST(n AS DOUBLE) + 1.0) / 2.0 AS r_avg
        FROM groups),
      agg AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p,
          CAST(SUM(n - n_pos) AS BIGINT) AS nneg,
          SUM(CAST(n_pos AS DOUBLE) * r_avg) AS pos_rank_sum
        FROM ranked)
      SELECT p, nneg,
        (pos_rank_sum - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0)
          / 2.0) / (CAST(p AS DOUBLE) * CAST(nneg AS DOUBLE)) AS auc
      FROM agg"""))

  /** Calibration reliability table + expected calibration error (ECE)
    * — the companion evaluation to [[mlAuc]]: AUC says the scorer
    * RANKS well, calibration says its probabilities MEAN what they
    * say. Same scorer and label (token count predicting the
    * long-document label), probability p̂ = min(tokens, 400)/400,
    * ten equal-width bins. Determinism is all-integer until the last
    * step: per bin the engine carries n, Σy and Σmin(tokens,400) as
    * exact BIGINTs, so confidence = Σsc/(400n), accuracy = Σy/n and
    * the gap (Σy·400 − Σsc)/(400n) are each ONE division over exact
    * longs — and ECE collapses to Σ|Σy·400 − Σsc| over bins (an exact
    * BIGINT sum, order-independent) divided once by 400N, sidestepping
    * the float-summation-order trap a naive Σ nᵦ·|gapᵦ| would hit.
    * Scale: one groupBy to 10 rows, a 1-row broadcast compose — the
    * scan is the whole cost at 100 TB. */
  private[graft] val mlCalibration = Q("ml_calibration",
    (s, dir) => {
      val scored = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(
          least(size(split(trim(col("text")), "\\s+")).cast("bigint"),
            lit(400L)).as("sc"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"))
      val bins = scored
        .select(expr("least((sc * 10) div 400, 9)").as("bin"),
          col("sc"), col("y"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("sc")).as("sp"))
      val tot = bins.agg(
        sum(abs(col("sy") * lit(400L) - col("sp"))).as("gnum"),
        sum(col("n")).as("ntot"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"),
          (col("sp").cast("double") /
            (lit(400.0) * col("n").cast("double"))).as("confidence"),
          (col("sy").cast("double") / col("n").cast("double"))
            .as("accuracy"),
          ((col("sy") * lit(400L) - col("sp")).cast("double") /
            (lit(400.0) * col("n").cast("double"))).as("gap"),
          (col("gnum").cast("double") /
            (lit(400.0) * col("ntot").cast("double"))).as("ece"))
        .orderBy("bin")
    },
    Some(raw"""WITH scored AS (
        SELECT LEAST(CAST(len(regexp_split_to_array(trim(text), '\s+'))
            AS BIGINT), 400) AS sc,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      bins AS (SELECT LEAST((sc * 10) // 400, 9) AS bin,
          CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(sc) AS BIGINT) AS sp
        FROM scored GROUP BY 1),
      tot AS (SELECT CAST(SUM(ABS(sy * 400 - sp)) AS BIGINT) AS gnum,
          CAST(SUM(n) AS BIGINT) AS ntot FROM bins)
      SELECT bin, n,
        CAST(sp AS DOUBLE) / (400.0 * CAST(n AS DOUBLE)) AS confidence,
        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy,
        CAST(sy * 400 - sp AS DOUBLE) / (400.0 * CAST(n AS DOUBLE))
          AS gap,
        CAST(gnum AS DOUBLE) / (400.0 * CAST(ntot AS DOUBLE)) AS ece
      FROM bins CROSS JOIN tot
      ORDER BY bin"""))

  /** ISOTONIC calibration fit ([[graft.llmops.Isotonic.pava]],
    * Zadrozny & Elkan 2002) — [[mlCalibration]] measures
    * miscalibration, this FITS the monotone correction: the
    * non-decreasing step function closest in L2 to the per-score
    * positive rates. One aggregate reduces the corpus to score groups
    * (bounded by the capped token-count domain, ≤ 401 rows at any
    * corpus size); PAVA runs on the driver over that table with
    * EXACT cross-multiplied merge decisions, and each fitted value is
    * one division of pool-integer sums. The oracle needs no
    * sequential loop: by the minimax characterization
    * f(i) = max_{j≤i} min_{k≥i} avg(y_j..y_k), a pure-SQL triple join
    * over the bounded group table lands on the identical doubles
    * (winning (j,k) = pool boundaries, so the division sees the same
    * integers). */
  private[graft] val mlIsotonicCalibration = Q("ml_isotonic_calibration",
    (s, dir) => {
      import s.implicits._
      val groups = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(
          least(size(split(trim(col("text")), "\\s+")).cast("bigint"),
            lit(400L)).as("score"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"))
        .groupBy("score")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
        .as[(Long, Long, Long)]
        .collect() // bounded: one row per distinct capped token count
        .sortBy(_._1)
      val fitted = graft.llmops.Isotonic.pava(
        groups.map(g => (g._2, g._3)).toSeq)
      groups.toSeq.zip(fitted)
        .map { case ((score, n, sy), f) =>
          (score, n, sy, sy.toDouble / n.toDouble, f)
        }
        .toDF("score", "n", "n_pos", "raw_rate", "fitted_rate")
        .orderBy("score")
    },
    Some(raw"""WITH scored AS (
        SELECT LEAST(CAST(len(regexp_split_to_array(trim(text), '\s+'))
            AS BIGINT), 400) AS score,
          CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      groups AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(y) AS BIGINT) AS sy
        FROM scored GROUP BY 1),
      cum AS (SELECT score, n, sy,
          ROW_NUMBER() OVER (ORDER BY score) AS i,
          SUM(n) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cn,
          SUM(sy) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cs
        FROM groups),
      pairs AS (
        SELECT j.i AS j, k.i AS k,
          CAST(k.cs - (j.cs - j.sy) AS DOUBLE) /
            CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS a
        FROM cum j JOIN cum k ON k.i >= j.i),
      m1 AS (SELECT p.j, c.i, MIN(p.a) AS mn
        FROM cum c JOIN pairs p ON p.j <= c.i AND p.k >= c.i
        GROUP BY 1, 2),
      fit AS (SELECT i, MAX(mn) AS fitted FROM m1 GROUP BY 1)
      SELECT c.score, c.n, c.sy AS n_pos,
        CAST(c.sy AS DOUBLE) / CAST(c.n AS DOUBLE) AS raw_rate,
        f.fitted AS fitted_rate
      FROM cum c JOIN fit f ON f.i = c.i
      ORDER BY c.score"""))

  /** SPLIT CONFORMAL upper bound (Vovk's distribution-free coverage,
    * the Angelopoulos & Bates recipe): from a calibration half (even
    * event ids) take the ⌈(n+1)(1−α)⌉-th smallest purchase value as
    * the 90% upper prediction bound — the finite-sample correction
    * (n+1, not n) is what makes coverage ≥ 90% a THEOREM, not an
    * asymptotic hope — then validate empirical coverage on the
    * held-out odd half. Everything is exact integers: the order
    * statistic comes from the bounded cents value histogram (the
    * [[statsMannWhitney]] trick — no global row sort), the rank
    * k = ⌈9(n+1)/10⌉ is ceil-division in integer arithmetic, and
    * coverage is one division of two exact counts. At 100 TB: two
    * scan-side conditional aggregates and a ≤ 49k-row histogram
    * cumsum. */
  private[graft] val mlConformalQuantile = Q("ml_conformal_quantile",
    (s, dir) => {
      val p = events(s, dir)
        .filter(col("event_type") === "purchase" &&
          col("value").isNotNull)
        .select(col("event_id"),
          expr("cast(round(value * 100) as bigint)").as("cents"),
          (col("event_id") % 2 === 0).as("is_cal"))
      val hist = p.filter(col("is_cal"))
        .groupBy("cents").agg(count(lit(1)).as("m"))
      val wc = boundedWindow(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist.select(col("cents"),
        sum(col("m")).over(wc).as("cum"))
      val nCal = cum.agg(max(col("cum")).as("n_cal"))
      val q = cum.crossJoin(broadcast(nCal))
        .filter(col("cum") * 10 >= (col("n_cal") + 1) * 9)
        .agg(min(col("cents")).as("q_cents"), max(col("n_cal"))
          .as("n_cal"))
      val test = p.filter(!col("is_cal"))
      test.crossJoin(broadcast(q))
        .agg(max(col("n_cal")).as("n_cal"),
          max(expr("(9 * (n_cal + 1) + 9) div 10")).as("k"),
          max(col("q_cents")).as("q_cents"),
          count(lit(1)).as("n_test"),
          sum(when(col("cents") <= col("q_cents"), 1L).otherwise(0L))
            .as("n_covered"))
        .select(col("n_cal"), col("k"), col("q_cents"), col("n_test"),
          col("n_covered"),
          (col("n_covered").cast("double") /
            col("n_test").cast("double")).as("coverage"))
    },
    Some("""WITH p AS (
        SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS cents,
          event_id % 2 = 0 AS is_cal
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL),
      hist AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS m
        FROM p WHERE is_cal GROUP BY 1),
      cum AS (SELECT cents,
          CAST(SUM(m) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum
        FROM hist),
      ncal AS (SELECT MAX(cum) AS n_cal FROM cum),
      q AS (SELECT MIN(cents) AS q_cents, MAX(n_cal) AS n_cal
        FROM cum CROSS JOIN ncal
        WHERE cum * 10 >= (n_cal + 1) * 9)
      SELECT MAX(n_cal) AS n_cal,
        MAX((9 * (n_cal + 1) + 9) // 10) AS k,
        MAX(q_cents) AS q_cents,
        CAST(COUNT(*) AS BIGINT) AS n_test,
        CAST(SUM(CASE WHEN cents <= q_cents THEN 1 ELSE 0 END)
          AS BIGINT) AS n_covered,
        CAST(SUM(CASE WHEN cents <= q_cents THEN 1 ELSE 0 END)
          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
      FROM p CROSS JOIN q
      WHERE NOT is_cal"""))

  /** Smoothed target encoding — the feature-engineering workhorse for
    * high-cardinality categoricals: replace each category with
    * (Σ target + k·global_mean) / (n + k), the empirical-Bayes
    * shrinkage that keeps rare categories from memorizing their
    * handful of labels (k = 20 pseudo-observations). Encoded here:
    * market segment → mean order value. One equi-join orders→customer
    * on the 8-byte custkey (broadcast-able dimension), one aggregate
    * per category, one 1-row global compose — at 100 TB the encoding
    * table is |categories| rows and ships back to the feature join as
    * a broadcast. Target sums are exact cents; the global mean and
    * each category's shrunk mean are identical IEEE sequences in both
    * engines. */
  private[graft] val featureTargetEncoding = Q("feature_target_encoding",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("cents"))
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = o.join(broadcast(c),
        col("o_custkey") === col("c_custkey"))
      val glob = joined.agg(sum(col("cents")).as("gs"),
        count(lit(1)).as("gn"))
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
        .crossJoin(broadcast(glob))
        .select(col("c_mktsegment"), col("n"),
          (col("s").cast("double") / (lit(100.0) * col("n").cast("double")))
            .as("raw_mean"),
          ((col("s").cast("double") / 100.0 +
            lit(20.0) * (col("gs").cast("double") /
              (lit(100.0) * col("gn").cast("double")))) /
            (col("n").cast("double") + lit(20.0))).as("encoded"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH j AS (SELECT c.c_mktsegment,
        CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      gt AS (SELECT CAST(SUM(cents) AS BIGINT) AS gs,
        CAST(COUNT(*) AS BIGINT) AS gn FROM j)
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(cents) AS DOUBLE) /
          (100.0 * CAST(COUNT(*) AS DOUBLE)) AS raw_mean,
        (CAST(SUM(cents) AS DOUBLE) / 100.0 +
          20.0 * (CAST(gs AS DOUBLE) / (100.0 * CAST(gn AS DOUBLE)))) /
          (CAST(COUNT(*) AS DOUBLE) + 20.0) AS encoded
      FROM j CROSS JOIN gt
      GROUP BY c_mktsegment, gs, gn ORDER BY c_mktsegment"""))

  /** Forecast-residual anomaly detection — the production alerting
    * rule built from [[forecastHw]]: each day's ONE-STEP-AHEAD
    * Holt–Winters fit (ŷ_t = l + b + s_ring[1], computed from the
    * state BEFORE folding day t in) gives a residual, and a day is
    * anomalous when |residual| exceeds 3× the median absolute
    * residual — the robust threshold that a single spike cannot
    * inflate (unlike 3σ, which the anomaly itself widens). This is
    * what pages an on-call: "today is far off what the model, given
    * every prior day, expected today to be" — seasonality-aware where
    * [[QueriesRelational.anomalyMad]] is level-only. Fold carries the
    * fitted series in its accumulator (the [[survivalKm]] out-array
    * shape); residuals round to 2dp DECIMAL; the median is an exact
    * order statistic over the day-domain table (allowlisted
    * aggregated-input window). */
  private[graft] val anomalyForecastResidual = Q("anomaly_forecast_residual",
    (s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)"))
          .as("cents"))
      val accT = "struct<l:double,b:double,s:array<double>," +
        "out:array<struct<d:date,yhat:double>>>"
      val emptyOut =
        expr("cast(array() as array<struct<d:date,yhat:double>>)")
      val folded = daily
        .agg(array_sort(collect_list(struct(col("d"),
          col("cents").cast("double").as("x")))).as("arr"))
        .select(aggregate(col("arr"), lit(null).cast(accT), (acc, e) => {
          val x = e.getField("x")
          val sOld = element_at(acc.getField("s"), 1)
          val yhat = acc.getField("l") + acc.getField("b") + sOld
          val ln = lit(0.5) * (x - sOld) +
            lit(0.5) * (acc.getField("l") + acc.getField("b"))
          val bn = lit(0.5) * (ln - acc.getField("l")) +
            lit(0.5) * acc.getField("b")
          val sn = lit(0.5) * (x - ln) + lit(0.5) * sOld
          when(acc.isNull, struct(x.as("l"), lit(0.0).as("b"),
            typedLit(Array.fill(7)(0.0)).as("s"), emptyOut.as("out")))
            .otherwise(struct(ln.as("l"), bn.as("b"),
              concat(slice(acc.getField("s"), 2, 6), array(sn)).as("s"),
              concat(acc.getField("out"), array(struct(
                e.getField("d").as("d"), yhat.as("yhat")))).as("out")))
        }).getField("out").as("out"))
      val fitted = folded.select(explode(col("out")).as("f"))
        .select(col("f.d").as("d"), col("f.yhat").as("yhat"))
        .join(daily, Seq("d"))
      val resids = fitted.select(col("d"), col("cents"), col("yhat"),
        round((col("cents").cast("double") - col("yhat")) / 100.0, 2)
          .cast(DecimalType(18, 2)).as("resid"))
      val ranked = resids.withColumn("rn", row_number().over(
        boundedWindow(abs(col("resid")), col("d"))))
      val n = resids.agg(count(lit(1)).as("n_days"))
      val mad = ranked.crossJoin(broadcast(n))
        .filter(col("rn") === expr("(n_days + 1) div 2") ||
          col("rn") === expr("n_days div 2 + 1"))
        .agg((sum(abs(col("resid"))).cast("double") / count(lit(1)))
          .as("mad"))
      resids.crossJoin(broadcast(mad))
        .select(col("d"), col("cents").as("actual_cents"),
          round(col("yhat") / 100.0, 2).as("fitted"),
          col("resid").cast("double").as("resid"),
          (abs(col("resid")).cast("double") > lit(3.0) * col("mad"))
            .as("is_anomaly"))
        .orderBy("d")
    },
    Some("""WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS cents
        FROM orders GROUP BY 1),
      srs AS (SELECT d, CAST(cents AS DOUBLE) AS x,
          ROW_NUMBER() OVER (ORDER BY d) AS i FROM daily),
      hw(i, l, b, s) AS (
        SELECT i, x, CAST(0 AS DOUBLE),
          [CAST(0 AS DOUBLE), 0, 0, 0, 0, 0, 0]
        FROM srs WHERE i = 1
        UNION ALL
        SELECT srs.i,
          0.5 * (srs.x - h.s[1]) + 0.5 * (h.l + h.b),
          0.5 * ((0.5 * (srs.x - h.s[1]) + 0.5 * (h.l + h.b)) - h.l)
            + 0.5 * h.b,
          list_concat(h.s[2:7],
            [0.5 * (srs.x - (0.5 * (srs.x - h.s[1]) +
              0.5 * (h.l + h.b))) + 0.5 * h.s[1]])
        FROM hw h JOIN srs ON srs.i = h.i + 1),
      fitted AS (SELECT srs.d, srs.x, h.l + h.b + h.s[1] AS yhat
        FROM hw h JOIN srs ON srs.i = h.i + 1),
      resids AS (SELECT f.d, dd.cents, f.yhat,
          CAST(ROUND((f.x - f.yhat) / 100.0, 2) AS DECIMAL(18,2))
            AS resid
        FROM fitted f JOIN daily dd ON f.d = dd.d),
      ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(resid), d)
          AS rn, COUNT(*) OVER () AS n_days
        FROM resids),
      mad AS (SELECT CAST(SUM(ABS(resid)) AS DOUBLE) / COUNT(*) AS mad
        FROM ranked
        WHERE rn = (n_days + 1) // 2 OR rn = n_days // 2 + 1)
      SELECT d, cents AS actual_cents,
        ROUND(yhat / 100.0, 2) AS fitted,
        CAST(resid AS DOUBLE) AS resid,
        ABS(CAST(resid AS DOUBLE)) > 3.0 * mad AS is_anomaly
      FROM resids CROSS JOIN mad ORDER BY d"""))

  /** Differentially-private release of the per-event-type counts —
    * the Laplace mechanism (sensitivity 1, ε = 1 → scale b = 1) with
    * DETERMINISTIC seeded noise: the uniform comes from md5 of a
    * release-versioned cell key ("dp1:" ++ cell), inverse-CDF'd to
    * Laplace(b) as −sign(u−½)·b·ln(1−2|u−½|). Seeded noise is the
    * production-correct choice, not a shortcut: a re-run of the
    * release job must publish the SAME noised values (idempotent
    * republication — fresh RNG would leak a new independent sample
    * per retry, silently shrinking the effective ε), and rotating the
    * release version string is exactly a fresh draw. Everything after
    * the 5-cell aggregate is scan-side column math; both engines walk
    * the identical md5→uniform→ln sequence ([[sampleHashSplit]]'s
    * parity idiom), released values round at 6dp. True counts ride
    * along for the oracle's audit — a real release drops them. */
  private[graft] val dpReleaseLaplace = Q("dp_release_laplace",
    (s, dir) => {
      val counts = events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val u = (conv(substring(md5(concat(lit("dp1:"),
        col("event_type"))), 1, 8), 16, 10).cast("double") + 0.5) /
        lit(4294967296.0)
      counts
        .withColumn("x", u - lit(0.5))
        .withColumn("noise",
          -signum(col("x")) * log(lit(1.0) - lit(2.0) * abs(col("x"))))
        .select(col("event_type"), col("n"),
          round(col("noise"), 6).as("noise"),
          round(col("n").cast("double") + col("noise"), 6)
            .as("released"))
        .orderBy("event_type")
    },
    Some("""WITH counts AS (SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
      seeded AS (SELECT event_type, n,
        (CAST('0x' || substring(md5('dp1:' || event_type), 1, 8)
          AS BIGINT) + 0.5) / 4294967296.0 - 0.5 AS x
        FROM counts)
      SELECT event_type, n,
        ROUND(-sign(x) * ln(1.0 - 2.0 * abs(x)), 6) AS noise,
        ROUND(CAST(n AS DOUBLE) +
          (-sign(x) * ln(1.0 - 2.0 * abs(x))), 6) AS released
      FROM seeded ORDER BY event_type"""))

  /** Repeat-purchase rate — of users whose FIRST purchase exists, the
    * share who purchase again within 30 days: the retention KPI next
    * to [[kpiCohortLtv]] (LTV says how much; repeat rate says how
    * reliably the second order happens, which is what acquisition
    * spend is underwritten against). Two per-user min-aggregates on
    * projected (user, ts) pairs — the funnel cost shape — plus a
    * 1-row compose; the 30-day bound rides the joined first-purchase
    * timestamp as a scan predicate. */
  private[graft] val kpiRepeatPurchase = Q("kpi_repeat_purchase",
    (s, dir) => {
      val p = events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val first = p.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("first_us"))
      val repeat = p.join(first, Seq("user_id"))
        .filter(col("ts_us") > col("first_us") &&
          col("ts_us") <= col("first_us") + lit(30L * 86400L * 1000000L))
        .select(col("user_id")).distinct()
      first.agg(count(lit(1)).as("n_buyers"))
        .crossJoin(broadcast(repeat.agg(count(lit(1))
          .as("n_repeat_30d"))))
        .select(col("n_buyers"), col("n_repeat_30d"),
          (col("n_repeat_30d").cast("double") /
            col("n_buyers").cast("double")).as("repeat_rate"))
    },
    Some("""WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us
        FROM events WHERE event_type = 'purchase'),
      first AS (SELECT user_id, MIN(ts_us) AS first_us
        FROM p GROUP BY 1),
      rep AS (SELECT DISTINCT p.user_id
        FROM p JOIN first f ON p.user_id = f.user_id
        WHERE p.ts_us > f.first_us
          AND p.ts_us <= f.first_us + 2592000000000)
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM first) AS n_buyers,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM rep) AS n_repeat_30d,
        CAST((SELECT COUNT(*) FROM rep) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM first) AS DOUBLE) AS repeat_rate"""))

  /** SLO error-budget burn rate — the SRE alerting rule (multi-window
    * burn, Google SRE workbook ch.5) over the event stream: daily
    * error share, its trailing-7-day rate, and the burn multiple
    * against the budget. The budget is SELF-CALIBRATED to the
    * corpus-wide error rate (a fixture has no contract SLO; a
    * deployment substitutes its target and nothing else changes), so
    * burn > 1 means "worse than historical baseline" and the alert
    * fires above 1.2. One day-domain aggregate carries everything;
    * the trailing window runs over the calendar-dense daily table
    * (aggregated-input allowlist); rates divide exact counts. */
  private[graft] val sloBurnRate = Q("slo_burn_rate",
    (s, dir) => {
      val daily = events(s, dir)
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("err"))
      val slo = daily.agg(
        (sum(col("err")).cast("double") / sum(col("n")).cast("double"))
          .as("slo_rate"))
      val w7 = boundedWindow(col("date")).rowsBetween(-6, 0)
      daily
        .withColumn("n7", sum(col("n")).over(w7))
        .withColumn("err7", sum(col("err")).over(w7))
        .crossJoin(broadcast(slo))
        .select(col("date"), col("n"), col("err"),
          (col("err").cast("double") / col("n").cast("double"))
            .as("daily_rate"),
          (col("err7").cast("double") / col("n7").cast("double"))
            .as("rate_7d"),
          ((col("err7").cast("double") / col("n7").cast("double")) /
            col("slo_rate")).as("burn"),
          (((col("err7").cast("double") / col("n7").cast("double")) /
            col("slo_rate")) > 1.2).as("alert"))
        .orderBy("date")
    },
    Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS date,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
          AS BIGINT) AS err
        FROM events GROUP BY 1),
      slo AS (SELECT CAST(SUM(err) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
          AS slo_rate FROM daily),
      win AS (SELECT date, n, err,
          CAST(SUM(n) OVER f AS BIGINT) AS n7,
          CAST(SUM(err) OVER f AS BIGINT) AS err7
        FROM daily
        WINDOW f AS (ORDER BY date
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      SELECT date, n, err,
        CAST(err AS DOUBLE) / CAST(n AS DOUBLE) AS daily_rate,
        CAST(err7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS rate_7d,
        (CAST(err7 AS DOUBLE) / CAST(n7 AS DOUBLE)) / slo_rate AS burn,
        (CAST(err7 AS DOUBLE) / CAST(n7 AS DOUBLE)) / slo_rate > 1.2
          AS alert
      FROM win CROSS JOIN slo ORDER BY date"""))

  /** DAU/MAU stickiness — the ratio product teams headline ("what
    * share of the monthly audience shows up daily?"), proving the
    * [[rollingActiveUsers]] scaladoc's claim that a 28-day MAU is the
    * same plan with a ×28 constant: collapse to distinct (user, day)
    * once, fan the SMALL pair set to the ≤28 report days it supports,
    * semi-join to observed dates, re-distinct, count — the exchange
    * never carries raw events. Output per day: DAU, MAU-28, and the
    * single-division stickiness ratio. */
  private[graft] val kpiStickiness = Q("kpi_stickiness",
    (s, dir) => {
      val ud = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val dates = ud.select(col("d").as("date")).distinct()
      val dau = ud.groupBy(col("d").as("date"))
        .agg(count(lit(1)).as("dau"))
      val mau = ud
        .select(col("user_id"),
          explode(sequence(lit(0), lit(27))).as("off"), col("d"))
        .select(col("user_id"), date_add(col("d"), col("off")).as("date"))
        .join(broadcast(dates), Seq("date"))
        .distinct()
        .groupBy("date")
        .agg(count(lit(1)).as("mau"))
      dau.join(mau, Seq("date"))
        .select(col("date"), col("dau"), col("mau"),
          (col("dau").cast("double") / col("mau").cast("double"))
            .as("stickiness"))
        .orderBy("date")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        FROM events),
      days AS (SELECT DISTINCT d AS date FROM ud),
      win AS (SELECT DISTINCT dy.date, u.user_id
        FROM days dy JOIN ud u ON u.d BETWEEN dy.date - 27 AND dy.date),
      dau AS (SELECT d AS date, CAST(COUNT(*) AS BIGINT) AS dau
        FROM ud GROUP BY 1),
      mau AS (SELECT date, CAST(COUNT(*) AS BIGINT) AS mau
        FROM win GROUP BY 1)
      SELECT dau.date, dau.dau, mau.mau,
        CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE) AS stickiness
      FROM dau JOIN mau USING (date) ORDER BY 1"""))

  /** CUPED variance reduction (Deng et al. 2013) — the experiment-
    * platform standard: adjust each user's experiment-period metric by
    * their PRE-period behavior (y_adj = y − θ(x − x̄)), shrinking
    * metric variance so the same experiment detects smaller effects.
    * The whole analysis is CLOSED FORM over exact per-arm moments
    * (Σx, Σy, Σxy, Σx², Σy², n as exact cents — one aggregate after
    * the per-user rollup): θ = cov(x,y)/var(x) pooled, and
    * var(y_adj) = var(y) − 2θ·cov + θ²·var(x), so no per-user float
    * ever sums — the [[statsExact]] moment discipline applied to
    * experimentation. Pre/post split at the event horizon's midpoint;
    * arms by user parity. Output: θ, raw vs CUPED mean difference
    * (they agree in expectation; CUPED's point estimate shifts only
    * by pre-period imbalance), and per-arm variance reduction. */
  private[graft] val abCuped = Q("ab_cuped",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        to_date(col("ts")).as("d"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      val mid = ev.agg(date_add(min(col("d")),
        (datediff(max(col("d")), min(col("d"))) / 2).cast("int"))
        .as("mid"))
      val per = ev.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("d") < col("mid"), col("cents"))
          .otherwise(0L)).as("x"),
          sum(when(col("d") >= col("mid"), col("cents"))
            .otherwise(0L)).as("y"))
        .withColumn("arm",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      val arms = per.groupBy(col("arm")).agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val a = arms.filter(col("arm") === "A").drop("arm")
        .toDF("n_a", "sx_a", "sy_a", "sxy_a", "sxx_a", "syy_a")
      val b = arms.filter(col("arm") === "B").drop("arm")
        .toDF("n_b", "sx_b", "sy_b", "sxy_b", "sxx_b", "syy_b")
      def d(c: Column) = c.cast("double")
      a.crossJoin(broadcast(b))
        .withColumn("nn", d(col("n_a")) + d(col("n_b")))
        .withColumn("mx", (d(col("sx_a")) + d(col("sx_b"))) / col("nn"))
        .withColumn("my", (d(col("sy_a")) + d(col("sy_b"))) / col("nn"))
        .withColumn("cov",
          (d(col("sxy_a")) + d(col("sxy_b"))) / col("nn") -
            col("mx") * col("my"))
        .withColumn("varx",
          (d(col("sxx_a")) + d(col("sxx_b"))) / col("nn") -
            col("mx") * col("mx"))
        .withColumn("theta", col("cov") / col("varx"))
        .withColumn("vy_a", d(col("syy_a")) / d(col("n_a")) -
          (d(col("sy_a")) / d(col("n_a"))) * (d(col("sy_a")) / d(col("n_a"))))
        .withColumn("vy_b", d(col("syy_b")) / d(col("n_b")) -
          (d(col("sy_b")) / d(col("n_b"))) * (d(col("sy_b")) / d(col("n_b"))))
        .withColumn("cov_a", d(col("sxy_a")) / d(col("n_a")) -
          (d(col("sx_a")) / d(col("n_a"))) * (d(col("sy_a")) / d(col("n_a"))))
        .withColumn("cov_b", d(col("sxy_b")) / d(col("n_b")) -
          (d(col("sx_b")) / d(col("n_b"))) * (d(col("sy_b")) / d(col("n_b"))))
        .withColumn("vx_a", d(col("sxx_a")) / d(col("n_a")) -
          (d(col("sx_a")) / d(col("n_a"))) * (d(col("sx_a")) / d(col("n_a"))))
        .withColumn("vx_b", d(col("sxx_b")) / d(col("n_b")) -
          (d(col("sx_b")) / d(col("n_b"))) * (d(col("sx_b")) / d(col("n_b"))))
        .select(col("n_a"), col("n_b"),
          round(col("theta"), 6).as("theta"),
          round((d(col("sy_a")) / d(col("n_a")) -
            d(col("sy_b")) / d(col("n_b"))) / 100.0, 4)
            .as("mean_diff_raw"),
          round(((d(col("sy_a")) / d(col("n_a")) -
            col("theta") * (d(col("sx_a")) / d(col("n_a")) - col("mx"))) -
            (d(col("sy_b")) / d(col("n_b")) -
              col("theta") * (d(col("sx_b")) / d(col("n_b")) - col("mx"))))
            / 100.0, 4).as("mean_diff_cuped"),
          round(lit(1.0) - (col("vy_a") - lit(2.0) * col("theta") *
            col("cov_a") + col("theta") * col("theta") * col("vx_a")) /
            col("vy_a"), 6).as("var_reduction_a"),
          round(lit(1.0) - (col("vy_b") - lit(2.0) * col("theta") *
            col("cov_b") + col("theta") * col("theta") * col("vx_b")) /
            col("vy_b"), 6).as("var_reduction_b"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d,
        CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
      mid AS (SELECT MIN(d) + CAST(date_diff('day', MIN(d), MAX(d)) / 2
        AS INTEGER) AS mid FROM ev),
      per AS (SELECT user_id,
          CAST(SUM(CASE WHEN d < mid THEN cents ELSE 0 END) AS BIGINT)
            AS x,
          CAST(SUM(CASE WHEN d >= mid THEN cents ELSE 0 END) AS BIGINT)
            AS y,
          CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        FROM ev CROSS JOIN mid GROUP BY user_id),
      arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
          CAST(SUM(x * y) AS BIGINT) AS sxy,
          CAST(SUM(x * x) AS BIGINT) AS sxx,
          CAST(SUM(y * y) AS BIGINT) AS syy
        FROM per GROUP BY 1),
      ab AS (SELECT
          (SELECT n FROM arms WHERE arm = 'A') AS n_a,
          (SELECT sx FROM arms WHERE arm = 'A') AS sx_a,
          (SELECT sy FROM arms WHERE arm = 'A') AS sy_a,
          (SELECT sxy FROM arms WHERE arm = 'A') AS sxy_a,
          (SELECT sxx FROM arms WHERE arm = 'A') AS sxx_a,
          (SELECT syy FROM arms WHERE arm = 'A') AS syy_a,
          (SELECT n FROM arms WHERE arm = 'B') AS n_b,
          (SELECT sx FROM arms WHERE arm = 'B') AS sx_b,
          (SELECT sy FROM arms WHERE arm = 'B') AS sy_b,
          (SELECT sxy FROM arms WHERE arm = 'B') AS sxy_b,
          (SELECT sxx FROM arms WHERE arm = 'B') AS sxx_b,
          (SELECT syy FROM arms WHERE arm = 'B') AS syy_b),
      m AS (SELECT *,
          CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn FROM ab),
      m2 AS (SELECT *,
          (CAST(sx_a AS DOUBLE) + CAST(sx_b AS DOUBLE)) / nn AS mx,
          (CAST(sy_a AS DOUBLE) + CAST(sy_b AS DOUBLE)) / nn AS my
        FROM m),
      m3 AS (SELECT *,
          (CAST(sxy_a AS DOUBLE) + CAST(sxy_b AS DOUBLE)) / nn
            - mx * my AS cov,
          (CAST(sxx_a AS DOUBLE) + CAST(sxx_b AS DOUBLE)) / nn
            - mx * mx AS varx
        FROM m2),
      m4 AS (SELECT *, cov / varx AS theta,
          CAST(syy_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
            (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) *
            (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) AS vy_a,
          CAST(syy_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
            (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) *
            (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS vy_b,
          CAST(sxy_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
            (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)) *
            (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)) AS cov_a,
          CAST(sxy_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
            (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) *
            (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS cov_b,
          CAST(sxx_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
            (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)) *
            (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)) AS vx_a,
          CAST(sxx_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
            (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) *
            (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS vx_b
        FROM m3)
      SELECT n_a, n_b, ROUND(theta, 6) AS theta,
        ROUND((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
          CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / 100.0, 4)
          AS mean_diff_raw,
        ROUND(((CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) -
          theta * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) - mx)) -
          (CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
          theta * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) - mx)))
          / 100.0, 4) AS mean_diff_cuped,
        ROUND(1.0 - (vy_a - 2.0 * theta * cov_a + theta * theta * vx_a)
          / vy_a, 6) AS var_reduction_a,
        ROUND(1.0 - (vy_b - 2.0 * theta * cov_b + theta * theta * vx_b)
          / vy_b, 6) AS var_reduction_b
      FROM m4"""))

  /** Difference-in-differences — the quasi-experimental sibling of
    * [[abCuped]] for when assignment isn't randomized: the treatment
    * effect is (B_post − B_pre) − (A_post − A_pre), netting out both
    * the arms' level difference and the common time trend. Same
    * conventions as CUPED (pre/post split at the horizon midpoint,
    * arms by user parity); ONE conditional aggregate reduces the scan
    * to eight exact BIGINTs (n and Σcents per arm×period cell — no
    * per-user rollup is needed because DiD is a difference of cell
    * means), and every double is one division or subtraction over
    * those longs with the operation tree written identically in both
    * engines. */
  private[graft] val abDid = Q("ab_did",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"),
        to_date(col("ts")).as("d"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      val mid = ev.agg(date_add(min(col("d")),
        (datediff(max(col("d")), min(col("d"))) / 2).cast("int"))
        .as("mid"))
      def cell(arm: Int, post: Boolean) = {
        val inArm = col("user_id") % 2 === arm
        val inPeriod = if (post) col("d") >= col("mid")
          else col("d") < col("mid")
        inArm && inPeriod
      }
      val agg = ev.crossJoin(broadcast(mid)).agg(
        sum(when(cell(0, post = false), 1L).otherwise(0L)).as("n_a_pre"),
        sum(when(cell(0, post = false), col("cents")).otherwise(0L))
          .as("s_a_pre"),
        sum(when(cell(0, post = true), 1L).otherwise(0L)).as("n_a_post"),
        sum(when(cell(0, post = true), col("cents")).otherwise(0L))
          .as("s_a_post"),
        sum(when(cell(1, post = false), 1L).otherwise(0L)).as("n_b_pre"),
        sum(when(cell(1, post = false), col("cents")).otherwise(0L))
          .as("s_b_pre"),
        sum(when(cell(1, post = true), 1L).otherwise(0L)).as("n_b_post"),
        sum(when(cell(1, post = true), col("cents")).otherwise(0L))
          .as("s_b_post"))
      def m(sc: String, nc: String) =
        col(sc).cast("double") / (col(nc).cast("double") * 100.0)
      agg.select(
        col("n_a_pre"), col("n_a_post"), col("n_b_pre"), col("n_b_post"),
        m("s_a_pre", "n_a_pre").as("mean_a_pre"),
        m("s_a_post", "n_a_post").as("mean_a_post"),
        m("s_b_pre", "n_b_pre").as("mean_b_pre"),
        m("s_b_post", "n_b_post").as("mean_b_post"),
        ((m("s_b_post", "n_b_post") - m("s_b_pre", "n_b_pre")) -
          (m("s_a_post", "n_a_post") - m("s_a_pre", "n_a_pre")))
          .as("did"))
    },
    Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d,
        CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
      mid AS (SELECT MIN(d) + CAST(date_diff('day', MIN(d), MAX(d)) / 2
        AS INTEGER) AS mid FROM ev),
      agg AS (SELECT
          CAST(SUM(CASE WHEN user_id % 2 = 0 AND d < mid THEN 1
            ELSE 0 END) AS BIGINT) AS n_a_pre,
          CAST(SUM(CASE WHEN user_id % 2 = 0 AND d < mid THEN cents
            ELSE 0 END) AS BIGINT) AS s_a_pre,
          CAST(SUM(CASE WHEN user_id % 2 = 0 AND d >= mid THEN 1
            ELSE 0 END) AS BIGINT) AS n_a_post,
          CAST(SUM(CASE WHEN user_id % 2 = 0 AND d >= mid THEN cents
            ELSE 0 END) AS BIGINT) AS s_a_post,
          CAST(SUM(CASE WHEN user_id % 2 = 1 AND d < mid THEN 1
            ELSE 0 END) AS BIGINT) AS n_b_pre,
          CAST(SUM(CASE WHEN user_id % 2 = 1 AND d < mid THEN cents
            ELSE 0 END) AS BIGINT) AS s_b_pre,
          CAST(SUM(CASE WHEN user_id % 2 = 1 AND d >= mid THEN 1
            ELSE 0 END) AS BIGINT) AS n_b_post,
          CAST(SUM(CASE WHEN user_id % 2 = 1 AND d >= mid THEN cents
            ELSE 0 END) AS BIGINT) AS s_b_post
        FROM ev CROSS JOIN mid)
      SELECT n_a_pre, n_a_post, n_b_pre, n_b_post,
        CAST(s_a_pre AS DOUBLE) / (CAST(n_a_pre AS DOUBLE) * 100.0)
          AS mean_a_pre,
        CAST(s_a_post AS DOUBLE) / (CAST(n_a_post AS DOUBLE) * 100.0)
          AS mean_a_post,
        CAST(s_b_pre AS DOUBLE) / (CAST(n_b_pre AS DOUBLE) * 100.0)
          AS mean_b_pre,
        CAST(s_b_post AS DOUBLE) / (CAST(n_b_post AS DOUBLE) * 100.0)
          AS mean_b_post,
        (CAST(s_b_post AS DOUBLE) / (CAST(n_b_post AS DOUBLE) * 100.0)
          - CAST(s_b_pre AS DOUBLE) / (CAST(n_b_pre AS DOUBLE) * 100.0))
        - (CAST(s_a_post AS DOUBLE) / (CAST(n_a_post AS DOUBLE) * 100.0)
          - CAST(s_a_pre AS DOUBLE) / (CAST(n_a_pre AS DOUBLE) * 100.0))
          AS did
      FROM agg"""))

  /** Two-proportion z-test on funnel conversion — the significance
    * read behind every A/B dashboard: is cohort A's signup→purchase
    * rate different from cohort B's, or noise? Cohorts split by
    * user_id parity (the deterministic stand-in for an assignment
    * column). Each cohort reduces to two exact integers (signup
    * users, converted users) via the [[QueriesRelational]] funnel
    * construction — the whole test is two count-aggregates and a
    * 1-row z formula, so at 100 TB the cost is the funnel scan it
    * shares with the funnel row itself. The pooled-variance z and
    * both rates are single identical IEEE sequences; the 1.96
    * two-sided 5% critical value is pinned in both engines. */
  private[graft] val funnelSignificance = Q("funnel_significance",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"),
          (col("user_id") % 2 === 0).as("is_a"))
      val signup = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("is_a"))
        .agg(min(col("ts_us")).as("first_signup"))
      val converted = ev.filter(col("event_type") === "purchase")
        .join(signup.select(col("user_id"), col("first_signup")),
          Seq("user_id"))
        .filter(col("ts_us") > col("first_signup"))
        .select(col("user_id")).distinct()
      val per = signup.join(converted.withColumn("conv", lit(1L)),
          Seq("user_id"), "left")
        .groupBy(col("is_a"))
        .agg(count(lit(1)).as("n"), sum(coalesce(col("conv"), lit(0L)))
          .as("x"))
      val a = per.filter(col("is_a")).select(col("n").as("n_a"),
        col("x").as("x_a"))
      val b = per.filter(!col("is_a")).select(col("n").as("n_b"),
        col("x").as("x_b"))
      a.crossJoin(broadcast(b))
        .withColumn("p_a",
          col("x_a").cast("double") / col("n_a").cast("double"))
        .withColumn("p_b",
          col("x_b").cast("double") / col("n_b").cast("double"))
        .withColumn("p_pool",
          (col("x_a") + col("x_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double"))
        .withColumn("den",
          sqrt(col("p_pool") * (lit(1.0) - col("p_pool")) *
            (lit(1.0) / col("n_a").cast("double") +
              lit(1.0) / col("n_b").cast("double"))))
        // p_pool ∈ {0,1} (nobody / everybody converts) degenerates the
        // variance to 0 — define z = 0 there (no evidence of a
        // difference), and guard the division: Spark 4 ANSI throws
        // DIVIDE_BY_ZERO even for doubles.
        .withColumn("z", when(col("den") > 0,
          (col("p_a") - col("p_b")) / col("den")).otherwise(lit(0.0)))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          col("p_a"), col("p_b"), col("z"),
          (abs(col("z")) > 1.96).as("significant"))
    },
    Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        user_id % 2 = 0 AS is_a FROM events),
      signup AS (SELECT user_id, is_a, MIN(ts_us) AS first_signup
        FROM ev WHERE event_type = 'signup' GROUP BY 1, 2),
      conv AS (SELECT DISTINCT e.user_id
        FROM ev e JOIN signup s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND e.ts_us > s.first_signup),
      per AS (SELECT is_a, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS x
        FROM signup s LEFT JOIN conv c ON s.user_id = c.user_id
        GROUP BY 1),
      ab AS (SELECT
          (SELECT n FROM per WHERE is_a) AS n_a,
          (SELECT x FROM per WHERE is_a) AS x_a,
          (SELECT n FROM per WHERE NOT is_a) AS n_b,
          (SELECT x FROM per WHERE NOT is_a) AS x_b),
      rates AS (SELECT *,
          CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
          CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
          CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
            AS p_pool
        FROM ab),
      withden AS (SELECT *,
          sqrt(p_pool * (1.0 - p_pool) *
            (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
            AS den
        FROM rates)
      SELECT n_a, x_a, n_b, x_b, p_a, p_b,
        CASE WHEN den > 0 THEN (p_a - p_b) / den ELSE 0.0 END AS z,
        ABS(CASE WHEN den > 0 THEN (p_a - p_b) / den ELSE 0.0 END)
          > 1.96 AS significant
      FROM withden"""))

  /** Theil–Sen robust trend — the median of all pairwise slopes of
    * the daily 'view'-count series: the estimator that shrugs off the
    * outlier days that wreck [[QueriesRelational.statsLinfit]]'s OLS
    * slope (29% breakdown point vs 0%). The quadratic is over the
    * DAY-DOMAIN aggregate, never rows: the series is calendar-bounded,
    * so the pair table is days² narrow rows (a broadcast nested-loop
    * of a bounded aggregate — the same allowlisted shape as the other
    * bounded-domain demos), and the heavy pass stays the daily count
    * aggregate. The median is an exact order statistic: row_number
    * over the pair table (aggregated input), middle element — or the
    * mean of the two middles, which is safe cross-engine because
    * 2-term IEEE addition is commutative (order only matters from 3
    * terms up). */
  private[graft] val statsTheilsen = Q("stats_theilsen",
    (s, dir) => {
      val daily = events(s, dir)
        .filter(col("event_type") === "view")
        .groupBy(to_date(col("ts")).as("date"))
        .agg(count(lit(1)).as("y"))
        .select(datediff(col("date"), lit("2024-01-01").cast("date"))
          .cast("long").as("x"), col("y"))
      val pairs = daily.as("a").join(broadcast(daily.as("b")),
          col("a.x") < col("b.x"))
        .select(((col("b.y") - col("a.y")).cast("double") /
          (col("b.x") - col("a.x")).cast("double")).as("slope"))
      val ranked = pairs
        .withColumn("rn", row_number().over(boundedWindow(col("slope"))))
      val n = pairs.agg(count(lit(1)).as("n_pairs"))
      ranked.crossJoin(broadcast(n))
        .filter(col("rn") === expr("(n_pairs + 1) div 2") ||
          col("rn") === expr("n_pairs div 2 + 1"))
        .agg(max(col("n_pairs")).as("n_pairs"),
          (sum(col("slope")) / count(lit(1))).as("theil_slope"))
    },
    Some("""WITH daily AS (SELECT
          date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
          CAST(COUNT(*) AS BIGINT) AS y
        FROM events WHERE event_type = 'view' GROUP BY 1),
      pairs AS (SELECT
          CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON a.x < b.x),
      ranked AS (SELECT slope,
          ROW_NUMBER() OVER (ORDER BY slope) AS rn,
          COUNT(*) OVER () AS n_pairs
        FROM pairs)
      SELECT CAST(MAX(n_pairs) AS BIGINT) AS n_pairs,
        SUM(slope) / COUNT(*) AS theil_slope
      FROM ranked
      WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1"""))

  /** LEAVE-LAST-OUT evaluation of the recommender — the offline
    * hit-rate check that must gate any CF deployment: per user, hold
    * out the LAST first-interacted item, retrain the
    * [[recoItemItem]] pipeline on the remainder, and ask whether the
    * held-out item lands in the user's top-3 recommendations
    * ([[recoUserTopn]]'s serving rule). Closes the build→eval loop the
    * way [[simEvalNdcg]] does for retrieval and [[mlAuc]] for
    * classification. Same bounded shapes as the serving path (capped
    * fan-out, broadcast neighbor table) — the eval costs one extra
    * first-ts aggregate over the engagement pairs. Holdout choice is
    * deterministic (latest first-interaction, ties → larger item id);
    * users need ≥ 2 distinct items. Output: one exact-integer row +
    * the single hit-rate division. */
  private[graft] val recoEvalHitrate = Q("reco_eval_hitrate",
    (s, dir) => {
      val firstTs = events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("item"),
          unix_micros(col("ts")).as("ts_us"))
        .filter(col("item").isNotNull)
        .groupBy(col("user_id"), col("item"))
        .agg(min(col("ts_us")).as("first_ts"), count(lit(1)).as("cnt"))
      val eligible = firstTs.withColumn("n_items",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("n_items") >= 2)
      // marked splits into heldout + train and heldout is consumed
      // twice more — one materialization stops the events scan +
      // first-ts aggregate re-executing per consumer (see recoUserTopn)
      Scratch.scoped {
        val marked = eligible.withColumn("held_rk", row_number().over(
          Window.partitionBy(col("user_id"))
            .orderBy(col("first_ts").desc, col("item").desc)))
          .scratchCheckpoint(true)
        val heldout = marked.filter(col("held_rk") === 1)
          .select(col("user_id"), col("item").as("held_item"))
        val train = marked.filter(col("held_rk") > 1)
          .select(col("user_id"), col("item"), col("cnt"))
        val capped = cfCap(train).scratchCheckpoint(true)
        val recs = cfRecScores(capped, cfNeighbors(cfPairs(capped)))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("score_d").desc, col("cand"))))
          .filter(col("rank") <= 3)
        // heldout and recs share the marked/capped checkpoint
        // lineage — alias both sides so the equi-join resolves
        // through plain qualified names, not Spark's ambiguous-
        // self-join dataset-id machinery (which logs "trivially
        // true equals predicate" and has historically tightened).
        val hits = heldout.as("h").join(recs.as("r"),
            col("h.user_id") === col("r.user_id") &&
              col("h.held_item") === col("r.cand"), "left_semi")
        heldout.agg(count(lit(1)).as("n_users"))
          .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
          .select(col("n_users"), col("n_hits"),
            (col("n_hits").cast("double") /
              col("n_users").cast("double")).as("hit_rate"))
          .scratchCheckpoint(true) // 1 row; lets the scope free the rest
      }
    },
    Some("""WITH ft AS (SELECT user_id,
          CAST(json_extract_string(props, '$.k') AS INTEGER) AS item,
          MIN(epoch_us(ts)) AS first_ts, COUNT(*) AS cnt
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
          AND json_extract_string(props, '$.k') IS NOT NULL
        GROUP BY 1, 2),
      eligible AS (SELECT * FROM (SELECT *,
          COUNT(*) OVER (PARTITION BY user_id) AS n_items FROM ft)
        WHERE n_items >= 2),
      marked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY first_ts DESC, item DESC) AS held_rk
        FROM eligible),
      heldout AS (SELECT user_id, item AS held_item FROM marked
        WHERE held_rk = 1),
      train AS (SELECT user_id, item, cnt FROM marked WHERE held_rk > 1),
      capped AS (SELECT user_id, item FROM (
        SELECT user_id, item, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY cnt DESC, item) AS rk
        FROM train) WHERE rk <= 50),
      ni AS (SELECT item, COUNT(*) AS n FROM capped GROUP BY 1),
      co AS (SELECT a.item AS i, b.item AS j, COUNT(*) AS co
        FROM capped a JOIN capped b
          ON a.user_id = b.user_id AND a.item < b.item
        GROUP BY 1, 2),
      sym AS (SELECT i, j, co FROM co
        UNION ALL SELECT j AS i, i AS j, co FROM co),
      nbrs AS (SELECT i, cand, sim FROM (
        SELECT s.i, s.j AS cand,
          CAST(ROUND(CAST(s.co AS DOUBLE) /
            sqrt(CAST(x.n * y.n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sim,
          ROW_NUMBER() OVER (PARTITION BY s.i ORDER BY
            CAST(s.co AS DOUBLE) / sqrt(CAST(x.n * y.n AS DOUBLE)) DESC,
            s.j) AS rk
        FROM sym s JOIN ni x ON s.i = x.item JOIN ni y ON s.j = y.item)
        WHERE rk <= 5),
      scored AS (SELECT c.user_id, nb.cand, SUM(nb.sim) AS score_d
        FROM capped c JOIN nbrs nb ON c.item = nb.i
        GROUP BY 1, 2),
      unseen AS (SELECT sc.* FROM scored sc
        LEFT JOIN capped cp
          ON sc.user_id = cp.user_id AND sc.cand = cp.item
        WHERE cp.item IS NULL),
      recs AS (SELECT user_id, cand FROM (
        SELECT user_id, cand, ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY score_d DESC, cand) AS rank FROM unseen)
        WHERE rank <= 3),
      hits AS (SELECT h.user_id FROM heldout h
        WHERE EXISTS (SELECT 1 FROM recs r
          WHERE r.user_id = h.user_id AND r.cand = h.held_item))
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM heldout) AS n_users,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
        CAST((SELECT COUNT(*) FROM hits) AS DOUBLE) /
          CAST((SELECT COUNT(*) FROM heldout) AS DOUBLE) AS hit_rate"""))


}
