package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Quality, Transforms}
import graft.Qdsl._

/** Registry part 1 — the Wistia silver-layer parity operators over the
  * driver testdata (SURVEY §2.2-2.6). See [[Queries]] for the
  * determinism contract every oracled query follows. */
private[graft] object QueriesCore {
  // ======================================================================
  // Core parity: the Wistia silver-layer operator set over testdata
  // ======================================================================

  /** Flagship (SURVEY §3.3 / §7.2): the fact_media_engagement aggregate
    * re-expressed over the events table — filter to one event type,
    * bucket by day, count/rate/sum/avg per (user, day).
    * Ops: G1 G2 G3 G4 G5 P12 P14. */
  private[graft] val factEngagement = Q("fact_engagement",
    (s, dir) => {
      val ev = events(s, dir)
      ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("date"))
        .agg(
          count(lit(1)).as("play_count"),
          round(count(lit(1)).cast("double") / lit(10.0), 2)
            .as("play_rate"),
          dsum(coalesce(col("value"), lit(0.0))).as("total_watch_time"),
          (dsum(coalesce(col("value"), lit(0.0))) / count(lit(1)))
            .as("avg_value"))
        .orderBy("user_id", "date")
    },
    Some("""SELECT user_id, CAST(ts AS DATE) AS date,
      COUNT(*) AS play_count,
      ROUND(CAST(COUNT(*) AS DOUBLE)/10.0, 2) AS play_rate,
      CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2))) AS DOUBLE) AS total_watch_time,
      CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** dim_media shape: project+rename (P1), null default (P2), concat
    * (P3), CASE WHEN channel chain (P4), lower/contains (P5),
    * distinct (G6). */
  private[graft] val dimMedia = Q("dim_media",
    (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey").cast("string").as("media_id"),
        coalesce(col("p_name"), lit("Unknown")).as("title"),
        concat(lit(Transforms.UrlPrefix), col("p_partkey")).as("url"),
        when(lower(col("p_name")).contains("blue"), "Facebook")
          .when(lower(col("p_name")).contains("green"), "YouTube")
          .when(lower(col("p_name")).contains("red"), "Instagram")
          .otherwise("Wistia").as("channel"))
        .distinct()
        .orderBy("media_id"),
    Some(s"""SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS media_id,
      COALESCE(p_name, 'Unknown') AS title,
      '${Transforms.UrlPrefix}' || CAST(p_partkey AS VARCHAR) AS url,
      CASE WHEN contains(lower(p_name), 'blue') THEN 'Facebook'
           WHEN contains(lower(p_name), 'green') THEN 'YouTube'
           WHEN contains(lower(p_name), 'red') THEN 'Instagram'
           ELSE 'Wistia' END AS channel
      FROM part ORDER BY media_id"""))

  /** dim_visitor shape: P1 P2 G6. */
  private[graft] val dimVisitor = Q("dim_visitor",
    (s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey").cast("string").as("visitor_id"),
        coalesce(col("c_name"), lit("Unknown")).as("name"),
        coalesce(col("c_mktsegment"), lit("Unknown")).as("segment"))
        .distinct()
        .orderBy("visitor_id"),
    Some("""SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS visitor_id,
      COALESCE(c_name, 'Unknown') AS name,
      COALESCE(c_mktsegment, 'Unknown') AS segment
      FROM customer ORDER BY visitor_id"""))

  /** Gold-layer ADF type narrowing (S10/§1.3 "gold cast"): int + decimal
    * downcasts with explicit truncation (floor) — implicit double→int
    * casts truncate in Spark but round in other engines, so the
    * truncation is spelled out. */
  private[graft] val goldCast = Q("gold_cast",
    (s, dir) => {
      val ev = events(s, dir)
      ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), to_date(col("ts")).as("date"))
        .agg(
          count(lit(1)).as("pc"),
          round(count(lit(1)).cast("double") / lit(10.0), 2).as("pr"),
          dsum(coalesce(col("value"), lit(0.0))).as("tw"))
        .select(
          col("user_id"), col("date"),
          col("pc").cast(IntegerType).as("play_count"),
          col("pr").cast(DecimalType(5, 2)).cast("double")
            .as("play_rate"),
          floor(col("tw")).cast(IntegerType).as("total_watch_time"))
        .orderBy("user_id", "date")
    },
    Some("""SELECT user_id, CAST(ts AS DATE) AS date,
      CAST(COUNT(*) AS INTEGER) AS play_count,
      CAST(CAST(ROUND(CAST(COUNT(*) AS DOUBLE)/10.0, 2) AS DECIMAL(5,2)) AS DOUBLE) AS play_rate,
      CAST(FLOOR(CAST(SUM(CAST(COALESCE(value, 0.0) AS DECIMAL(18,2))) AS DOUBLE)) AS INTEGER) AS total_watch_time
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Cast-guarded conversion (P6): try_cast + epoch→timestamp with a
    * fallback, the reference's `created` guard (nb03:141-143). */
  private[graft] val safeCast = Q("safe_cast_guard",
    (s, dir) => {
      // stage the JSON extraction in its own projection: inlining it
      // into both try_cast sites parses the JSON twice per row (the
      // optimizer only collapses projections when duplication is cheap)
      val k = col("k")
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k"))
        .select(
          col("event_id"),
          when(k.try_cast("bigint").isNotNull,
            timestamp_seconds(k.try_cast("bigint") * 3600))
            .otherwise(timestamp_seconds(lit(0))).as("created_at"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id,
      CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
           THEN epoch_ms(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) * 3600000)
           ELSE epoch_ms(0) END AS created_at
      FROM events ORDER BY event_id"""))

  /** VARIANT JSON path (Spark 4's typed semi-structured column):
    * `try_parse_json` → `variant_get` replaces per-access string
    * re-parsing — parse once, extract many, malformed input → null
    * instead of a job-killing exception. The modern form of the
    * reference's get_json_object guard chain. */
  private[graft] val variantJson = Q("variant_json",
    (s, dir) =>
      // stage the parse in its own projection — one try_parse_json per
      // row however many paths are extracted (inlining it into both
      // variant_get sites parsed the JSON twice: 16.6 s → 8 s at 10×)
      events(s, dir)
        .select(col("event_id"), expr("try_parse_json(props)").as("v"))
        .select(
          col("event_id"),
          expr("variant_get(v, '$.k', 'bigint')").as("k_val"),
          expr("variant_get(v, '$.missing', 'string')").as("missing_val"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
      TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
      json_extract_string(props, '$.missing') AS missing_val
      FROM events ORDER BY event_id"""))

  /** Incremental consumption of a manifest table
    * ([[graft.sources.ManifestTable.readAppendsSince]]): two appends
    * land after the base version; the incremental read returns
    * EXACTLY their rows — the file-diff CDC a downstream sync or
    * index-maintenance job runs instead of re-scanning the table.
    * The refuse-on-rewrite contract (compaction breaks file-level
    * appends-since) is ManifestTableSpec's. */
  private[graft] val manifestChanges = Q("manifest_changes",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_manifest_cdc")
      val tbl = s"$root/cust_tbl"
      graft.sources.ManifestTable.commitOverwrite(s, tbl,
        c.filter(col("c_mktsegment") === "BUILDING"))
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "MACHINERY"))
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "AUTOMOBILE"))
      graft.sources.ManifestTable.readAppendsSince(s, tbl, 1L)
        .orderBy("c_custkey")
    },
    Some("""SELECT * FROM customer
      WHERE c_mktsegment IN ('MACHINERY', 'AUTOMOBILE')
      ORDER BY c_custkey"""))

  /** Dead-letter quarantine split ([[Quality.quarantine]]): rows
    * failing any named rule route to a quarantine side carrying the
    * comma-joined failed-rule names — bad rows neither poison silver
    * nor vanish. Output is the QUARANTINE side (the alert payload an
    * operator reads); the valid side is its exact complement under the
    * oracle's row pinning. Three rules with real violations in the
    * corpus: unknown event type ('error' rows), value above the cap,
    * k outside its domain — rows failing several rules carry several
    * reasons. */
  private[graft] val quarantineDeadletter = Q("quarantine_deadletter",
    (s, dir) => {
      val (_, bad) = Quality.quarantine(
        events(s, dir).select(
          col("event_id"), col("event_type"), col("value"),
          expr("cast(variant_get(try_parse_json(props), '$.k', 'bigint') as bigint)")
            .as("k_val")),
        Seq(
          Quality.Expectation("unknown_event_type",
            col("event_type").isin("click", "signup", "view",
              "purchase")),
          Quality.Expectation("value_above_cap",
            col("value") <= 200.0),
          Quality.Expectation("k_out_of_domain",
            col("k_val") <= 90L)))
      bad.select(col("event_id"), col("event_type"), col("value"),
          col("k_val"), col("_errors").as("errors"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, event_type, value, k_val,
      CONCAT_WS(',',
        CASE WHEN NOT COALESCE(
          event_type IN ('click', 'signup', 'view', 'purchase'), FALSE)
          THEN 'unknown_event_type' END,
        CASE WHEN NOT COALESCE(value <= 200.0, FALSE)
          THEN 'value_above_cap' END,
        CASE WHEN NOT COALESCE(k_val <= 90, FALSE)
          THEN 'k_out_of_domain' END) AS errors
      FROM (SELECT event_id, event_type, value,
        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events)
      WHERE NOT (COALESCE(
          event_type IN ('click', 'signup', 'view', 'purchase'), FALSE)
        AND COALESCE(value <= 200.0, FALSE)
        AND COALESCE(k_val <= 90, FALSE))
      ORDER BY event_id"""))

  /** regexp_extract with empty-match fallback + coalesce (P9), the
    * lineage-recovery pattern of nb03:203-205, over the JSON props. */
  private[graft] val regexpExtract = Q("regexp_extract_json",
    (s, dir) =>
      events(s, dir).select(
        col("event_id"),
        coalesce(
          nullif(regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1),
            lit("")),
          lit("0")).cast("bigint").as("k_val"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
      CAST(COALESCE(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), ''), '0') AS BIGINT) AS k_val
      FROM events ORDER BY event_id"""))

  /** Null/empty-key row filter (P10), the "final safety check"
    * (nb03:284-300). */
  private[graft] val filterValid = Q("filter_valid_rows",
    (s, dir) =>
      t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "" &&
          col("lang").isNotNull)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
      WHERE text IS NOT NULL AND trim(text) != '' AND lang IS NOT NULL
      ORDER BY doc_id"""))

  /** Window dedup keep-first (W1) + SQL-string filter (P11) + drop (P15)
    * — deterministic ordering replaces the reference's orderBy(lit(1)).
    */
  private[graft] val windowDedup = Q("window_dedup",
    (s, dir) => {
      val deduped = Quality.dedupByKeys(
        events(s, dir),
        Seq("user_id", "event_type"),
        Seq(col("ts"), col("event_id")))
      deduped.select("event_id", "user_id", "event_type", "value")
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT event_id, user_id, event_type, value FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY user_id, event_type ORDER BY ts, event_id) AS row_num
        FROM events)
      WHERE row_num = 1 ORDER BY user_id, event_type"""))

  /** Duplicate-group detection (G7): groupBy(keys).count().filter(>1). */
  private[graft] val dupGroups = Q("dup_groups",
    (s, dir) =>
      Quality.duplicateGroups(
        events(s, dir)
          .withColumn("date", to_date(col("ts"))),
        Seq("user_id", "event_type", "date"))
        .select("user_id", "event_type", "date", "dup_count")
        .orderBy("user_id", "event_type", "date"),
    Some("""SELECT user_id, event_type, CAST(ts AS DATE) AS date,
        COUNT(*) AS dup_count
      FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) > 1
      ORDER BY 1, 2, 3"""))

  /** Quality report (G8/G9): counts + distinct-key counts in ONE pass
    * (the reference runs ~20 separate actions; SURVEY §4.3.1). */
  private[graft] val qualityReport = Q("quality_report",
    (s, dir) =>
      events(s, dir).agg(
        count(lit(1)).as("total_rows"),
        count_distinct(col("user_id")).as("distinct_users"),
        count_distinct(col("user_id"), col("event_type"))
          .as("distinct_user_types"),
        count(when(col("value").isNull, 1)).as("null_values")),
    Some("""SELECT
      (SELECT COUNT(*) FROM events) AS total_rows,
      (SELECT COUNT(DISTINCT user_id) FROM events) AS distinct_users,
      (SELECT COUNT(*) FROM (SELECT DISTINCT user_id, event_type FROM events)) AS distinct_user_types,
      (SELECT COUNT(*) FROM events WHERE value IS NULL) AS null_values"""))

  /** Null/empty validation metrics in one aggregation pass
    * (vs nb03:262-281's per-column actions). */
  private[graft] val validateNulls = Q("validate_nulls",
    (s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("total_rows"),
        count(when(col("text").isNull || trim(col("text")) === "", 1))
          .as("text_null_or_empty"),
        count(when(col("lang").isNull, 1)).as("lang_null"),
        count(when(col("source").isNull, 1)).as("source_null")),
    Some("""SELECT COUNT(*) AS total_rows,
      COUNT(CASE WHEN text IS NULL OR trim(text) = '' THEN 1 END) AS text_null_or_empty,
      COUNT(CASE WHEN lang IS NULL THEN 1 END) AS lang_null,
      COUNT(CASE WHEN source IS NULL THEN 1 END) AS source_null
      FROM documents"""))

  /** limit after total-order sort (L1/L2 display sampling). */
  private[graft] val limitSample = Q("limit_sample",
    (s, dir) =>
      events(s, dir).select("event_id", "user_id", "event_type")
        .orderBy("event_id").limit(3),
    Some("""SELECT event_id, user_id, event_type FROM events
      ORDER BY event_id LIMIT 3"""))

  /** Set op (union) — implicit in the reference's multi-dir glob scan
    * (S6); explicit here. */
  private[graft] val unionIds = Q("union_ids",
    (s, dir) => {
      val a = events(s, dir).select(col("user_id").as("id"))
        .distinct().withColumn("src", lit("events"))
      val b = t(s, dir, "customer")
        .select(col("c_custkey").as("id"))
        .distinct().withColumn("src", lit("customer"))
      a.unionByName(b).orderBy("id", "src")
    },
    Some("""SELECT id, src FROM (
        SELECT DISTINCT user_id AS id, 'events' AS src FROM events
        UNION ALL
        SELECT DISTINCT c_custkey AS id, 'customer' AS src FROM customer)
      ORDER BY id, src"""))

  /** Data-contract expectations over lineitem, one pass for all rules
    * ([[graft.etl.Quality.checkExpectations]]): domain, range, and
    * presence checks as named violation counts. NULL rule results
    * count as violations on both engines (NOT COALESCE(pred, false)).
    */
  private[graft] val dqExpectations = Q("dq_expectations",
    (s, dir) =>
      Quality.checkExpectations(t(s, dir, "lineitem"), Seq(
        Quality.Expectation("quantity_in_range",
          col("l_quantity") >= 1 && col("l_quantity") <= 50),
        Quality.Expectation("price_positive", col("l_extendedprice") > 0),
        Quality.Expectation("shipdate_present", col("l_shipdate").isNotNull),
        Quality.Expectation("discount_unit_interval",
          col("l_discount") >= 0 && col("l_discount") <= 1),
        Quality.Expectation("returnflag_domain",
          col("l_returnflag").isin("A", "N", "R")))),
    Some("""SELECT COUNT(*) AS total_rows,
      COUNT(CASE WHEN NOT COALESCE(l_quantity >= 1 AND l_quantity <= 50, false) THEN 1 END) AS quantity_in_range,
      COUNT(CASE WHEN NOT COALESCE(l_extendedprice > 0, false) THEN 1 END) AS price_positive,
      COUNT(CASE WHEN NOT COALESCE(l_shipdate IS NOT NULL, false) THEN 1 END) AS shipdate_present,
      COUNT(CASE WHEN NOT COALESCE(l_discount >= 0 AND l_discount <= 1, false) THEN 1 END) AS discount_unit_interval,
      COUNT(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), false) THEN 1 END) AS returnflag_domain
      FROM lineitem"""))

  /** CSV sink + source round-trip (S-family: delimited interchange —
    * the format upstream teams actually hand over). The table is
    * unioned with one deliberately CSV-hostile row (embedded comma,
    * double-quote, and newline in one field) before writing, so the
    * hash gate proves the quote/escape/multiLine path, not just the
    * happy path: Spark writes the hostile value quote-wrapped with
    * escaped quotes, and reads it back under `multiLine` (a record
    * can span physical lines) with the parquet-derived schema
    * (schema-on-read; header kept for humans, not inference). Scratch
    * lives in the shared swept temp root — no residue after a run. */
  private[graft] val csvRoundtrip = Q("csv_roundtrip",
    (s, dir) => {
      val base = t(s, dir, "customer")
      val hostile = base.limit(1).select(
        lit(-1L).as("c_custkey"),
        lit("a,\"quoted\"\nsecond line").as("c_name"),
        lit(-1).as("c_nationkey"),
        lit(-0.5).as("c_acctbal"),
        lit("STRESS").as("c_mktsegment"))
      val root = Scratch.dir("graft_fmt_csv")
      base.union(hostile).write.option("header", "true")
        .mode("overwrite").csv(s"$root/customer_csv")
      s.read.schema(base.schema).option("header", "true")
        .option("multiLine", "true")
        .csv(s"$root/customer_csv")
        .orderBy("c_custkey")
    },
    Some("""SELECT * FROM (
        SELECT * FROM customer
        UNION ALL
        SELECT -1, 'a,"quoted"' || chr(10) || 'second line',
          -1, -0.5, 'STRESS')
      ORDER BY c_custkey"""))

  /** ORC sink + source round-trip (S-family: the columnar interchange
    * format besides parquet) over the gnarliest table — documents,
    * whose text carries newlines, unicode, and nulls — proving the
    * codec path is byte-lossless under the same hash gate as every
    * other query. ORC brings its own predicate pushdown and stripe
    * stats, so at 100 TB it scans like parquet; the round-trip here
    * pins read/write fidelity, not layout. */
  private[graft] val orcRoundtrip = Q("orc_roundtrip",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val root = Scratch.dir("graft_fmt_orc")
      docs.write.mode("overwrite").orc(s"$root/documents_orc")
      s.read.orc(s"$root/documents_orc").orderBy("doc_id")
    },
    Some("""SELECT * FROM documents ORDER BY doc_id"""))

  /** Manifest-committed snapshot table lifecycle
    * ([[graft.sources.ManifestTable]]), hash-gated end-to-end:
    * overwrite → append → compact, then read the head snapshot. The
    * oracle reproduces the logical content from the source table; the
    * two pinned audit columns prove the physical protocol did what it
    * claims — `files_after_compact` = 2 (the head snapshot reads the
    * two compacted files, not v1's eight or a directory listing that
    * would also sweep in the replaced small files), and `v1_rows` is
    * counted through a TIME-TRAVEL read of version 1 AFTER two more
    * versions committed on top. Snapshot pinning across concurrent
    * commits and vacuum safety are ManifestTableSpec's. */
  private[graft] val manifestSnapshot = Q("manifest_snapshot",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_manifest_q")
      val tbl = s"$root/cust_tbl"
      graft.sources.ManifestTable.commitOverwrite(s, tbl,
        c.filter(col("c_mktsegment") === "BUILDING").repartition(8))
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "MACHINERY"))
      graft.sources.ManifestTable.compact(s, tbl, targetFiles = 2)
      val v1Rows = graft.sources.ManifestTable
        .read(s, tbl, Some(1L)).count()
      val head = graft.sources.ManifestTable.read(s, tbl)
      head
        .withColumn("files_after_compact",
          lit(head.inputFiles.length.toLong))
        .withColumn("v1_rows", lit(v1Rows))
        .orderBy("c_custkey")
    },
    Some("""SELECT c.*, CAST(2 AS BIGINT) AS files_after_compact,
      (SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING')
        AS v1_rows
      FROM customer c
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      ORDER BY c_custkey"""))

  /** METADATA-ONLY COUNT ([[graft.sources.ManifestTable.countRows]]):
    * COUNT(*) answered from the manifest's commit-time footer row
    * counts — zero data pages read, per version (time travel included)
    * — the Delta/Iceberg count-from-stats fast path, sound because
    * committed files are immutable. The row builds a 2-commit table,
    * answers v1 and head counts from metadata, REQUIRES the head
    * metadata count equal to an actual scan count (the cross-path
    * proof), and the oracle recomputes both segment counts from the
    * source — a staged file whose recorded count drifted from its
    * contents would move the numbers. At 100 TB: the difference
    * between a KB of manifest reads and a full-table scan, for the
    * query every dashboard fires first. */
  private[graft] val manifestCountPushdown = Q("manifest_count_pushdown",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_manifest_cnt")
      val tbl = s"$root/cust_tbl"
      val v1 = graft.sources.ManifestTable.commitOverwrite(s, tbl,
        c.filter(col("c_mktsegment") === "BUILDING").repartition(4))
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "MACHINERY"))
      val metaV1 = graft.sources.ManifestTable.countRows(s, tbl, Some(v1))
        .getOrElse(sys.error("v1 manifest lacks row counts"))
      val metaHead = graft.sources.ManifestTable.countRows(s, tbl)
        .getOrElse(sys.error("head manifest lacks row counts"))
      val scanned = graft.sources.ManifestTable.read(s, tbl).count()
      require(metaHead == scanned,
        s"metadata count $metaHead != scan count $scanned")
      import s.implicits._
      Seq((metaV1, metaHead, metaHead == scanned))
        .toDF("v1_rows_meta", "head_rows_meta", "meta_equals_scan")
    },
    Some("""SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_mktsegment = 'BUILDING') AS v1_rows_meta,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY'))
        AS head_rows_meta,
      TRUE AS meta_equals_scan"""))

  /** COPY-ON-WRITE row-level DELETE
    * ([[graft.sources.ManifestTable.deleteRows]]): the compliance
    * delete at lake scale — files whose commit-time stats cannot
    * contain a doomed key are carried into the new version VERBATIM;
    * only the overlapping files are rewritten, and the swap is one
    * atomic manifest commit. The row builds a key-clustered table,
    * deletes a low-key batch, and pins all four contract points: the
    * surviving rows (hash-matched against DuckDB's filter — the
    * delete removed exactly the doomed keys, nothing else), zero
    * doomed keys present after, PRUNING happened (at least one file
    * untouched — the stats ranges did their job), and the PINNED
    * pre-delete version still serves every doomed key (the two-phase
    * erasure clock: gone from new reads at commit, gone from storage
    * at vacuum). */
  private[graft] val manifestDeleteRows = Q("manifest_delete_rows",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_manifest_del")
      val tbl = s"$root/cust_tbl"
      val v1 = graft.sources.ManifestTable.commitOverwrite(s, tbl,
        c.repartitionByRange(3, col("c_custkey"))
          .sortWithinPartitions("c_custkey"),
        statsCol = Some("c_custkey"))
      val keys = (1L to 40L)
      val res = graft.sources.ManifestTable.deleteRows(s, tbl,
        "c_custkey", keys)
      require(res.version == v1 + 1, s"delete must commit head+1")
      require(res.untouchedFiles >= 1,
        "stats pruning rewrote every file — the [min,max] ranges " +
          "did nothing")
      val after = graft.sources.ManifestTable.read(s, tbl)
      val doomedAfter = after
        .filter(col("c_custkey").isin(keys: _*)).count()
      val pinnedDoomed = graft.sources.ManifestTable
        .read(s, tbl, Some(v1))
        .filter(col("c_custkey").isin(keys: _*)).count()
      after
        .withColumn("doomed_after", lit(doomedAfter))
        .withColumn("pinned_doomed", lit(pinnedDoomed))
        .withColumn("pruned", lit(res.untouchedFiles >= 1))
        .orderBy("c_custkey")
    },
    Some("""SELECT c.*, CAST(0 AS BIGINT) AS doomed_after,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_custkey BETWEEN 1 AND 40) AS pinned_doomed,
      TRUE AS pruned
      FROM customer c WHERE c_custkey NOT BETWEEN 1 AND 40
      ORDER BY c_custkey"""))

  /** COPY-ON-WRITE MERGE (upsert,
    * [[graft.sources.ManifestTable.mergeRows]]) — [[manifestDeleteRows]]'s
    * DML sibling: updates REPLACE same-key rows, inserts land, files
    * outside the update batch's key range carry forward verbatim, one
    * atomic commit. The batch is range-LOCAL by design (updates on
    * keys ≤ 40 plus one insert at the brand-new key -1) so the pruning
    * contract is exercised, not bypassed; the update-key anti-join is
    * distributed, so the batch could be any size. Oracle: DuckDB
    * reconstructs the merged table independently (untouched rows ∪
    * updated forms ∪ the insert); the pinned pre-merge version must
    * still serve the ORIGINAL segments. */
  private[graft] val manifestMergeRows = Q("manifest_merge_rows",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_manifest_mrg")
      val tbl = s"$root/cust_tbl"
      val v1 = graft.sources.ManifestTable.commitOverwrite(s, tbl,
        c.repartitionByRange(3, col("c_custkey"))
          .sortWithinPartitions("c_custkey"),
        statsCol = Some("c_custkey"))
      val updates = c.filter(col("c_custkey") <= 40)
        .withColumn("c_mktsegment", lit("MERGED"))
        .unionByName(c.filter(col("c_custkey") === 1)
          .withColumn("c_custkey", lit(-1L))
          .withColumn("c_name", lit("NEWROW")))
      val res = graft.sources.ManifestTable.mergeRows(s, tbl,
        "c_custkey", updates)
      require(res.version == v1 + 1, "merge must commit head+1")
      require(res.untouchedFiles >= 1,
        "range pruning rewrote every file for a range-local batch")
      val after = graft.sources.ManifestTable.read(s, tbl)
      val pinnedOriginal = graft.sources.ManifestTable
        .read(s, tbl, Some(v1))
        .filter(col("c_custkey") <= 40 &&
          col("c_mktsegment") =!= "MERGED").count()
      after
        .withColumn("pinned_originals", lit(pinnedOriginal))
        .withColumn("pruned", lit(res.untouchedFiles >= 1))
        .orderBy("c_custkey")
    },
    Some("""WITH merged AS (
        SELECT * FROM customer WHERE c_custkey > 40
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal,
          'MERGED' AS c_mktsegment
        FROM customer WHERE c_custkey <= 40
        UNION ALL
        SELECT CAST(-1 AS BIGINT), 'NEWROW', c_nationkey, c_acctbal,
          c_mktsegment
        FROM customer WHERE c_custkey = 1)
      SELECT m.*,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
          WHERE c_custkey <= 40 AND c_mktsegment <> 'MERGED')
          AS pinned_originals,
        TRUE AS pruned
      FROM merged m ORDER BY c_custkey"""))

  /** The DataSourceV2 metadata connector under the correctness gate:
    * build a two-commit manifest table (v1 with commit-time stats,
    * v2 a plain append), read it back through
    * `spark.read.format("graft-manifest-meta")`, and emit the
    * per-version (file count, stats-bearing count) profile PLUS a
    * constant-0 consistency check against the ManifestTable API
    * itself — the connector and the library must describe the same
    * lineage or the row goes red. File counts are deterministic
    * (repartition pins staging parallelism); file NAMES are
    * staging-unique, so the profile aggregates rather than lists. */
  private[graft] val manifestMetaQ = Q("manifest_meta_source",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_meta_q")
      val tbl = s"$root/tbl"
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "BUILDING").repartition(4)
          .select(col("c_custkey")), statsCol = Some("c_custkey"))
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "MACHINERY").repartition(2)
          .select(col("c_custkey")))
      val meta = s.read.format("graft-manifest-meta")
        .option("path", tbl).load()
      val apiRows = graft.sources.ManifestTable
        .allEntriesCount(s, tbl)
      meta.groupBy(col("version"))
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("stats_column").isNotNull, 1L).otherwise(0L))
            .as("n_with_stats"))
        .withColumn("api_mismatch",
          lit(meta.count() - apiRows))
        .orderBy("version")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT),
        CAST(0 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(4 AS BIGINT),
        CAST(0 AS BIGINT)))
      AS t(version, n_files, n_with_stats, api_mismatch)
      ORDER BY version"""))

  /** SCHEMA EVOLUTION on the manifest table
    * ([[graft.sources.ManifestTable.readEvolved]]): v1 commits
    * two-column rows, v2 appends rows that CARRY A NEW COLUMN, and the
    * evolved read presents the union schema with pre-widening rows
    * null in the added column — the Delta/Iceberg add-column
    * semantics on the manifest format (mergeSchema under the
    * snapshot's file list). The oracle pins the whole merged content
    * including the null-backfill; a reader that dropped the new
    * column, or invented non-null values for old rows, goes red. */
  private[graft] val manifestEvolutionQ = Q("manifest_schema_evolution",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_evo_q")
      val tbl = s"$root/tbl"
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"), col("c_acctbal")))
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "MACHINERY")
          .select(col("c_custkey"), col("c_acctbal"),
            col("c_mktsegment")))
      graft.sources.ManifestTable.readEvolved(s, tbl)
        .select(col("c_custkey"), col("c_acctbal"),
          coalesce(col("c_mktsegment"), lit("<pre-evolution>"))
            .as("segment"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_acctbal,
        CASE WHEN c_mktsegment = 'BUILDING' THEN '<pre-evolution>'
          ELSE c_mktsegment END AS segment
      FROM customer
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      ORDER BY c_custkey"""))

  /** COMPLIANCE KEY DELETION ([[graft.sources.Sources.deleteKeys]]) —
    * the right-to-be-forgotten path without a table format — run
    * end-to-end on a partitioned copy of `customer`: delete four keys,
    * read the table back. The oracle pins BOTH the surviving content
    * (exactly customer minus the doomed keys — a failed delete leaves
    * extra rows, an over-delete loses them) and the
    * `touched_partitions` audit count (the operator must rewrite ONLY
    * partitions that held doomed rows — the property that makes the
    * delete affordable at 100 TB). Emptied-partition removal and
    * escaped-value handling are SourcesSpec's. */
  private[graft] val deleteKeysQ = Q("delete_keys",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_delete_keys")
      val path = s"$root/cust"
      graft.sources.Sources.writeSilverParquet(c, path,
        partitionCol = Some("c_mktsegment"))
      val doomed = Seq(1L, 7L, 13L, 500L)
      val touched = graft.sources.Sources.deleteKeys(
        s, path, "c_mktsegment", "c_custkey", doomed)
      s.read.parquet(path)
        .withColumn("touched_partitions", lit(touched.toLong))
        .orderBy("c_custkey")
    },
    Some("""SELECT c.*,
      (SELECT COUNT(DISTINCT c_mktsegment) FROM customer
        WHERE c_custkey IN (1, 7, 13, 500)) AS touched_partitions
      FROM customer c
      WHERE c_custkey NOT IN (1, 7, 13, 500)
      ORDER BY c_custkey"""))

  /** SCHEMA EVOLUTION ([[graft.sources.Sources.readMergedSchema]]):
    * files written under two schema versions of one table — an old
    * slice without `c_acctbal`, a new slice with it — union into the
    * superset schema with the old files' missing column null-filled,
    * WITHOUT rewriting history. The oracle reproduces exactly that
    * null pattern from the source table. */
  private[graft] val schemaMerge = Q("schema_merge",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_schema_merge")
      val path = s"$root/cust"
      c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name")
        .write.parquet(path) // schema v1: no balance column
      c.filter(col("c_custkey") % 2 =!= 0)
        .select("c_custkey", "c_name", "c_acctbal")
        .write.mode("append").parquet(path) // schema v2 lands beside it
      graft.sources.Sources.readMergedSchema(s, path)
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name,
      CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END AS c_acctbal
      FROM customer ORDER BY c_custkey"""))

  /** BATCH PARTITION UPSERT ([[graft.sources.Sources
    * .upsertByPartition]], dynamic partition overwrite — the batch
    * twin of the streaming foreachBatch upsert): a patch batch
    * carrying only SOME dates must replace exactly those date
    * partitions and leave every other partition intact. The patch
    * halves the rows in its dates (even event_ids only), so every
    * failure mode shows in the hash: plain append would keep the odd
    * rows, full-table overwrite would drop the unpatched dates. */
  private[graft] val upsertPartition = Q("upsert_partition",
    (s, dir) => {
      val root = Scratch.dir("graft_upsert_q")
      val path = s"$root/fact"
      val base = events(s, dir)
        .select(to_date(col("ts")).as("date"), col("event_id"),
          col("user_id"))
        .withColumn("src", lit("base"))
      graft.sources.Sources.writeSilverParquet(base, path,
        partitionCol = Some("date"))
      val patch = base
        .filter(dayofmonth(col("date")) <= 5 &&
          col("event_id") % 2 === 0)
        .withColumn("src", lit("patch"))
      graft.sources.Sources.upsertByPartition(patch, path, "date")
      s.read.parquet(path)
        .select(col("event_id"), col("user_id"),
          col("date").cast("date").as("date"), col("src"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, CAST(ts AS DATE) AS date,
      'patch' AS src
      FROM events
      WHERE DAYOFMONTH(CAST(ts AS DATE)) <= 5 AND event_id % 2 = 0
      UNION ALL
      SELECT event_id, user_id, CAST(ts AS DATE) AS date,
        'base' AS src
      FROM events
      WHERE DAYOFMONTH(CAST(ts AS DATE)) > 5
      ORDER BY event_id"""))

  /** One-time-per-(dir) staging of the bucketed fact tables the
    * zero-exchange join reads — written ONCE however many times the
    * query runs in a bench/verify session (the write is the amortized
    * cost the strategy exists to pay once; re-paying it per repeat
    * would benchmark the write, not the join). Data lands in a
    * [[Scratch.dir]] (external tables — only bucket metadata in the
    * in-memory catalog), so [[Scratch.cleanup]] drops the memo with
    * the data; table names are dir-tagged so rehearsal layouts don't
    * collide. The memo key includes the session identity: catalog
    * entries are per-session, so a second session in the same JVM
    * must re-stage rather than inherit a hit it cannot resolve. */
  private val bucketedTables = Scratch.memo[(Int, String), (String, String)]()
  private def stageBucketedTables(s: SparkSession,
                                  dir: String): (String, String) =
    bucketedTables((System.identityHashCode(s), dir)) {
      val tag = java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xffffffffL)
      val (ot, lt) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
      val root = Scratch.dir("graft_bucketed")
      graft.sources.Sources.writeBucketedTable(
        t(s, dir, "orders"), ot, "o_orderkey", 8, "o_orderkey",
        Some(s"$root/orders"))
      graft.sources.Sources.writeBucketedTable(
        t(s, dir, "lineitem"), lt, "l_orderkey", 8, "l_orderkey",
        Some(s"$root/lineitem"))
      (ot, lt)
    }

  /** The zero-Exchange plan itself, shared by the registered query and
    * PlanGuardrailSpec's shuffle assertion: join + per-key aggregate
    * over the two bucketed tables ([[stageBucketedTables]], a
    * [[Scratch.memo]] that re-stages after [[Scratch.cleanup]]),
    * planned with broadcast DISABLED (at
    * 100 TB neither side broadcasts — sort-merge over co-bucketed
    * scans IS the plan) and the plan PINNED inside the conf scope
    * (queryExecution is lazy; without the touch the restored threshold
    * would re-plan a broadcast join at action time). Bucketing serves
    * both operators: the join needs no Exchange because both scans
    * already hash-cluster on the key, and the aggregate needs none
    * because the join output inherits that clustering. */
  private[graft] def bucketedJoinFrame(s: SparkSession,
                                       dir: String): DataFrame = {
    val (ot, lt) = stageBucketedTables(s, dir)
    Session.withConf(s, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      val joined = s.table(ot)
        .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("revenue"))
      joined.queryExecution.executedPlan // pin SMJ inside the scope
      joined
    }
  }

  /** Bucketed (pre-shuffled) join: orders ⋈ lineitem on the bucket key
    * with a per-order aggregate, both tables written via
    * [[graft.sources.Sources.writeBucketedTable]] — the
    * amortize-the-shuffle-once layout for a fact table that joins
    * repeatedly on the same key. The oracle proves the bucketed path
    * returns exactly the plain-join answer; the ZERO-ShuffleExchange
    * property of the plan is PlanGuardrailSpec's assertion over
    * [[bucketedJoinFrame]]. */
  private[graft] val bucketedJoin = Q("bucketed_join",
    (s, dir) => bucketedJoinFrame(s, dir).orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, COUNT(*) AS n_items,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1 ORDER BY 1"""))

  /** The incremental-sync driver
    * ([[graft.sources.ManifestTable.syncAppends]]) — the consumer-side
    * watermark loop over manifest CDC — run through its three regimes
    * in one query: first sync delivers the FULL head snapshot (no
    * state), steady-state sync delivers EXACTLY the appends since the
    * last synced version (a re-delivery of v1's rows would duplicate
    * them in the sink and break the hash), and a caught-up sync skips
    * `process` entirely (pinned by `process_calls` = 2). The synced
    * version lands in the state file only AFTER `process` returns —
    * crash-redelivery (at-least-once) is ManifestTableSpec's. */
  private[graft] val manifestSync = Q("manifest_sync",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_manifest_sync")
      val tbl = s"$root/cust_tbl"
      val sink = s"$root/sink"
      val state = s"$root/consumer_state.txt"
      var calls = 0L
      def process(batch: DataFrame): Unit = {
        calls += 1
        batch.write.mode("append").parquet(sink)
      }
      graft.sources.ManifestTable.commitOverwrite(s, tbl,
        c.filter(col("c_mktsegment") === "BUILDING"))
      graft.sources.ManifestTable.syncAppends(s, tbl, state)(process)
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "MACHINERY"))
      graft.sources.ManifestTable.commitAppend(s, tbl,
        c.filter(col("c_mktsegment") === "AUTOMOBILE"))
      graft.sources.ManifestTable.syncAppends(s, tbl, state)(process)
      val synced = graft.sources.ManifestTable
        .syncAppends(s, tbl, state)(process) // caught up: must skip
      s.read.parquet(sink)
        .withColumn("process_calls", lit(calls))
        .withColumn("synced_version", lit(synced))
        .orderBy("c_custkey")
    },
    Some("""SELECT c.*, CAST(2 AS BIGINT) AS process_calls,
      CAST(3 AS BIGINT) AS synced_version
      FROM customer c
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
      ORDER BY c_custkey"""))

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE
    * ([[graft.etl.Materialized.mergePartials]]): a daily
    * (date, event_type) rollup stored as partial aggregates
    * (count + exact-decimal sum), refreshed from a late delta batch by
    * merging partials — the base event history is scanned ONCE to seed
    * the view and NEVER again; the refresh scans only the delta. Here
    * the first 25 days seed the stored view (written to parquet — the
    * state a real deployment persists), days 26+ arrive as the delta,
    * and the registered output is the merged view with its derived
    * columns. The oracle is the FULL recompute over all events — the
    * strongest possible statement of the maintenance contract:
    * merge(partials(A), partials(B)) == partials(A ∪ B). At 100 TB
    * the refresh shuffle carries |view keys| + |delta partials| rows
    * (both tiny), while the naive nightly full re-aggregate this
    * replaces rescans the entire fact table per refresh. */
  private[graft] val mvIncrementalDaily = Q("mv_incremental_daily",
    (s, dir) => {
      val ev = events(s, dir).select(to_date(col("ts")).as("date"),
        col("event_type"), col("value"))
      def partials(df: DataFrame): DataFrame =
        df.groupBy("date", "event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast(DecimalType(18, 2)).as("sum_value"))
      val root = Scratch.dir("graft_mv_daily")
      val mvPath = s"$root/mv_daily"
      partials(ev.filter(dayofmonth(col("date")) <= 25))
        .write.parquet(mvPath) // the persisted view state
      val stored = s.read.parquet(mvPath)
      val delta = partials(ev.filter(dayofmonth(col("date")) > 25))
      graft.etl.Materialized
        .mergePartials(stored, delta, Seq("date", "event_type"))
        .select(col("date"), col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("total_value"),
          (col("sum_value").cast("double") / col("n_events"))
            .as("avg_value"))
        .orderBy("date", "event_type")
    },
    Some("""SELECT CAST(ts AS DATE) AS date, event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS avg_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** INCREMENTAL SECOND-MOMENT MAINTENANCE — the variance companion to
    * [[mvIncrementalDaily]] (Chan et al. parallel-variance posture,
    * re-expressed as stored partials): per event type the view keeps
    * (n, Σc, Σc²) over exact integer cents; a delta batch merges by
    * plain partial addition, and mean/variance/stddev are terminal
    * expressions over the merged exact sums — so incremental refresh
    * provably equals full recompute (the oracle) without Welford-style
    * sequential state, and nothing ever rescans history. Σc² rides
    * DECIMAL(38,0): overflow-proof at any corpus size where BIGINT's
    * 9.2e18 would clip (cents² × 1e9 rows ≈ 1e17 already brushes it).
    */
  private[graft] val mvIncrementalStats = Q("mv_incremental_stats",
    (s, dir) => {
      val ev = events(s, dir).select(col("event_type"),
        to_date(col("ts")).as("date"),
        expr("cast(round(value * 100) as bigint)").as("c"))
      def partials(df: DataFrame): DataFrame =
        df.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("c")).as("s1"),
            sum((col("c") * col("c")).cast(DecimalType(38, 0)))
              .cast(DecimalType(38, 0)).as("s2"))
      val stored = partials(ev.filter(dayofmonth(col("date")) <= 25))
      val delta = partials(ev.filter(dayofmonth(col("date")) > 25))
      val nD = col("n").cast("double")
      val meanC = col("s1").cast("double") / (nD * 100.0)
      val varC = (nD * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double")) /
        (nD * (nD - 1.0)) / 10000.0
      graft.etl.Materialized
        .mergePartials(stored, delta, Seq("event_type"))
        .select(col("event_type"), col("n"),
          round(meanC, 6).as("mean_value"),
          round(varC, 6).as("var_value"),
          round(sqrt(varC), 6).as("stddev_value"))
        .orderBy("event_type")
    },
    Some("""WITH p AS (SELECT event_type,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS s1,
        SUM(CAST(ROUND(value * 100) AS BIGINT) *
            CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events GROUP BY 1)
      SELECT event_type, n,
        ROUND(CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
          AS mean_value,
        ROUND((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
            CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
          (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0, 6)
          AS var_value,
        ROUND(SQRT((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE) -
            CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
          (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) / 10000.0), 6)
          AS stddev_value
      FROM p ORDER BY event_type"""))

  /** MANIFEST-TABLE COMPACTION under CORRECTNESS
    * ([[graft.sources.ManifestTable.compact]]): five fragmented
    * append commits rewritten into a 2-file layout as a NEW snapshot —
    * the registered output proves the compacted table is row-for-row
    * the pre-compaction table (the oracle is the plain source
    * relation) and that the layout actually shrank to the target
    * (`compacted` pins both directions; a no-op compact or a lossy
    * rewrite each flip it). Concurrency posture is ManifestTableSpec's
    * (readers pinned at version N survive the compact; vacuum-vs-
    * pinned-reader contract). At 100 TB this is the nightly small-file
    * pass that keeps scan task counts sane under streaming ingest. */
  private[graft] val manifestCompact = Q("manifest_compact",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val root = Scratch.dir("graft_manifest_compact")
      val tbl = s"$root/tbl"
      (0 until 5).foreach { i =>
        graft.sources.ManifestTable.commitAppend(s, tbl,
          c.filter(col("c_custkey") % 5 === i))
      }
      val filesBefore =
        graft.sources.ManifestTable.read(s, tbl).inputFiles.length
      graft.sources.ManifestTable.compact(s, tbl, targetFiles = 2)
      val after = graft.sources.ManifestTable.read(s, tbl)
      val filesAfter = after.inputFiles.length
      after
        .withColumn("compacted",
          lit(filesAfter <= 2 && filesBefore > filesAfter))
        .orderBy("c_custkey")
    },
    Some("""SELECT c.*, TRUE AS compacted
      FROM customer c ORDER BY c_custkey"""))

  /** MANIFEST-SIDE FILE SKIPPING
    * ([[graft.sources.ManifestTable.readPruned]]): five
    * key-range-disjoint commits record per-file min/max of the key in
    * the MANIFEST (footer stats captured once at commit), and a
    * narrow key-range read then scans exactly ONE of the five files —
    * the Iceberg/Delta data-skipping idea with no table format and no
    * read-side footer IO. The oracle pins both soundness (rows
    * identical to the plain filtered table — an over-prune loses
    * rows) and effectiveness (`files_total`=5, `files_kept`=1 — a
    * pruner that silently keeps everything still returns right rows;
    * this column is what catches it). Statless files are always kept
    * — the safe-fallback path is ManifestTableSpec's. */
  private[graft] val manifestPrune = Q("manifest_prune",
    (s, dir) => {
      val o = t(s, dir, "orders")
      // ranges scale with the fixture: W = maxKey/5 + 1 per commit, the
      // probe range sits strictly inside commit 2 at every SF
      val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
      val w = mx / 5 + 1
      val root = Scratch.dir("graft_manifest_prune")
      val tbl = s"$root/orders_tbl"
      (0L until 5L).foreach { i =>
        graft.sources.ManifestTable.commitAppend(s, tbl,
          o.filter(col("o_orderkey") >= i * w &&
            col("o_orderkey") < (i + 1) * w).repartition(1),
          statsCol = Some("o_orderkey"))
      }
      val (lo, hi) = (2 * w, 2 * w + w / 2)
      val pr = graft.sources.ManifestTable
        .readPruned(s, tbl, "o_orderkey", lo, hi)
      pr.df
        .filter(col("o_orderkey").between(lo, hi)) // row-level predicate still applies
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("files_total", lit(pr.filesTotal.toLong))
        .withColumn("files_kept", lit(pr.filesKept.toLong))
        .orderBy("o_orderkey")
    },
    Some("""WITH m AS (SELECT (MAX(o_orderkey) // 5) + 1 AS w FROM orders)
      SELECT o_orderkey, o_custkey, o_totalprice,
        CAST(5 AS BIGINT) AS files_total, CAST(1 AS BIGINT) AS files_kept
      FROM orders CROSS JOIN m
      WHERE o_orderkey BETWEEN 2 * w AND 2 * w + w // 2
      ORDER BY o_orderkey"""))

  /** SORT-CLUSTERED COMPACTION
    * ([[graft.sources.ManifestTable.compactSorted]]) — the OPTIMIZE
    * pass that fixes what plain compaction breaks: after rewriting
    * the five fragmented commits into three RANGE-CLUSTERED files with
    * re-recorded footer stats, the same narrow key-range read still
    * prunes (plain `compact` hash-mixes keys and drops stats —
    * ManifestTableSpec pins that degradation to keep-all). The oracle
    * pins content identity post-rewrite and `pruning_effective`
    * (kept < total); kept is data-boundary-dependent (range sampling),
    * so the row gates the PROPERTY, not the exact count. */
  private[graft] val manifestCompactSorted = Q("manifest_compact_sorted",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val mx = o.agg(max(col("o_orderkey"))).head().getLong(0)
      val w = mx / 5 + 1 // fixture-scaled ranges, as in manifestPrune
      val root = Scratch.dir("graft_manifest_compact_sorted")
      val tbl = s"$root/orders_tbl"
      (0L until 5L).foreach { i =>
        graft.sources.ManifestTable.commitAppend(s, tbl,
          o.filter(col("o_orderkey") >= i * w &&
            col("o_orderkey") < (i + 1) * w).repartition(1),
          statsCol = Some("o_orderkey"))
      }
      graft.sources.ManifestTable
        .compactSorted(s, tbl, targetFiles = 3, clusterCol = "o_orderkey")
      val (lo, hi) = (2 * w, 2 * w + w / 2)
      val pr = graft.sources.ManifestTable
        .readPruned(s, tbl, "o_orderkey", lo, hi)
      pr.df
        .filter(col("o_orderkey").between(lo, hi))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("pruning_effective",
          lit(pr.filesKept < pr.filesTotal && pr.filesTotal == 3))
        .orderBy("o_orderkey")
    },
    Some("""WITH m AS (SELECT (MAX(o_orderkey) // 5) + 1 AS w FROM orders)
      SELECT o_orderkey, o_custkey, o_totalprice,
        TRUE AS pruning_effective
      FROM orders CROSS JOIN m
      WHERE o_orderkey BETWEEN 2 * w AND 2 * w + w // 2
      ORDER BY o_orderkey"""))

  /** RETENTION EXPIRY ([[graft.sources.Sources.expirePartitions]]):
    * the events table lands date-partitioned, everything before
    * Jan 10 expires as whole-partition DROPS (directory deletes —
    * O(expired partitions) metadata ops, zero read/rewrite/shuffle,
    * vs the full-table rewrite a row-level DELETE costs), and the
    * survivor read plus the dropped-partition audit count both pin to
    * the oracle: an under-expire leaves old rows in the hash, an
    * over-expire loses young ones, and a wrong count means partitions
    * were dropped that the filter says shouldn't be (or vice versa). */
  private[graft] val retentionExpire = Q("retention_expire",
    (s, dir) => {
      val root = Scratch.dir("graft_retention")
      val path = s"$root/fact"
      val ev = events(s, dir)
        .select(to_date(col("ts")).as("date"), col("event_id"),
          col("user_id"), col("event_type"))
      graft.sources.Sources.writeSilverParquet(ev, path,
        partitionCol = Some("date"))
      val dropped = graft.sources.Sources
        .expirePartitions(s, path, "date", "2024-01-10")
      s.read.parquet(path)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("date").cast("date").as("date"))
        .withColumn("n_dropped", lit(dropped.size.toLong))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS date,
      (SELECT COUNT(DISTINCT CAST(ts AS DATE)) FROM events
        WHERE CAST(ts AS DATE) < DATE '2024-01-10') AS n_dropped
      FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
      ORDER BY event_id"""))

}
