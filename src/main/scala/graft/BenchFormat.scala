package graft

import graft.sources.ControlFile.{jsonString => jstr}

/** Pure formatting for [[Bench]]'s two artifacts, factored out so the
  * format CONTRACT is unit-testable without a Spark run: the stdout
  * headline must stay parseable inside a bounded (2000-char) log
  * tail at full-registry size, and both lines must be
  * locale-independent JSON (a comma-decimal default locale must not
  * produce `0,123`). Input everywhere: a [[BenchFormat.Row]] per
  * query — the per-attempt seconds of the SUCCESSFUL attempts plus a
  * failed-attempt count.
  *
  * Why min AND max: min is the comparable number (the GC/scheduler-
  * undisturbed attempt — see BASELINE.md's adjudication protocol);
  * max bounds the ambient swing, so a plan regression (min moved) is
  * distinguishable from scheduler noise (min stable, max wide)
  * straight from the artifact.
  *
  * Why err is part of the SCHEMA: a thrown attempt used to fold its
  * wall-clock into min/max silently, so a row could carry the timing
  * of a run that did less than the full query (the round-11 audit
  * flagged `pipeline_e2e` as weak on exactly this possibility). Now a
  * thrown attempt contributes NO time; its count lands in an `errs`
  * map in both artifacts, and a query whose every attempt failed is
  * excluded from `queries`/`spread`/total entirely — a poisoned row
  * is visible, never averaged away.
  *
  * Why `_`-prefixed rows are excluded from `value`/`n_queries`:
  * calibration rows (`_canary_host`, `_canary_io`) measure the HOST,
  * not the engine — folding them into the headline total would skew
  * cross-round total comparisons between runs at different core
  * counts (the CPU canary alone costs seconds per attempt at
  * CPUS=4). They still appear in `queries`/`spread`, which is where
  * `bench_compare.py` reads them. */
private[graft] object BenchFormat {

  /** One query's bench outcome: `times` are seconds of the attempts
    * that completed; `errs` counts the attempts that threw. */
  final case class Row(name: String, times: Seq[Double], errs: Int) {
    def ok: Boolean = times.nonEmpty
    def min: Double = times.min
    def max: Double = times.max
  }

  /** 3-decimal ROOT-locale seconds: millisecond resolution is all the
    * artifact needs, and short numbers keep the headline small. */
  def d3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def minMap(rs: Seq[Row]): String =
    rs.map(r => jstr(r.name) + ":" + d3(r.min))
      .mkString("{", ",", "}")

  def spreadMap(rs: Seq[Row]): String =
    rs.map(r => jstr(r.name) + ":[" + d3(r.min) + "," + d3(r.max) + "]")
      .mkString("{", ",", "}")

  /** Failed-attempt counts, only for rows that had any — empty `{}`
    * on a clean run, so the artifact says "zero errors" explicitly. */
  def errMap(rs: Seq[Row]): String =
    rs.filter(_.errs > 0)
      .map(r => jstr(r.name) + ":" + r.errs)
      .mkString("{", ",", "}")

  /** SHA-256 of the EXACT BYTES written to BENCH_full.json (UTF-8,
    * trailing newline included) — carried in the headline so a log
    * tail alone proves which full artifact the run produced: a judge
    * can hash the committed file and match it against the driver's
    * stdout, closing the "was this file re-generated after the run?"
    * gap. */
  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** ONE compact JSON line that FITS a bounded 2000-char log tail even
    * on full-registry runs (a full per-query dict is ~8 KB and gets
    * truncated into unparseable half-JSON). Carries total + the
    * slowest 25 mins + the slowest 12 spreads + the err summary —
    * what a round-over-round read actually uses; the full maps live in
    * BENCH_full.json, checksummed here via `full_sha256`. The 25/12
    * budget holds 2000 chars even with every name at the registry's
    * worst-case length (BenchFormatSpec pins it).
    *
    * `err_attempts` is the TOTAL failed-attempt count across all rows
    * (0 on a clean run); per-row counts live in the full artifact's
    * `errs` map. A row with zero successful attempts is excluded from
    * `queries`/`spread`/`value` and counted in `failed_queries`. */
  /** One table's content fingerprint: row count + TWO order-independent
    * content hashes over xxhash64 of every column — bit_xor and
    * sum-mod-2^64. Both are commutative, so partitioning/order can't
    * move them. Neither alone is change-complete: xor is
    * multiplicity-blind (identical rows cancel in pairs, so swapping
    * one duplicated row for a different duplicated row leaves count
    * and xor unchanged — round-15 advice), while sum misses
    * xor-visible changes like bit-flips that cancel additively.
    * Together with the count, a silent collision needs a dataset
    * matching all three simultaneously — implausible by accident. */
  final case class TableFp(name: String, rows: Long, hashHex: String,
                           sumHex: String)

  /** `{"lineitem":[600572,"a1b2...","c3d4..."],...}` — the full artifact's
    * `tables` field. Round 15's adjudication spent a cross-code
    * control experiment proving a diffuse +26% was environment, not
    * plans — and could still not separate "the box changed" from "the
    * driver regenerated /root/testdata differently" because no
    * committed artifact records what data a run read. With this field
    * the next round's `bench_compare.py` answers that mechanically:
    * fingerprints equal → same bytes, read ratios as host/plan;
    * fingerprints moved → the bar itself moved, re-baseline. */
  def tablesMap(fps: Seq[TableFp]): String =
    fps.map(f => jstr(f.name) + ":[" + f.rows + "," + jstr(f.hashHex)
        + "," + jstr(f.sumHex) + "]")
      .mkString("{", ",", "}")

  def headline(sfDir: String, results: Seq[Row],
               fullSha256: String, tablesJson: String = "{}"): String = {
    val good = results.filter(_.ok)
    val counted = good.filterNot(_.name.startsWith("_"))
    val bySlow = good.sortBy(-_.min)
    s"""{"metric":"total","unit":"sec","sf":${jstr(sfDir)},""" +
      s""""n_queries":${counted.size},"value":${d3(counted.map(_.min).sum)},""" +
      s""""queries":${minMap(bySlow.take(25))},""" +
      s""""spread":${spreadMap(bySlow.take(12))},""" +
      s""""queries_omitted":${math.max(0, good.size - 25)},""" +
      s""""err_attempts":${results.map(_.errs).sum},""" +
      s""""failed_queries":${results.count(!_.ok)},""" +
      // the headline stays tail-sized: it carries only a CHECKSUM of
      // the tables map (full map lives in BENCH_full.json), enough to
      // see from two stdout lines alone whether two runs read the
      // same data
      s""""data_sha256":"${sha256Hex(tablesJson)}",""" +
      s""""full":"BENCH_full.json","full_sha256":"$fullSha256"}"""
  }

  /** The complete artifact line: every completed query's min plus its
    * [min, max] spread, plus per-row failed-attempt counts (`errs`)
    * and the names of rows with no completed attempt at all
    * (`failed_queries` — their timing is poison, not data). */
  def fullLine(sfDir: String, results: Seq[Row],
               tablesJson: String = "{}"): String = {
    val good = results.filter(_.ok)
    val counted = good.filterNot(_.name.startsWith("_"))
    s"""{"metric":"total","unit":"sec","sf":${jstr(sfDir)},""" +
      s""""n_queries":${counted.size},"value":${d3(counted.map(_.min).sum)},""" +
      s""""tables":$tablesJson,""" +
      s""""queries":${minMap(good)},""" +
      s""""spread":${spreadMap(good)},""" +
      s""""errs":${errMap(results)},""" +
      s""""failed_queries":${results.filter(!_.ok).map(r => jstr(r.name))
        .mkString("[", ",", "]")}}"""
  }
}
