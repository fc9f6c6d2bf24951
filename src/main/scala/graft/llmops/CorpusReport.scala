package graft.llmops

import graft.Scratch.ScratchOps
import graft.sources.ControlFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus DATA CARD: one machine-readable JSON document per corpus
  * drop summarizing what a training-data consumer asks before using
  * it — volume (docs, tokens, chars), composition (per-source and
  * per-language shares), duplication (exact-digest dup rate), and
  * quality posture (share of docs passing the [[TextAnalysis]] length
  * band) — the "datasheets for datasets" artifact (Gebru et al. 2018),
  * generated by the engine that built the corpus instead of a
  * notebook after the fact.
  *
  * Cost shape: ONE full scan computes every corpus-wide number (the
  * measures ride a single aggregate; Spark schedules the per-source
  * and per-lang rollups as parallel subtrees over one lineage cut of
  * the scan), plus one digest-keyed aggregate for the dup rate — the same
  * exchange discipline as `dedup_exact` (16-byte digests, never
  * text). At 100 TB the report costs two passes and writes a few KB
  * next to the data. */
object CorpusReport {

  private def j(v: Any): String = v match {
    case null => "null"
    case n: Long => n.toString
    case n: Int => n.toString
    case d: Double =>
      // ROOT locale pinned: default-locale formatting would emit
      // "0,123456" (invalid JSON) on comma-decimal locales
      if (d.isNaN || d.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.6f",
        java.lang.Double.valueOf(d))
    case m: Seq[_] => m.map(j).mkString("[", ",", "]")
    case (k: String, v2: Any) => s"${j(k)}: ${j(v2)}"
    case s => ControlFile.jsonString(s.toString)
  }

  /** Compute the card for `docs` (columns: text, source, lang) and
    * write it to `path` as a single JSON file (replaced atomically by
    * [[ControlFile]]). Returns the JSON. */
  def write(spark: SparkSession, docs: DataFrame, path: String): String =
    graft.Scratch.scoped {
      val base = docs.select(col("text"), col("source"), col("lang"),
          length(coalesce(col("text"), lit(""))).cast("long").as("chars"),
          when(trim(coalesce(col("text"), lit(""))) === "", 0L)
            .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
            .as("tokens"),
          md5(coalesce(col("text"), lit(""))).as("digest"))
        .scratchCheckpoint(eager = false) // the first aggregate fills it
      val overall = base.agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("tokens")), lit(0L)).as("n_tokens"),
        coalesce(sum(col("chars")), lit(0L)).as("n_chars"),
        coalesce(sum(when(col("chars").between(200, 5000), 1L)
          .otherwise(0L)), lit(0L)).as("n_quality_band")).head()
      val nDocs = overall.getLong(0)
      val dups = base.groupBy(col("digest"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(col("n") - 1), lit(0L)).as("n_dup_docs"))
        .head().getLong(0)
      def shares(c: String): Seq[(String, Any)] =
        base.groupBy(col(c)).agg(count(lit(1)).as("n"))
          .orderBy(col(c))
          .collect()
          .map(r => (Option(r.get(0)).map(_.toString).getOrElse("null"),
            r.getLong(1): Any)).toSeq
      val json =
        s"""{
           |  "n_docs": ${j(nDocs)},
           |  "n_tokens": ${j(overall.getLong(1))},
           |  "n_chars": ${j(overall.getLong(2))},
           |  "exact_dup_rate": ${j(if (nDocs == 0) 0.0
                else dups.toDouble / nDocs)},
           |  "quality_band_share": ${j(if (nDocs == 0) 0.0
                else overall.getLong(3).toDouble / nDocs)},
           |  "by_source": {${shares("source").map(j).mkString(", ")}},
           |  "by_lang": {${shares("lang").map(j).mkString(", ")}}
           |}""".stripMargin
      ControlFile.replace(spark, path, json)
      json
    }
}
