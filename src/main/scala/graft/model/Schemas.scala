package graft.model

import org.apache.spark.sql.types._

/** Explicit schemas + case classes for the Wistia-shaped data model.
  *
  * The reference (SameerDataEngineer01/Wistia-Video-Analytics-project)
  * infers every schema on read (`wistia-Databricks notebool-03.py:90-104`);
  * we pin explicit StructTypes instead (SURVEY.md §4.3.3) and keep
  * inference as a diagnostic mode only.
  */
object Schemas {

  // --- Bronze (raw JSON) ---------------------------------------------------

  /** Raw media stats document, one per video per ingestion run.
    * Fields actually consumed by the reference transform
    * (`notebool-03.py:133-143`); extra stats fields pass through untouched,
    * so readers should merge this with permissive mode.
    */
  val rawMedia: StructType = StructType(Seq(
    StructField("hashed_id", StringType),
    StructField("name", StringType),
    // `created` is cast-guarded in the reference (notebool-03.py:141-143):
    // may be missing, numeric, or garbage. StringType + cast covers all.
    StructField("created", StringType),
    StructField("duration", DoubleType),
    StructField("play_count", LongType)
  ))

  /** One element of `events` (`notebool-03.py:215-233`). */
  val rawEvent: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("time", LongType),
    StructField("duration_watched", StringType), // double-castable, null-safe
    StructField("percent_watched", StringType)
  ))

  /** Raw visitor session document (`notebool-03.py:170-174, 200-233`). */
  val rawVisitor: StructType = StructType(Seq(
    StructField("visitor_key", StringType),
    StructField("ip_address", StringType),
    StructField("country", StringType),
    StructField("events", ArrayType(rawEvent))
  ))

  // --- Silver (star schema), SURVEY.md §1.2 --------------------------------

  val dimMedia: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("title", StringType),
    StructField("url", StringType),
    StructField("channel", StringType),
    StructField("created_at", TimestampType),
    StructField("processed_at", TimestampType)
  ))

  val dimVisitor: StructType = StructType(Seq(
    StructField("visitor_id", StringType, nullable = false),
    StructField("ip_address", StringType),
    StructField("country", StringType),
    StructField("processed_at", TimestampType)
  ))

  val factEngagement: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("visitor_id", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("play_count", LongType),
    StructField("play_rate", DoubleType),
    StructField("total_watch_time_seconds", DoubleType),
    StructField("avg_percent_watched", DoubleType),
    StructField("loaded_at", TimestampType)
  ))
}
