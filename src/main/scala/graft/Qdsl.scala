package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The registry cell and the helpers every registry part shares.
  * Lives outside [[Queries]] so the part objects (QueriesCore, ...)
  * never touch the composing object during their own initialization
  * (object-init cycles NPE under the JVM's re-entrant class init). */
private[graft] object Qdsl {

  case class Q(name: String,
               run: (SparkSession, String) => DataFrame,
               oracle: Option[String])

  /** Schema cache for [[t]]: every bare `spark.read.parquet` runs a
    * footer-inference JOB before the query proper (visible in
    * `graft.Debug profile` as the `parquet at Qdsl.scala` job, ~50–100 ms of
    * scheduling + driver latency per read site) — and the registry has
    * ~275 read sites re-created on every run/attempt. The inputs are
    * immutable per (dir, table) for a process lifetime (bench/verify
    * data never mutates mid-run), so the first read infers and every
    * later read DECLARES the same schema, which skips the inference
    * job entirely. At 100 TB the same discipline is what avoids
    * re-listing and re-reading footers of a million-file table per
    * query (guide §6 — metadata cost is driver-side, single-process).
    * Results are identical by construction: the declared schema IS the
    * inferred one, cached. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), StructType]

  private[graft] def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.getOrElseUpdate((dir, name),
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** events.parquet has shipped ts as TIMESTAMP(NANOS) in some data
    * drops (Spark 4's parquet reader rejects it unless read as long
    * via the legacy conf, which [[Session]] sets) and TIMESTAMP(MICROS)
    * in others. Normalize whatever arrived to a session-zoned
    * TimestampType column so every consumer sees one type. Schema-dispatch, not config: the same
    * engine build must read both layouts. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => // nanos read as long under the legacy conf
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => // micros; value-identical under UTC session tz
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  private[graft] def events(s: SparkSession, dir: String): DataFrame =
    normalizeTs(t(s, dir, "events"))

  /** Exact, order-independent sum of a 2-decimal double measure. */
  private[graft] def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Window over a KNOWN-BOUNDED relation (a value domain, calendar
    * grain, or LIMIT — never raw rows). The constant partition key is
    * an INTENT MARKER, not an execution change: Spark 4's
    * `EliminateWindowPartitions` strips foldable keys in the
    * optimizer (verified — the optimized plan's partitionSpec is
    * empty), so execution is identical to an unpartitioned window and
    * the runtime "No Partition Defined" warning still fires; `Bench`
    * filters that logger instead. The real guard is STATIC:
    * PlanGuardrailSpec detects global windows whether their keys are
    * empty or foldable, requires each to sit on its allowlist AND
    * over aggregated input, and a negative test pins that this helper
    * cannot hide a raw-row window. */
  private[graft] def boundedWindow(order: Column*)
  : org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0)).orderBy(order: _*)

  /** Unordered whole-relation frame over a KNOWN-BOUNDED relation —
    * the `Window.partitionBy()` analogue of [[boundedWindow]], same
    * constant-key contract. */
  private[graft] def boundedAll
  : org.apache.spark.sql.expressions.WindowSpec =
    org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
}
