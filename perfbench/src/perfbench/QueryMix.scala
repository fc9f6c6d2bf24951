package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The analyst query mix: a fixed list of registry rows from
  * `graft.Queries.all`, run over fixed tables. Each execution is timed
  * from outside as span `q.<family>`; its rows are checked, after the
  * timed pass, against a recorded order-independent hash. */
object QueryMix {

  /** One row per family. */
  val names: Seq[String] = Seq(
    "kpi_new_vs_returning", "fact_engagement", "dedup_minhash_lsh",
    "sim_topk_bruteforce", "graph_kcore", "text_quality_profile",
    "stream_daily_engagement", "manifest_compact")

  val families: Seq[String] = Seq("kpi", "dedup", "sim", "graph", "text",
    "stream", "manifest", "relational")

  def family(name: String): String = name.takeWhile(_ != '_') match {
    case "bpe" => "text"
    case f if families.contains(f) => f
    case _ => "relational"
  }

  /** `count`, `bit_xor` and `sum mod 2^64` of `xxhash64` over every
    * column of every row: the table fingerprint `graft.Bench` records,
    * applied to a query's collected result. */
  def fingerprint(spark: SparkSession, result: Result): String = {
    val df = spark.createDataFrame(java.util.Arrays.asList(result.rows: _*), result.schema)
    val cols = df.columns.map(c => s"`$c`").mkString(",")
    val r = df.selectExpr("count(1)", s"bit_xor(xxhash64($cols))",
      s"sum(cast(xxhash64($cols) as decimal(38,0)))").head()
    val sumMod = Option(r.getDecimal(2))
      .map(_.toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)))
      .getOrElse(java.math.BigInteger.ZERO)
    val xor = if (r.isNullAt(1)) 0L else r.getLong(1)
    f"${r.getLong(0)}:$xor%016x:$sumMod%016x"
  }

  def readExpected(path: String): Map[String, String] =
    scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, h) = l.split("\\s+"); n -> h }.toMap

  private lazy val registry: Map[String, graft.Queries.Q] =
    graft.Queries.all.map(q => q.name -> q).toMap

  /** A query's collected rows. */
  final case class Result(rows: Array[Row], schema: StructType)

  /** One execution. Traced, the DataFrame is built and its physical plan
    * forced first (`q.plan`), then its rows collected (`q.exec`);
    * untraced, the whole call is one span. */
  def execute(spark: SparkSession, ledger: Ledger, dir: String,
              name: String): Result = {
    val q = registry(name)
    ledger.span(s"q.${family(name)}") {
      ledger.note(s"query:$name", 1)
      if (ledger.traced) {
        val df = ledger.span("q.plan") {
          val d = q.run(spark, dir)
          d.queryExecution.executedPlan
          d
        }
        Result(ledger.span("q.exec")(df.collect()), df.schema)
      } else {
        val df = q.run(spark, dir)
        Result(df.collect(), df.schema)
      }
    }
  }
}
