package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Micro-benchmarks that pin two live design decisions, where the
  * registered sf0.1 queries are too overhead-dominated to resolve the
  * trade (plan/shuffle setup is the measurement there). Both run at
  * local[8], min-of-3 through [[Bench.timeAttempts]]:
  *
  *  - default mode, `graft.Microbench [rows] [dims]`: expression
  *    throughput of the custom `cosine_sim` / `dot_long` Catalyst
  *    expressions over a deterministic wide synthetic scan (default
  *    2M×256: arrays derived from the row id, no data files, no
  *    shuffle) — pins [[graft.functions.HashExprs]]' CodegenFallback
  *    choice.
  *  - `graft.Microbench kcore [hubDegree] [distinctScores] [bgRows]`:
  *    the k-core h-index histogram-vs-window crossover — pins
  *    [[graft.etl.Graph.coreness]]' histogram round.
  *
  * Usage: `scripts/run_class.sh graft.Microbench ...`. */
object Microbench {

  /** Min-of-3 timing of `body`, printed as one line. */
  private def time(label: String, detail: Double => String)
                  (body: => Unit): Unit = {
    val row = Bench.timeAttempts(label, 3)(body)
    if (row.ok) println(f"$label%-12s ${row.min}%.3f s  ${detail(row.min)}")
    else println(f"$label%-12s FAILED")
  }

  /** Hub-heavy pin of the k-core h-index HISTOGRAM-vs-WINDOW trade.
    * The in-code ~6% price in [[graft.etl.Graph.coreness]] was measured
    * at sf0.1 (~30 distinct scores over ≤5000-neighbor nodes); this
    * mode re-measures ONE contraction round on a synthetic fixture
    * with a celebrity hub of configurable degree so the crossover —
    * where the raw `row_number` window's degree-sized single-partition
    * sort loses to the histogram's (node, score) pre-collapse — is
    * pinned against data-shape drift instead of asserted. Scores are
    * drawn from a bounded distinct set, as in a real contraction state
    * (h-indexes contract toward few values). */
  private def kcoreMode(spark: SparkSession, hubDegree: Long,
                        distinctScores: Int, bgRows: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    // hub: node 0 with `hubDegree` neighbors; background: nodes with
    // degree 20 (bgRows/20 nodes), ids offset past the hub's neighbors
    val hub = spark.range(hubDegree).select(lit(0L).as("src"),
      (col("id") + 1).as("dst"))
    val bg = spark.range(bgRows).select(
      (col("id") % (bgRows / 20) + hubDegree + 1).as("src"),
      (col("id") + hubDegree + 1).as("dst"))
    val und = hub.unionAll(bg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = und.select(col("dst").as("node"))
      .distinct()
      .select(col("node"), (col("node") % distinctScores + 1).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    und.count(); c.count()
    def round(label: String)(df: => DataFrame): Unit =
      time(label, _ => f"(hub=$hubDegree%d, scores=$distinctScores%d, " +
        f"bg=$bgRows%d)")(df.agg(sum(col("c"))).collect())
    round("histogram")(graft.etl.Graph.hIndexRound(und, c))
    // the rejected alternative: row_number over the RAW neighbor list —
    // the window partition is the node's DEGREE, so the hub's rows sort
    // in one task
    round("window") {
      val w = Window.partitionBy("src")
        .orderBy(col("c").desc, col("dst"))
      und.join(c.withColumnRenamed("node", "dst"), "dst")
        .withColumn("rn", row_number().over(w))
        .groupBy(col("src").as("node"))
        .agg(max(least(col("c"), col("rn"))).as("c"))
    }
    // single-exchange candidate: per-node histogram collected into a
    // bounded array (≤ distinct scores) and folded with aggregate() —
    // trades the histogram's second exchange + window sort for an
    // interpreted HOF over ~30 elements
    round("hof") {
      val hist = und.join(c.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("c").as("cv"))
        .agg(count(lit(1)).as("k"))
      hist.groupBy(col("src").as("node"))
        .agg(reverse(array_sort(collect_list(struct(col("cv"),
          col("k"))))).as("h"))
        .select(col("node"), expr(
          """aggregate(h, named_struct('cum', 0L, 'best', 0L),
               (acc, e) -> named_struct(
                 'cum', acc.cum + e.k,
                 'best', greatest(acc.best,
                   least(e.cv, acc.cum + e.k))),
               acc -> acc.best)""").as("c"))
    }
  }

  /** `cosine_sim` / `dot_long` full-scan throughput over `rows` ×
    * `dims` deterministic arrays. */
  private def exprMode(spark: SparkSession, rows: Long, dims: Int): Unit = {
    // deterministic per-row arrays: a_i = ((id*dims+i) % 97) / 10.0
    val base = spark.range(rows).select(col("id"),
      expr(s"transform(sequence(0, ${dims - 1}), " +
        "i -> cast((id * " + dims + " + i) % 97 as double) / 10.0)")
        .as("a"),
      expr(s"transform(sequence(0, ${dims - 1}), " +
        "i -> cast((id * " + dims + " + i * 7) % 89 as double) / 10.0)")
        .as("b"),
      expr(s"transform(sequence(0, ${dims - 1}), " +
        "i -> cast((id + i) % 1000 as bigint))").as("qa"),
      expr(s"transform(sequence(0, ${dims - 1}), " +
        "i -> cast((id + i * 3) % 1000 as bigint))").as("qb"))
    // materialize the arrays BEFORE timing — transform(sequence(...))
    // is an interpreted HOF whose generation cost would otherwise
    // swamp the scoring loop under measure
    base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    def rate(t: Double) = f"(${rows / t / 1e6}%.1f M rows/s)"
    import graft.functions.HashExprs
    time("cosine_sim", rate)(base
      .agg(sum(HashExprs.cosineF(col("a"), col("b")))).collect())
    time("dot_long", rate)(base
      .agg(sum(HashExprs.dotLong(col("qa"), col("qb")))).collect())
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    try {
      if (args.headOption.contains("kcore"))
        kcoreMode(spark,
          hubDegree = args.lift(1).map(_.toLong).getOrElse(2L * 1000 * 1000),
          distinctScores = args.lift(2).map(_.toInt).getOrElse(30),
          bgRows = args.lift(3).map(_.toLong).getOrElse(2L * 1000 * 1000))
      else
        exprMode(spark,
          rows = args.lift(0).map(_.toLong).getOrElse(2L * 1000 * 1000),
          dims = args.lift(1).map(_.toInt).getOrElse(256))
    } finally spark.stop()
  }
}
