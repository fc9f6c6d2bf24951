package graft.llmops

import graft.Scratch.ScratchOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train the corpus-quality classifier INSIDE the engine — the
  * fasttext-style linear model a curation pipeline uses to score
  * documents (CCNet/LLaMA-recipe posture), expressed as deterministic
  * distributed batch gradient descent.
  *
  * Scale shape — the pagerank/BPE driver-sequenced posture: the
  * feature frame is built once (pure scan-side expressions over the
  * text column); every GD iteration is ONE aggregate producing d+1
  * numbers (d quantized gradient sums + the quantized loss), collected
  * to the driver, which updates the weight vector and re-enters it as
  * a literal. Nothing cluster-side ever holds model state; the shuffle
  * per iteration carries d partial sums per partition. At 100 TB:
  * iterations × one linear scan each, the textbook data-parallel GD.
  *
  * Determinism: per-row gradient/loss contributions are QUANTIZED to
  * integers (⌊g·10⁶⌋) before the cross-row sum — a raw float Σ over a
  * shuffled corpus is order-dependent, the same trap the √n sum in
  * `mix_temperature` documents. The weight trajectory is then a pure
  * function of the corpus, so the learned weights freeze into a VALUES
  * oracle like every other engine-specific deterministic output. */
object QualityModel {

  /** d = 6 scan-side features, each an exact-int ratio normalized into
    * [0, 1]: bias, capped length, stopword ratio, punct ratio, capped
    * token count, capped mean word length. */
  def features(textCol: Column): Column = {
    val t = textCol
    val chars = length(t).cast("double")
    val toks = TextAnalysis.tokenCount(t).cast("double")
    array(
      lit(1.0),
      least(chars, lit(2000.0)) / 2000.0,
      coalesce(TextAnalysis.stopwordCount(t).cast("double") /
        nullif(toks, lit(0.0)), lit(0.0)),
      coalesce(TextAnalysis.punctCount(t).cast("double") /
        nullif(chars, lit(0.0)), lit(0.0)),
      least(toks, lit(400.0)) / 400.0,
      least(coalesce(chars / nullif(toks, lit(0.0)), lit(0.0)),
        lit(20.0)) / 20.0)
  }

  val featureNames: Seq[String] = Seq("bias", "len", "stopword_ratio",
    "punct_ratio", "n_tokens", "mean_word_len")

  final case class Fit(weights: Array[Double], losses: Seq[Double],
                       n: Long)

  /** Z-score standardization of the feature array (bias untouched) —
    * the conditioning step that lets GD converge in tens, not
    * hundreds, of iterations. Moments come from one aggregate over
    * QUANTIZED values (⌊x·10⁶⌋ sums — exact, order-free, the same
    * discipline as the gradient sums); μ/σ re-enter as literals so
    * standardization is scan-side. Zero-variance features pass
    * through centered only. */
  def standardize(labeled: DataFrame): DataFrame = {
    val d = featureNames.size
    val cols = (1 until d).flatMap(j => Seq(
      sum(floor(element_at(col("xs"), j + 1) * 1e6).cast("long"))
        .as(s"s$j"),
      sum((floor(element_at(col("xs"), j + 1) * 1e6) *
        floor(element_at(col("xs"), j + 1) * 1e6) / 1e6).cast("long"))
        .as(s"q$j")))
    val r = labeled.agg(count(lit(1)).as("n"), cols: _*).head()
    val n = r.getLong(0).toDouble
    val mu = Array.tabulate(d)(j =>
      if (j == 0) 0.0 else r.getLong(2 * j - 1) / 1e6 / n)
    val sd = Array.tabulate(d) { j =>
      if (j == 0) 1.0
      else {
        val ex2 = r.getLong(2 * j) / 1e6 / n
        val v = ex2 - mu(j) * mu(j)
        if (v > 1e-12) math.sqrt(v) else 1.0
      }
    }
    val muLit = mu.mkString("array(", "D, ", "D)")
    val sdLit = sd.mkString("array(", "D, ", "D)")
    labeled.withColumn("xs", expr(
      s"zip_with(zip_with(xs, $muLit, (a, b) -> a - b), $sdLit, (a, b) -> a / b)"))
  }

  /** Batch GD on logistic loss. `labeled` must carry `xs`
    * (array<double>, any fixed width — from [[features]] or caller-
    * built) and `y` (0.0/1.0). */
  def trainLogReg(labeled: DataFrame, iters: Int, lr: Double): Fit = {
    val spark = labeled.sparkSession
    import spark.implicits._
    // the Fit carries only driver arrays, so the scope frees the
    // training checkpoint deterministically on return rather than
    // waiting on the ContextCleaner
    graft.Scratch.scoped {
      val data = labeled.select(col("xs"), col("y"))
        .scratchCheckpoint(true)
      val d = data.select(size(col("xs"))).head().getInt(0)
      // The GD inner loop runs as a typed treeAggregate over the
      // checkpointed feature frame, NOT as per-iteration DataFrame
      // aggregates: each Catalyst formulation re-entered the weight
      // vector as literals, so every one of the `iters` steps paid a
      // full analyze/optimize/plan pass on the driver — measured
      // round-18 at ~150 ms/iteration of pure planning against ~30 ms
      // of compute (69 jobs, 1.0 s task-time, 5.7 s wall). The typed
      // loop submits one job per iteration with zero planning. This is
      // the justified-typed-path precedent (the LSH bucket loop):
      // driver-sequenced model training whose per-row arithmetic
      // Catalyst re-derives identically every round. Determinism is
      // UNCHANGED — same left-to-right double fold for z (the
      // aggregate(zip_with(...)) order), same Math.exp/log/floor, same
      // ⌊·1e6⌋ Long quantization BEFORE the commutative cross-row sum —
      // so the weight trajectory is bit-identical (the frozen VALUES
      // oracle and the gate's loss-descent leg pin it).
      val vecs = data.as[(Seq[Double], Double)].rdd
        .map { case (xs, y) => (xs.toArray, y) }
      val n = data.count()
      var w = Array.fill(d)(0.0)
      val losses = Seq.newBuilder[Double]
      var it = 0
      while (it < iters) {
        val wCur = w // stable capture for the closure
        val row = vecs.treeAggregate(new Array[Long](d + 1))(
          seqOp = (acc, r) => {
            val (xs, y) = r
            var z = 0.0
            var j = 0
            while (j < d) { z += xs(j) * wCur(j); j += 1 }
            val p = 1.0 / (1.0 + math.exp(-z))
            j = 0
            while (j < d) {
              acc(j) += math.floor((p - y) * xs(j) * 1e6).toLong
              j += 1
            }
            acc(d) += math.floor(-(y * math.log(p) +
              (1.0 - y) * math.log(1.0 - p)) * 1e6).toLong
            acc
          },
          combOp = (a, b) => {
            var j = 0
            while (j <= d) { a(j) += b(j); j += 1 }
            a
          })
        w = Array.tabulate(d)(j => w(j) - lr * (row(j) / 1e6) / n)
        losses += row(d) / 1e6 / n
        it += 1
      }
      Fit(w, losses.result(), n)
    }
  }

  /** Accuracy of sign(w·x) against `y` — exact integer counting. */
  def accuracy(labeled: DataFrame, w: Array[Double]): Double = {
    val wLit = w.mkString("array(", "D, ", "D)")
    val r = labeled.withColumn("z", expr(
      s"aggregate(zip_with(xs, $wLit, (a, b) -> a * b), 0D, (acc, v) -> acc + v)"))
      .agg(sum(when((col("z") >= 0) === (col("y") >= 0.5), 1L)
        .otherwise(0L)).as("ok"), count(lit(1)).as("n")).head()
    r.getLong(0).toDouble / r.getLong(1)
  }
}
