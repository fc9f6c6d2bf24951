package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shuffle-order independence for the round-8 curation operators: a
  * query's result must not depend on how its shuffles were
  * partitioned. Re-running under a different shuffle-partition count
  * permutes every exchange's row order and the per-partition partial
  * aggregation trees; because each query ends in a total-order sort
  * and keeps its numerics order-independent (the determinism contract
  * in Queries.scala's scaladoc), the collected output must be
  * bit-identical. A failure here means a hidden dependence on
  * partitioning — float accumulation order, a non-total sort, a
  * first()/head() survivor — exactly the class of bug that passes a
  * fixed-partitioning oracle run and corrupts results on a real
  * cluster. */
class DeterminismSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private val targets = Seq("corpus_domain_cap", "dedup_repeated_spans",
    "kanon_audit", "embedding_centroids", "curriculum_mix",
    "sim_knn_vote",
    // round-8 additions: ewma_value's in-row double fold must order by
    // the sorted array, never arrival; graph_components' min-label
    // propagation and sim_topk_hamming's two-stage rerank must not
    // depend on how candidate shuffles were partitioned
    "ewma_value", "changepoint_cusum", "journey_classify",
    "sim_topk_hamming", "graph_components", "stats_ttest",
    // analytics batch: fixed-order float sums (entropy), decimal-moment
    // formulas (acf, gini), NTILE-over-CDF tilings (rfm), and a
    // float-keyed top-k (basket lift) — each must survive re-partitioned
    // shuffles bit-identically
    "stats_acf", "stats_entropy", "revenue_gini", "kpi_rfm_segments",
    "basket_lift",
    // survival_km's running product is an ordered array fold; the
    // sweep-line cumsum and the Benford/dow shares are exact-integer
    "survival_km", "interval_concurrency", "stats_benford")

  targets.foreach { name =>
    test(s"$name is shuffle-partitioning independent") {
      val q = Queries.all.find(_.name == name).get
      def rows(partitions: String) =
        Session.withConf(spark, "spark.sql.shuffle.partitions", partitions) {
          q.run(spark, dir).collect().map(_.toString).toSeq
        }
      val a = rows("32")
      val b = rows("7")
      assert(a.nonEmpty)
      assert(a == b, s"$name output changed under repartitioning")
    }
  }
}
