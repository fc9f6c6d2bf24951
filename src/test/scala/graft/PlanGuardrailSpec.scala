package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.scalatest.funsuite.AnyFunSuite

/** Scale guardrails over the WHOLE registered query surface: walks every
  * query's plan and fails if a future change reintroduces one of the
  * known 100 TB killers —
  *   1. a CartesianProduct outside the documented bounded-id demos,
  *   2. an unpartitioned Window over non-aggregated input (the
  *      single-task global sort),
  *   3. a star-join KPI that lost its broadcast hash join.
  * The two streaming queries are excluded: their builders EXECUTE the
  * stream (their plans are audited in StreamingFactSpec), as are the
  * eager model-training collects documented in Similarity/Dedup. */
class PlanGuardrailSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** `body` planned with AQE off, so the physical tree is inspectable
    * before execution. */
  private def aqeOff[T](body: => T): T =
    Session.withConf(spark, "spark.sql.adaptive.enabled", "false")(body)

  /** Bounded-id crossJoin oracle demos (doc_id/vec_id-filtered), each
    * documented in Queries.scala with its LSH/banded scale path. */
  private val cartesianOk = Set("dedup_ngram_jaccard", "dedup_corpus",
    "dedup_embedding", "dedup_containment")

  /** Queries allowed an unpartitioned window — and ONLY over aggregated
    * input, asserted below: the window's size is bounded by a value
    * domain (customer_deciles CDF) or a calendar grain (moving avg),
    * not by row count. */
  private val globalWindowOk = Set("customer_deciles", "kpi_moving_avg_7d",
    "deciles_approx_check", // lag over the 10-row bucket aggregate
    "curriculum_mix", // ntileByValue CDF over the bounded n_chars domain
    "text_vocabulary", // cumulative share over the 200-row top-k LIMIT
    "stats_chi2", // grand-total margin over the seg x status cell aggregate
    "stats_spearman", // cumulative ranks over the bounded value-domain marginals
    "kpi_rfm_segments", // ntileByValue CDFs over banded R/F/M value domains
    "revenue_lorenz", // cumulative share over the 10-row decile aggregate
    "revenue_gini", // same 10-row decile window as revenue_lorenz
    "survival_km", // risk-set + survival windows over the day-domain KM table
    "interval_concurrency", // sweep-line cumsum over the day-domain delta table
    "seasonal_anomaly", // centered-MA window over the calendar-sized daily aggregate
    "ml_auc", // rank cumsum over the score-GROUP aggregate (value domain, not rows)
    "stats_theilsen", // pair-slope rank over the day-domain aggregate (calendar-bounded)
    "anomaly_forecast_residual", // residual-rank median over the day-domain fit table
    "stats_mannwhitney", // rank cumsum over the cents value-domain histogram
    "stats_weighted_median", // weight cumsum over the 50-value quantity domain
    "ml_conformal_quantile", // order-stat cumsum over the cents value-domain histogram
    "slo_burn_rate") // trailing-7d window over the day-domain error aggregate

  private lazy val frames: Seq[(String, DataFrame)] =
    Queries.all.filterNot(_.name.startsWith("stream_"))
      .map(q => q.name -> q.run(spark, dir))

  test("no CartesianProduct outside the documented bounded demos") {
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        assert(cartesianOk(name),
          s"$name grew a CartesianProduct — broadcast the small side " +
            s"or bucket the join:\n$plan")
    }
  }

  test("retrieval_pipeline's recall-eval joins broadcast their " +
    "bounded sides (checkpoint stats default to huge → SMJ fallback)") {
    // the row ends in a result cut, so audit the frame it cuts
    val plan = Scratch.scoped {
      QueriesDedupSim.retrievalRecall(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("BroadcastHashJoin"),
      s"retrieval_pipeline lost its broadcast eval joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"retrieval_pipeline's k×queries-bounded eval joins fell back " +
        s"to sort-merge:\n$plan")
  }

  /** A window is GLOBAL (single-task at scale) when its partition spec
    * is empty OR every key is foldable — the registry's reviewed
    * bounded windows use `Qdsl.boundedWindow`'s constant key, which
    * silences the runtime WindowExec warning but must stay subject to
    * exactly the same static discipline. */
  private def globalWindows(df: DataFrame): Seq[LWindow] =
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow
        if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable)
      => w
    }

  test("every global (empty- or constant-key) window runs over " +
    "aggregated input on an allowlisted query") {
    frames.foreach { case (name, df) =>
      val wins = globalWindows(df)
      if (wins.nonEmpty) {
        assert(globalWindowOk(name),
          s"$name grew a global window — a single-task global " +
            s"sort at scale")
        wins.foreach { w =>
          assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
            s"$name: global window over NON-aggregated input — " +
              s"its size tracks row count, not a bounded domain")
        }
      }
    }
  }

  test("negative: a constant-key window over raw rows IS detected " +
    "as global (the boundedWindow helper cannot hide one)") {
    import org.apache.spark.sql.functions._
    val raw = spark.range(100).toDF("id")
      .withColumn("rn", row_number().over(
        Qdsl.boundedWindow(col("id")))) // raw rows, no aggregate below
    val wins = globalWindows(raw)
    assert(wins.nonEmpty, "constant-key window escaped detection")
    assert(wins.forall(
      _.child.collectFirst { case a: Aggregate => a }.isEmpty),
      "raw-row window misread as aggregated")
    // and a genuinely partitioned window is NOT flagged
    val part = spark.range(100).toDF("id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("id") % 7).orderBy(col("id"))))
    assert(globalWindows(part).isEmpty)
  }

  test("star-join KPIs broadcast their dimension sides") {
    val byName = frames.toMap
    Seq("kpi_video_performance", "kpi_top_videos", "kpi_by_country")
      .foreach { n =>
        assert(byName(n).queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"), s"$n lost its broadcast join")
      }
  }

  test("filters and projections reach the parquet scan") {
    val probe = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") < 200)
      .select("doc_id", "lang")
    val plan = probe.queryExecution.executedPlan.toString
    // predicate pushed into the scan, not evaluated post-scan only
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), " +
      "LessThan(doc_id,200)]"), plan)
    // column pruning: the scan reads the 2 projected columns, not the
    // full document row (text would dominate the IO)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("lang")
      && !readSchema.contains("text"), readSchema)
  }

  test("dynamic partition pruning engages on a date-partitioned fact") {
    // At 100 TB the date-partitioned silver fact joined to a filtered
    // dimension must scan ONLY the partitions the dim's survivors name
    // — Spark's DPP injects a runtime subquery into the scan's
    // PartitionFilters. Assert the mechanism fires for our layout
    // (partitionBy(date) writes + an equi-join on the partition key),
    // so a layout or join-shape change that silently disables it (e.g.
    // a cast on the partition column, a non-equi rewrite) fails here.
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("od", to_date(col("o_orderdate")))
      .write.partitionBy("od").parquet(s"$tmp/fact")
    val fact = spark.read.parquet(s"$tmp/fact")
    // dim: every date plus a selective flag — stored, not derived from
    // the fact, so the filter is a genuine dim-side predicate
    fact.select(col("od")).distinct()
      .withColumn("flag", (dayofmonth(col("od")) <= 2).cast("int"))
      .write.parquet(s"$tmp/dim")
    val dim = spark.read.parquet(s"$tmp/dim").filter(col("flag") === 1)
    val j = fact.join(dim, Seq("od")).groupBy().count()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery in the partitioned scan:\n${plan.take(3000)}")
  }

  test("ANALYZE TABLE statistics reach the optimizer (CBO inputs)") {
    // At 100 TB join reorder and build-side choice come from catalog
    // statistics (spark.sql.cbo.*). Assert the ANALYZE → optimizer
    // pipeline works end-to-end on our table layout: row count AND
    // column-level NDV/min/max must land in LogicalPlan.stats, or
    // every CBO decision silently degrades to size-only heuristics.
    import spark.implicits._
    Session.withConf(spark, "spark.sql.cbo.enabled", "true") {
      (1 to 500).map(i => (i.toLong, s"s$i")).toDF("k", "s")
        .write.mode("overwrite").saveAsTable("cbo_probe")
      spark.sql(
        "ANALYZE TABLE cbo_probe COMPUTE STATISTICS FOR ALL COLUMNS")
      val stats = spark.table("cbo_probe")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(500)), stats)
      assert(stats.attributeStats.nonEmpty,
        "no column-level stats reached the optimizer")
      val kStats = stats.attributeStats.find(_._1.name == "k").map(_._2)
      // NDV is HLL-estimated by ANALYZE — assert it's present and sane
      // (±10%), which is the precision CBO consumes anyway
      assert(kStats.exists(_.distinctCount.exists(d =>
        d >= BigInt(450) && d <= BigInt(550))),
        s"k NDV missing/wrong: $kStats")
      assert(kStats.exists(_.max.contains(500L)), s"k max: $kStats")
    }
  }

  test("runtime bloom-filter pruning engages for selective shuffle joins") {
    // At 100 TB the fact-side scan of a selective dim join should be
    // pre-filtered by a runtime bloom filter built from the dim side
    // (Spark injects it when the application side exceeds its scan-size
    // threshold — far above any local fixture, so the thresholds are
    // dropped to zero here to assert the MECHANISM stays available and
    // our plans stay eligible: a shuffle join with a selective creation
    // side). Broadcast is disabled because a broadcastable dim already
    // prunes via the hash table itself — bloom injection only targets
    // shuffle joins, which is what the same join becomes at scale.
    import org.apache.spark.sql.functions.col
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    TestSpark.withConfs(spark, confs) {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val pt = spark.read.parquet(s"$dir/part.parquet")
        .filter(col("p_retailprice") > 1500)
      val j = li.join(pt, li("l_partkey") === pt("p_partkey"))
        .select(col("l_orderkey"), col("p_name"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(2000)}")
    }
  }

  test("text_decontaminate probes a broadcast test-gram set — train " +
    "grams never enter an exchange") {
    // the 100x rehearsal measured the shuffle formulation of this join
    // at 38x cost on 10x data (~1G exploded gram rows sorted+spilled);
    // the fix — broadcast(testGrams) probed map-side — only holds as
    // long as no edit reintroduces an Exchange on the train-gram side.
    // AQE off so the physical tree is inspectable pre-execution.
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    aqeOff {
      val df = Queries.all.find(_.name == "text_decontaminate").get
        .run(spark, dir)
      val plan = df.queryExecution.executedPlan
      val bhj = plan.collectFirst {
        case j: BroadcastHashJoinExec if j.joinType == LeftSemi => j }
      assert(bhj.nonEmpty,
        s"decontamination lost its broadcast semi-join:\n$plan")
      val streamed = bhj.get.left // build side is the broadcast right
      assert(streamed.collectFirst { case g: GenerateExec => g }.nonEmpty,
        s"train-gram explode not on the streamed side:\n$streamed")
      assert(streamed.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"an Exchange crept above the train-gram Generate:\n$streamed")
    }
  }

  test("decontaminate_semantic broadcasts the TEST side — corpus " +
    "vectors never enter a nested-loop shuffle") {
    // the semantic twin of the text_decontaminate guardrail: the test
    // set is the broadcast build side of a BroadcastNestedLoopJoin and
    // the only Exchange in the plan is the corpus-sized
    // (vec_id, partial-max) aggregate — a plan where the corpus side
    // cartesians or shuffles whole vectors is the 100 TB killer this
    // pins out. AQE off so the physical tree is inspectable.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    aqeOff {
      val df = Queries.all.find(_.name == "decontaminate_semantic").get
        .run(spark, dir)
      val plan = df.queryExecution.executedPlan
      val bnlj = plan.collectFirst {
        case j: BroadcastNestedLoopJoinExec => j }
      assert(bnlj.nonEmpty,
        s"semantic decontamination lost its broadcast join:\n$plan")
      assert(!plan.toString.contains("CartesianProduct"),
        s"corpus side grew a CartesianProduct:\n$plan")
      // below the join: no shuffle at all (corpus streams map-side)
      Seq(bnlj.get.left, bnlj.get.right).foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"an Exchange crept below the broadcast join:\n$side")
      }
    }
  }

  test("bucketed_join: join AND aggregate run with ZERO Exchange") {
    // the amortize-the-shuffle-once claim (SCALE.md): both tables are
    // pre-bucketed on the join key, so the sort-merge join needs no
    // shuffle and the per-key aggregate inherits the clustering.
    // bucketedJoinFrame plans with broadcast disabled and the plan
    // pinned inside that scope — the shape asserted here is the one a
    // 100 TB big-big join would run.
    val df = QueriesCore.bucketedJoinFrame(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed join/aggregate grew an Exchange:\n$plan")
    assert(plan.contains("SortMergeJoin"),
      s"bucketed join lost its sort-merge shape:\n$plan")
    assert(df.count() > 0)
  }

  test("chunk_documents is a pure scan-side map — the ONLY shuffle " +
    "is the determinism orderBy") {
    // the chunking claim: tokenize → sequence → explode → slice is a
    // narrow per-row transform; at 100 TB it runs as a map over the
    // scan with no data movement. AQE off so exchanges are countable.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    aqeOff {
      val df = Queries.all.find(_.name == "chunk_documents").get
        .run(spark, dir)
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(shuffles.length == 1,
        s"chunking grew a shuffle beyond the contract orderBy:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("stratified_sample joins the rate table broadcast — zero " +
    "shuffles before the contract orderBy") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    aqeOff {
      val df = Queries.all.find(_.name == "stratified_sample").get
        .run(spark, dir)
      val plan = df.queryExecution.executedPlan
      assert(plan.collectFirst {
        case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"rate table lost its broadcast:\n$plan")
      assert(plan.collect {
        case e: ShuffleExchangeExec => e }.length == 1,
        s"sampling shuffled data before the contract orderBy:\n$plan")
    }
  }

  test("session_paths reuses ONE user shuffle for window + aggregate") {
    // hash(user_id) satisfies ClusteredDistribution(user_id,
    // session_id), so the path aggregate inherits the window's
    // partitioning — rows shuffle once, plus the contract orderBy.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    aqeOff {
      val df = Queries.all.find(_.name == "session_paths").get
        .run(spark, dir)
      val shuffles = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }
      assert(shuffles.length <= 2,
        s"session paths re-shuffled between window and aggregate:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("fuzzy_match_blocked hashes on the blocking key — levenshtein " +
    "never drives a nested-loop join") {
    val df = Queries.all.find(_.name == "fuzzy_match_blocked").get
      .run(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocked fuzzy match degenerated to a non-equi join:\n$plan")
  }

  test("winsorize_clip broadcasts the fence table back onto the fact") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    aqeOff {
      val df = Queries.all.find(_.name == "winsorize_clip").get
        .run(spark, dir)
      assert(df.queryExecution.executedPlan.collectFirst {
        case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"fence table lost its broadcast:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("text_bm25 probes a BROADCAST query-term table — corpus tokens " +
    "never shuffle for the semi join") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    aqeOff {
      val df = Queries.all.find(_.name == "text_bm25").get.run(spark, dir)
      val bhj = df.queryExecution.executedPlan.collect {
        case j: BroadcastHashJoinExec => j }
      // the deepest broadcast join keys on `term`: the literal query
      // table is the build side, so the exploded corpus drops to
      // matched rows before ANY exchange
      assert(bhj.exists(_.leftKeys.exists(_.toString.contains("term"))),
        s"query-term probe lost its broadcast:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("anomaly_mad broadcasts both percentile tables back onto the " +
    "fact — the value stream never joins shuffle-side") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    aqeOff {
      val df = Queries.all.find(_.name == "anomaly_mad").get.run(spark, dir)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j }
        .length >= 2, s"median/MAD table lost its broadcast:\n$plan")
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"a per-type stats table grew a sort-merge join:\n$plan")
    }
  }

  test("event_cooccurrence pair enumeration is an equi join — the only " +
    "nested loop is the 1-row totals compose") {
    val df = Queries.all.find(_.name == "event_cooccurrence").get
      .run(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"pair join degenerated to a cartesian product:\n$plan")
    assert(plan.sliding("BroadcastNestedLoopJoin".length)
      .count(_ == "BroadcastNestedLoopJoin") <= 1,
      s"a second nested-loop join appeared beyond the totals compose:\n$plan")
  }

  test("the flagship aggregation runs inside WholeStageCodegen") {
    // an unexecuted ADAPTIVE plan reports 0 codegen subtrees (stages
    // are compiled lazily) — plan the probe with AQE off to see the
    // codegen structure the stages will actually run with
    aqeOff {
      val df = Queries.all.find(_.name == "fact_engagement").get
        .run(spark, dir)
      val codegen = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(codegen.contains("WholeStageCodegen subtrees"))
      assert(!codegen.startsWith("Found 0 WholeStageCodegen"),
        codegen.take(200))
    }
  }

  test("sample_weighted samples scan-side: no Exchange below the filter, " +
    "total-weight compose is a 1-row broadcast") {
    val df = Queries.all.find(_.name == "sample_weighted").get
      .run(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the only joins are the 1-row total-weight compose (nested-loop
    // against a 1-row aggregate) — membership itself never shuffles
    assert(!plan.contains("SortMergeJoin"),
      s"sampling grew a shuffle join:\n$plan")
    // exchanges: the 1-row aggregate's own (trivial) + the final sort —
    // none may carry the documents relation pre-filter
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 0,
      s"sample membership hash-shuffled the corpus:\n$plan")
  }

  test("bpe_pair_counts is one partial-aggregated shuffle + TakeOrdered") {
    val df = Queries.all.find(_.name == "bpe_pair_counts").get
      .run(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 lost its TakeOrderedAndProject:\n$plan")
    // exactly one hash exchange: the (pair, partial count) combine
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"pair counting should shuffle once (partial counts), saw $exchanges:\n$plan")
    // partial_count before the exchange = map-side combine engaged
    assert(plan.contains("partial_count"), s"no map-side combine:\n$plan")
  }

  test("mv_incremental_daily: the refresh merge shuffles partials, and " +
    "the stored view is read from parquet (not recomputed)") {
    val df = Queries.all.find(_.name == "mv_incremental_daily").get
      .run(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the stored-state scan is a plain parquet relation scan of the
    // temp view dir — proof the merged result builds on persisted
    // partials rather than silently re-aggregating the base slice
    assert(plan.contains("graft_mv_daily"),
      s"stored MV state not read from its parquet dir:\n${plan.take(1500)}")
  }
}
