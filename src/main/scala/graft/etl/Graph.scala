package graft.etl

import graft.Scratch.ScratchOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — the power-iteration
  * sibling of the label-propagation connected components in
  * [[graft.llmops.Dedup]].
  *
  * Arithmetic is INTEGER-QUANTIZED (ranks in 1e-6 units, every
  * divide a BIGINT floor-div) for the same reason the embedding
  * queries quantize dot products: integer sums are
  * shuffle-order-independent and bit-identical across engines, so a
  * fixed-iteration run hash-matches a recursive-CTE oracle exactly —
  * no float summation-order noise, no rounding-boundary flips. */
object Graph {

  /** [[appendEdges]] skips its batch-src-range probe job when the
    * artifact snapshot has at most this many files: manifest-side
    * pruning saves IO proportional to files DROPPED, and under ~16
    * files the whole-artifact scan costs less than the extra Spark
    * job that computes the probe's [lo, hi] (measured at sf0.1:
    * probe + readPruned added ~0.3 s/fold against a 10-file
    * artifact). At deployment scale an edge artifact is thousands of
    * files and the probe always engages. */
  private val ProbeSkipMaxFiles = 16

  /** Weighted PageRank, `iterations` rounds of power iteration over an
    * integer-weighted edge list.
    *
    * Semantics (all BIGINT, ranks in micro-units):
    *   rank_0(n)   = 1_000_000 for every node
    *   contrib(s→d) = (rank_t(s) * w(s,d)) div outw(s)
    *   rank_{t+1}(d) = 150_000 + (85 * Σ contrib(·→d)) div 100
    * Dangling nodes (no out-edges) leak their mass — the classic
    * simplification; nodes with no in-edges settle at the teleport
    * floor 150_000.
    *
    * Scale shape: `edges` is aggregated ONCE by the caller (the only
    * data-sized shuffle); each round is one equi-join of the rank
    * vector against edges partitioned by `src` plus a groupBy on
    * `dst` — partial aggregation combines map-side, so the per-round
    * exchange carries one row per (dst, partition), not per edge. The
    * rank vector is `localCheckpoint`ed every round: without it the
    * loop's lineage doubles per iteration and re-executes from the
    * scan (the 410 s → 2 s lesson SCALE.md records for the CC loop).
    *
    * @param edges (src, dst, w) BIGINT edge weights, pre-aggregated
    * @param nodes single-column frame of every node id (isolated
    *              nodes included — they hold the teleport floor)
    * @return (node, rank_micro) one row per node
    */
  def weightedPageRank(edges: DataFrame, nodes: DataFrame,
                       iterations: Int = 5): DataFrame = {
    val nodeCol = nodes.columns.head
    val outw = edges.groupBy("src").agg(sum("w").as("outw"))
    val e = edges.join(outw, "src")
      .select(col("src"), col("dst"), col("w"), col("outw"))
      .scratchCheckpoint(eager = false)
    var ranks = nodes.select(col(nodeCol).as("node"),
      lit(1000000L).as("rank_micro"))
    for (_ <- 1 to iterations) {
      val inflow = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("(rank_micro * w) div outw").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      ranks = nodes
        .select(col(nodeCol).as("node"))
        .join(inflow.withColumnRenamed("dst", "node"), Seq("node"),
          "left")
        .select(col("node"),
          (lit(150000L) +
            expr("85 * coalesce(inflow, 0L) div 100").cast("long"))
            .as("rank_micro"))
        .scratchCheckpoint(eager = false)
    }
    ranks
  }

  /** PERSONALIZED PageRank (Jeh & Widom 2003's topic-sensitive
    * variant): identical recurrence to [[weightedPageRank]] except the
    * teleport mass lands ONLY on a seed set, so rank measures
    * proximity to the seeds rather than global centrality — the
    * graph-recommendation primitive ("rank everything from these
    * nodes' point of view").
    *
    * Semantics (BIGINT micro-units):
    *   rank_0(n)    = 150_000·[n ∈ seeds]
    *   rank_{t+1}(n) = 150_000·[n ∈ seeds]
    *                   + (85 · Σ contrib(·→n)) div 100
    * Non-seed nodes with no path from the seeds stay at exactly 0 —
    * the property that distinguishes PPR from the global walk, and an
    * exact integer invariant here (no float epsilon to threshold).
    *
    * Scale shape is [[weightedPageRank]]'s: the seed flag is folded
    * into the node vector once (one broadcast-able join), then each
    * round is one edge equi-join + map-side-combined groupBy.
    *
    * @param seeds single-column frame of seed node ids
    * @param onCheckpoint called with every intermediate checkpoint
    *              INCLUDING the returned frame — release after the
    *              materializing action (the [[hits]] contract) */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame,
                           seeds: DataFrame, iterations: Int = 5,
                           onCheckpoint: DataFrame => Unit = _ => ())
  : DataFrame = {
    val nodeCol = nodes.columns.head
    val outw = edges.groupBy("src").agg(sum("w").as("outw"))
    val e = edges.join(outw, "src")
      .select(col("src"), col("dst"), col("w"), col("outw"))
      .scratchCheckpoint(eager = false)
    onCheckpoint(e)
    val seedSet = seeds.select(col(seeds.columns.head).as("node"))
      .distinct().withColumn("is_seed", lit(1L))
    val nodesSeeded = nodes.select(col(nodeCol).as("node"))
      .join(seedSet, Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L))
        .as("is_seed"))
      .scratchCheckpoint(eager = false)
    onCheckpoint(nodesSeeded)
    var ranks = nodesSeeded.select(col("node"),
      (col("is_seed") * lit(150000L)).as("rank_micro"))
    for (_ <- 1 to iterations) {
      val inflow = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("(rank_micro * w) div outw").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("inflow"))
      ranks = nodesSeeded
        .join(inflow.withColumnRenamed("dst", "node"), Seq("node"),
          "left")
        .select(col("node"),
          (col("is_seed") * lit(150000L) +
            expr("85 * coalesce(inflow, 0L) div 100").cast("long"))
            .as("rank_micro"))
        .scratchCheckpoint(eager = false)
      onCheckpoint(ranks)
    }
    ranks
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over an
    * integer-weighted directed edge list, fixed `iterations` rounds,
    * max-normalized each half-step.
    *
    * Semantics (all BIGINT, scores in micro-units, hub_0 = 1_000_000):
    *   araw(d)  = Σ_{s→d} (hub(s)  * w(s,d)) div outw(s)
    *   auth(d)  = araw(d) * 1_000_000 div max_d araw
    *   hraw(s)  = Σ_{s→d} (auth(d) * w(s,d)) div inw(d)
    *   hub(s)   = hraw(s) * 1_000_000 div max_s hraw
    * The degree-normalized contributions replace the classic
    * unnormalized sums for the same reason [[weightedPageRank]] uses
    * them: they bound every raw score by n_nodes × 1e6 BEFORE the
    * ×1e6 normalization multiply, so the arithmetic stays inside
    * BIGINT up to ~9e6 nodes however heavy the edge weights are (the
    * unnormalized recurrence overflows once Σw × 1e12 passes 2^63).
    * Max-normalization (not L2) keeps the recurrence integer-exact,
    * so a fixed-round run hash-matches a recursive-CTE oracle.
    *
    * Scale shape = [[weightedPageRank]]'s: the degree tables are
    * folded into the edge checkpoint once; each half-step is one
    * equi-join of a node-sized score vector against edges plus a
    * map-side-combined groupBy, and the max is a 1-row aggregate
    * broadcast back onto the node-sized vector (a partial-agg tree —
    * NEVER a single-partition window, which would serialize a
    * billion-node vector through one task). No per-round action: the
    * whole ladder is lazy localCheckpoints materialized by the
    * caller's one action.
    *
    * @param edges (src, dst, w) BIGINT edge weights, pre-aggregated
    *              (parallel edges collapsed by the caller)
    * @param nodes single-column frame of every node id
    * @param onCheckpoint called with every intermediate checkpoint
    *              INCLUDING the returned hubs/auths frames — after
    *              materializing the result, release them all via
    *              [[org.apache.spark.sql.graft.CheckpointBridge]]
    * @return (node, hub_micro, auth_micro) one row per node
    */
  def hits(edges: DataFrame, nodes: DataFrame, iterations: Int = 4,
           onCheckpoint: DataFrame => Unit = _ => ()): DataFrame = {
    val nodeCol = nodes.columns.head
    val outw = edges.groupBy("src").agg(sum("w").as("outw"))
    val inw = edges.groupBy("dst").agg(sum("w").as("inw"))
    val e = edges.join(outw, "src").join(inw, "dst")
      .select(col("src"), col("dst"), col("w"), col("outw"), col("inw"))
      .scratchCheckpoint(eager = false)
    onCheckpoint(e)
    val nodesOnly = nodes.select(col(nodeCol).as("node"))
    var hubs = nodesOnly.select(col("node"),
      lit(1000000L).as("hub_micro"))
    var auths = nodesOnly.select(col("node"), lit(0L).as("auth_micro"))
    for (_ <- 1 to iterations) {
      // hub → authority half-step
      val araw = e.join(hubs.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          expr("(hub_micro * w) div outw").as("contrib"))
        .groupBy("dst").agg(sum("contrib").as("raw"))
      // Checkpointed because it feeds BOTH the 1-row max aggregate and
      // the normalized projection — the lazy checkpoint makes the one
      // materializing job compute the join once, not per branch.
      val arawAll = nodesOnly
        .join(araw.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
        .scratchCheckpoint(eager = false)
      onCheckpoint(arawAll)
      val amax = arawAll.agg(greatest(max("raw"), lit(1L)).as("mx"))
      auths = arawAll.crossJoin(broadcast(amax))
        .select(col("node"),
          expr("raw * 1000000 div mx").as("auth_micro"))
        .scratchCheckpoint(eager = false)
      onCheckpoint(auths)
      // authority → hub half-step
      val hraw = e.join(auths.withColumnRenamed("node", "dst"), "dst")
        .select(col("src"),
          expr("(auth_micro * w) div inw").as("contrib"))
        .groupBy("src").agg(sum("contrib").as("raw"))
      val hrawAll = nodesOnly
        .join(hraw.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
        .scratchCheckpoint(eager = false)
      onCheckpoint(hrawAll)
      val hmax = hrawAll.agg(greatest(max("raw"), lit(1L)).as("mx"))
      hubs = hrawAll.crossJoin(broadcast(hmax))
        .select(col("node"),
          expr("raw * 1000000 div mx").as("hub_micro"))
        .scratchCheckpoint(eager = false)
      onCheckpoint(hubs)
    }
    hubs.join(auths, "node")
  }

  /** k-core DECOMPOSITION (per-node coreness) via the distributed
    * h-index iteration (Montresor, De Pellegrini & Miorandi 2011,
    * "Distributed k-Core Decomposition"):
    *   c_0(v)     = deg(v)            (distinct neighbors)
    *   c_{t+1}(v) = H({c_t(u) : u ∈ N(v)})
    * where H is the h-index — the largest h such that at least h
    * neighbors currently score ≥ h. The sequence is monotone
    * non-increasing and converges to the exact coreness; a FIXED
    * round budget is the contract here (the [[labelPropagation]]
    * discipline) so a run hash-matches an oracle replaying the same
    * budget — callers pick `iterations` ≥ the graph's convergence
    * round (small: it tracks the effective diameter, not n).
    *
    * All-integer (degrees and h-indexes are exact BIGINTs), so the
    * recurrence is bit-identical across engines with no quantization
    * step at all.
    *
    * Scale shape: one distinct-collapse of the symmetrized edge list
    * up front (the only data-sized shuffle), then per round one
    * equi-join of the node-sized score vector against edges followed
    * by the COUNT-HISTOGRAM form of H: a map-side-combined groupBy
    * (node, score) collapses the neighbor multiset to per-node
    * distinct-score counts BEFORE anything sorts, then a per-node
    * window over that histogram (descending score, cumulative count =
    * "# neighbors scoring ≥ v") reduces by max(least(score, cum)).
    * Scores are h-indexes bounded by degree and contract
    * monotonically, so the histogram is small relative to the
    * neighbor list (here ~30 distinct values over 5000-neighbor
    * suppliers) and a celebrity hub's window partition is its
    * DISTINCT-SCORE count, not its degree. Measured trade at sf0.1:
    * ~6% slower than a raw row_number window (5.7 → 6.1 s — the
    * histogram groupBy adds an exchange) bought for hub immunity and
    * histogram-sized shuffles; a typed map-buffer Aggregator was also
    * measured (7.5 s) and rejected — the object-hash path loses
    * whole-stage codegen. The crossover is PINNED, not asserted
    * (`graft.Microbench kcore`, hub-heavy fixture, 30 distinct
    * scores, 2M background rows, local[8]): the window's edge holds
    * only up to hub degree ~3×10⁵ (≤20% there), the histogram wins
    * from 5×10⁵ up and the gap grows with the hub — 1.6× at 10⁶,
    * 5.6× at 8×10⁶ (2.4 s vs 13.5 s), because the window sorts a
    * celebrity's whole neighbor list in ONE task while the
    * histogram's per-node state stays distinct-score-sized. Any graph
    * that can contain a top-degree node past ~10⁵ — every social or
    * web-shaped corpus at 100 TB — is on the histogram's side of the
    * line. No per-round action: lazy localCheckpoints
    * materialized by the caller's one action, released via
    * `onCheckpoint`.
    *
    * @param edges (src, dst) directed pairs; symmetrized, self-loops
    *              dropped and parallel edges collapsed here
    * @param onCheckpoint called with every intermediate checkpoint
    *              INCLUDING the returned frame — release after the
    *              materializing action
    * @return (node, core) one row per non-isolated node
    */
  def coreness(edges: DataFrame, iterations: Int,
               onCheckpoint: DataFrame => Unit = _ => ()): DataFrame = {
    val und = symmetrize(edges).scratchCheckpoint(eager = false)
    onCheckpoint(und)
    corenessOfUndirected(und, iterations, onCheckpoint)
  }

  /** The canonical undirected edge set of a directed pair list:
    * long-cast, both directions, self-loops dropped, parallel edges
    * collapsed. This distinct-collapse is the ONLY data-sized shuffle
    * of the whole undirected-graph family (coreness, assortativity,
    * traversals) — which is exactly why a 100 TB engine materializes
    * its output ONCE as a committed artifact ([[commitEdges]]) instead
    * of re-collapsing the fact table per kernel run. */
  def symmetrize(edges: DataFrame): DataFrame = {
    val fwd = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // Collapse on the CANONICAL (min, max) form and mirror AFTER the
    // distinct: the collapse is this family's one data-sized shuffle
    // (guide §2.3 — shuffle fewer bytes), and mirroring first would
    // double both the exchange and the aggregate's input (the previous
    // shape: union both directions, then distinct over 2N rows). The
    // canonical distinct shuffles the N input rows once and the
    // explode emits both directions narrowly from the E collapsed
    // rows — the output SET is identical (same self-loop drop, same
    // parallel-edge collapse, both directions of every edge).
    val canon = fwd.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .distinct()
    canon
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** The h-index rounds of [[coreness]] over an ALREADY symmetrized
    * and collapsed edge set — the SERVE half of the build/serve
    * split: when `und` comes from a committed edge artifact
    * ([[edgesFromManifest]]), no data-sized shuffle happens here at
    * all; every round joins a node-sized score vector against the
    * artifact's files. `und` is used once per round — callers that
    * pass a computed frame (not a storage-backed read) should
    * checkpoint it first, as [[coreness]] does. */
  def corenessOfUndirected(und: DataFrame, iterations: Int,
                           onCheckpoint: DataFrame => Unit = _ => ())
  : DataFrame = {
    var c = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("c"))
      .scratchCheckpoint(eager = false)
    onCheckpoint(c)
    for (_ <- 1 to iterations) {
      c = hIndexRound(und, c).scratchCheckpoint(eager = false)
      onCheckpoint(c)
    }
    c
  }

  /** ONE h-index contraction step: c'(v) = H({c(u) : u ∈ N(v)}) in
    * the COUNT-HISTOGRAM form (see [[coreness]]'s scaladoc for the
    * hub-immunity argument). Factored out so the convergence
    * CERTIFICATE can replay a single extra round over the final
    * scores: the sequence is monotone non-increasing with fixed
    * point = exact coreness, so c_{t+1} == c_t proves the budget
    * sufficed — the gate that turns "budget-matched" into
    * "certified-exact". */
  private[graft] def hIndexRound(und: DataFrame, c: DataFrame)
  : DataFrame = {
    // Join strategy is pinned EXPLICITLY (guide §3.1): the score
    // vector is node-sized and the edge set is the big side, but both
    // sit behind lineage cuts whose stats the planner misreads — left
    // to estimates it built the EDGE side as a BroadcastExchange, a
    // ~99 MB (deserialized, sf0.1) driver collect rebuilt EVERY
    // round, with the probe serialized on the score vector's single
    // coalesced partition (profiled: ~0.6 s/round of the kcore wall).
    // Broadcasting the SCORE side instead moves only |V|-bounded
    // bytes per round and probes the edges in place, in parallel,
    // with map-side partial aggregation — no edge bytes move after
    // the initial collapse. Deployment bound: a broadcast relation
    // caps at 8 GB / 512M rows, i.e. ~10^8 nodes; past that set
    // spark.graft.graph.roundJoin=shuffle_hash to shuffle the edges
    // by join key each round instead (still no driver collect, no
    // per-round sort at any scale); the fully staged edge layout that
    // would avoid even that is mapped in OPTIMIZATION_r18.md (wave 2).
    val scores = c.withColumnRenamed("node", "dst")
    val scoreSide = und.sparkSession.conf
      .getOption("spark.graft.graph.roundJoin").getOrElse("broadcast") match {
      case "shuffle_hash" => scores.hint("SHUFFLE_HASH")
      case _              => broadcast(scores)
    }
    val hist = und.join(scoreSide, "dst")
      .groupBy(col("src"), col("c").as("cv"))
      .agg(count(lit(1)).as("k"))
    // cum over DISTINCT (src, cv) rows: the descending-score order
    // is total within a node, so the running count is deterministic
    // and equals "# neighbors scoring ≥ cv".
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cv").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    hist.withColumn("cum", sum(col("k")).over(w))
      .groupBy(col("src").as("node"))
      .agg(max(least(col("cv"), col("cum"))).as("c"))
  }

  /** INCREMENTAL k-core maintenance for a CDC batch — insertions,
    * deletions ([[removeEdges]]), or a MIX — closing the last
    * rebuild-shaped gap in the graph family (round-15 verdict item 5;
    * deletion support round-16 item 3): the edge artifact already
    * updates incrementally, but coreness recomputed from scratch per
    * build, paying the full degree-init contraction (budget rounds ×
    * job latency) for a batch that moved a handful of scores.
    *
    * Seed + clamped re-convergence, exact by two lemmas over the
    * h-index operator T(c)(v) = H({c(u) : u ∈ N(v)}):
    *
    *  - SEED is a sound upper bound on the new coreness:
    *    c₀(v) = min(deg_new(v), core_old(v) + B), B = undirected
    *    edges actually INSERTED (deletions contribute NOTHING to B).
    *    Coreness never exceeds degree; one edge insertion raises any
    *    node's coreness by at most 1 (Sarıyüce et al. 2013), so B
    *    insertions raise it by at most B; and edge DELETION is
    *    monotone — removing an edge never raises any coreness (every
    *    k-core of the smaller graph is a subgraph of the larger
    *    graph's k-core) — so ordering the batch deletions-first,
    *    c_new ≤ c_afterDel + B ≤ c_old + B, and the deg_new clamp
    *    absorbs the rest. New nodes (core_old = 0) are covered
    *    because all their edges are new, hence deg ≤ B. Deleted
    *    nodes (no remaining edges) leave the node set with the
    *    degree groupBy, matching the full recompute's domain.
    *  - UPPER BOUNDS ARE INVARIANT: T is monotone (H is monotone in
    *    every argument) and the true coreness c* is a fixed point of
    *    T (Lü et al. 2016), so c ≥ c* pointwise implies
    *    min(c, T(c)) ≥ min(c*, T(c*)) = c* — every clamped round
    *    stays above c*.
    *  - TERMINATION IS EXACTNESS: when a clamped round changes
    *    nothing, T(c) ≥ c pointwise; then for any k the set
    *    S_k = {v : c(v) ≥ k} has induced min-degree ≥ k (v has ≥
    *    c(v) ≥ k neighbors scoring ≥ c(v) ≥ k), so S_k sits inside
    *    the k-core and c ≤ c* pointwise. With the invariant, c = c*.
    *
    * The iteration is FRONTIER-RESTRICTED after the first round:
    * round 1 recomputes every node (establishing c ≤ T(c_prev)
    * everywhere), then each round recomputes only nodes with a
    * neighbor whose score changed last round — any other node's
    * stored score is stale-valid (its inputs did not move), the
    * standard chaotic-iteration argument. Cost therefore tracks the
    * BATCH: for insertions, round count is bounded by how far the
    * seed sits above the fixed point (≤ B + the contraction the
    * deg-clamp already did, instead of the full degree→core descent),
    * and per-round shuffles after round 1 carry the changed
    * frontier's neighborhoods, not the graph. A batch that changes
    * nothing converges in exactly one confirming round. DELETIONS
    * descend at one frontier hop per round, so their round count is
    * the CASCADE DEPTH, not the batch size — usually shallow (a
    * retraction's effect is absorbed where surplus degree exists),
    * but adversarially long (deleting one edge of a 2k-core cycle
    * re-descends the whole ring): `maxRounds` is the honest budget
    * guard for that regime, and a caller hitting it should rebuild
    * via [[corenessOfUndirected]] rather than raise the budget
    * blindly — past the cascade-depth crossover the full kernel is
    * the cheaper exact path (the same crossover honesty as the
    * bulk-batch regime below).
    *
    * Throws if `maxRounds` is exhausted before the fixed point — an
    * unconverged result is an upper bound, not coreness, and callers
    * certifying served artifacts must get a red row, not a silently
    * loose one (the graph_kcore_gate contract).
    *
    * @param und       post-batch symmetrized collapsed edges
    *                  (typically [[edgesFromManifest]] after
    *                  [[appendEdges]] / [[removeEdges]] commits)
    * @param oldScores (node, c) committed coreness of the pre-batch
    *                  graph
    * @param batchEdges number of UNDIRECTED edges the batch actually
    *                  INSERTED (appended artifact rows / 2 — e.g.
    *                  count of [[graft.sources.ManifestTable.readAppendsSince]]).
    *                  Deletions are NOT counted: they never raise
    *                  coreness, so they need no seed allowance —
    *                  a pure-deletion batch passes 0.
    * @return (node, c) exact coreness of the post-batch graph
    */
  def incrementalCoreness(und: DataFrame, oldScores: DataFrame,
                          batchEdges: Long, maxRounds: Int = 32,
                          onCheckpoint: DataFrame => Unit = _ => ())
  : DataFrame = {
    val deg = und.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    var c = deg
      .join(oldScores.select(col("node"), col("c").as("c_old")),
        Seq("node"), "left")
      .select(col("node"),
        least(col("deg"),
          coalesce(col("c_old"), lit(0L)) + lit(batchEdges)).as("c"))
      .scratchCheckpoint(eager = false)
    onCheckpoint(c)
    // node count for the wide-frontier shortcut below — one
    // node-sized job, also forces the seed checkpoint so the first
    // round's plan starts from the cut
    val nNodes = c.count()
    var frontier: Option[DataFrame] = None // None = recompute all
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // frontier-restricted edge set: a candidate keeps ALL its
      // neighbor rows (H needs the full neighborhood), non-candidates
      // contribute none and keep their stale-valid stored score
      val scope = frontier match {
        case None => und
        case Some(f) =>
          val cand = und
            .join(f.withColumnRenamed("node", "dst"), Seq("dst"),
              "left_semi")
            .select(col("src")).distinct()
          und.join(cand, Seq("src"), "left_semi")
      }
      val step = c
        .join(hIndexRound(scope, c).withColumnRenamed("c", "h"),
          Seq("node"), "left")
        .select(col("node"), col("c").as("c_prev"),
          least(col("c"), coalesce(col("h"), col("c"))).as("c"))
        .scratchCheckpoint(eager = false)
      onCheckpoint(step)
      // the convergence-signal count is the round's one materializing
      // action (the connectedComponents discipline)
      val changed = step.filter(col("c") =!= col("c_prev"))
        .select(col("node"))
      val nChanged = changed.count()
      c = step.select(col("node"), col("c"))
      if (nChanged == 0) converged = true
      // wide-frontier shortcut: when more than 1/8 of nodes changed,
      // the candidates' neighborhoods cover ~the whole edge set and
      // the two semi-joins cost more than they prune — recompute all
      else frontier =
        if (nChanged * 8 > nNodes) None else Some(changed)
      round += 1
    }
    require(converged,
      s"incremental coreness not converged within $maxRounds rounds " +
        "— raise maxRounds (result would be an upper bound, not " +
        "coreness)")
    c
  }

  /** BUILD/COMMIT the symmetrized edge set as a versioned
    * [[graft.sources.ManifestTable]] artifact — the graph family's
    * instance of the PQ-index build/serve split
    * ([[graft.llmops.Similarity.commitPqIndex]]). At 100 TB an engine
    * maintains the graph as a committed table, because the
    * fact→edge-list collapse is the dominating cost of EVERY kernel
    * run (SCALE.md's 100× rehearsals: hits 35.96 s, ppr 16.87 s —
    * almost entirely the edge aggregation) and it is identical across
    * kernels: build once per corpus version, then coreness /
    * assortativity / traversals serve from the pinned snapshot with
    * kernel cost decoupled from fact size. The rewrite
    * range-clusters by `src` with footer stats recorded in the
    * manifest, so a seeded kernel (PPR, BFS from a key range) can
    * file-skip manifest-side and each round's scan is
    * row-group-friendly. Returns the committed version; rebuilds land
    * as head+1 while pinned readers keep serving their own snapshot
    * (the [[graft.sources.ManifestTable.commitOverwrite]] contract).
    */
  def commitEdges(spark: org.apache.spark.sql.SparkSession,
                  table: String, edges: DataFrame,
                  targetFiles: Int = 8): Long = {
    import graft.Scratch.ScratchOps
    // Cut lineage between the collapse and the clustered write:
    // repartitionByRange SAMPLES its child in a separate pass to pick
    // range bounds, so a lazy collapse would run the fact-sized
    // distinct TWICE per build (sample + write) — the round-14 1000x
    // adjudication measured the double-pay at ~2x build wall-clock.
    // Checkpointed, the sample and the write both read the dim-sized
    // collapsed edges.
    val sym = symmetrize(edges).scratchCheckpoint(eager = true)
    try graft.sources.ManifestTable.commitOverwrite(spark, table,
      sym.repartitionByRange(targetFiles, col("src"))
        .sortWithinPartitions("src"),
      statsCol = Some("src"))
    finally org.apache.spark.sql.graft.CheckpointBridge.release(sym)
  }

  /** SERVE the committed edge artifact: the pinned (or latest)
    * snapshot, columns (src, dst), already symmetrized and collapsed —
    * feed directly to [[corenessOfUndirected]] or any undirected
    * kernel. A rebuild never disturbs a pinned reader. */
  def edgesFromManifest(spark: org.apache.spark.sql.SparkSession,
                        table: String,
                        version: Option[Long] = None): DataFrame =
    graft.sources.ManifestTable.read(spark, table, version)

  /** INCREMENTAL edge-artifact maintenance — the reason the committed
    * graph stays cheap to keep current at 100 TB: a fact-growth batch
    * does NOT rebuild the collapse; its symmetrized edges anti-join
    * the CURRENT artifact (batch × artifact on 16-byte (src, dst)
    * keys — the batch side is ingest-sized, the artifact side is
    * semi-join-prunable) and only the genuinely NEW edges land as an
    * atomic [[graft.sources.ManifestTable.commitAppend]]. Appended
    * files carry their own src footer stats, so manifest-side pruning
    * keeps working across base + increments; pinned readers of older
    * versions are untouched; and the append-only version chain keeps
    * [[graft.sources.ManifestTable.readAppendsSince]] sound for
    * downstream incremental consumers of the GRAPH itself. Periodic
    * [[graft.sources.ManifestTable.compactSorted]] re-clusters when
    * increments accumulate. Returns the committed version. */
  def appendEdges(spark: org.apache.spark.sql.SparkSession,
                  table: String, newEdges: DataFrame,
                  targetFiles: Int = 2): Long = {
    import graft.Scratch.ScratchOps
    // Cut the batch collapse's lineage ONCE: without it the fold runs
    // the fact-sized distinct up to three times — the src-range probe,
    // repartitionByRange's bound-sampling pass, and the staged write
    // each re-derive a lazy symmetrize (the round-14 1000x
    // adjudication measured the un-cut fold at 2-3x this cost).
    // Checkpointed, every downstream pass reads the dim-sized edges.
    val sym = symmetrize(newEdges).scratchCheckpoint(eager = true)
    try {
      // The artifact side is src-range-clustered with footer stats
      // (commitEdges/compactSorted record them; appends carry their
      // own), so the anti-join only needs the files whose src range
      // can contain a batch src — manifest-side pruning, the
      // deleteRows pattern. A dropped file's whole src range misses
      // the batch's [min, max], so it cannot hold a matching
      // (src, dst): pruning never changes the anti-join's answer.
      // This is what keeps incremental maintenance batch-sized at
      // 100 TB — a narrow CDC batch touches a handful of artifact
      // files, not the full edge set. The probe is itself a Spark job
      // (~0.1 s of fixed launch cost per fold at small scale), so it
      // only runs when the artifact has enough files for pruning to
      // return more than the probe costs; below the threshold the
      // anti-join scans the whole (still small) artifact, which is
      // what a 10-file scan costs anyway once its footers are read.
      val artifact =
        if (graft.sources.ManifestTable.fileCount(spark, table)
              <= ProbeSkipMaxFiles)
          edgesFromManifest(spark, table)
        else {
          val range = sym.agg(min(col("src")), max(col("src"))).head()
          if (range.isNullAt(0)) // empty batch: nothing can match anyway
            edgesFromManifest(spark, table).limit(0)
          else graft.sources.ManifestTable.readPruned(spark, table,
            "src", range.getLong(0), range.getLong(1)).df
        }
      graft.sources.ManifestTable.commitAppend(spark, table,
        sym.join(artifact.select(col("src"), col("dst")),
            Seq("src", "dst"), "left_anti")
          .repartitionByRange(targetFiles, col("src"))
          .sortWithinPartitions("src"),
        statsCol = Some("src"))
    } finally org.apache.spark.sql.graft.CheckpointBridge.release(sym)
  }

  /** INCREMENTAL edge-artifact DELETION — [[appendEdges]]'s CDC
    * sibling for retractions (the `op = delete` rows a change feed
    * like [[graft.sources.ManifestCdcSource]] carries): the doomed
    * batch is symmetrized exactly like an insert batch — BOTH
    * directions of every pair land in the doomed set, so the
    * artifact's two orientation rows are deleted together and the
    * undirected invariant survives — then removed copy-on-write via
    * [[graft.sources.ManifestTable.deleteMatching]] on (src, dst)
    * with file pruning on the batch's src range: a range-local CDC
    * retraction rewrites only the artifact files whose src stats
    * overlap it (both orientations are covered because each is its
    * own row with its own src), never the full edge set. Edges not
    * present in the artifact delete to nothing (idempotent — the
    * at-least-once retraction twin of appendEdges' absorb-on-
    * redelivery). Pinned readers of older versions keep serving
    * pre-delete files until vacuum; the new version is the
    * post-deletion graph. Returns the committed version. */
  def removeEdges(spark: org.apache.spark.sql.SparkSession,
                  table: String, doomedEdges: DataFrame): Long = {
    import graft.Scratch.ScratchOps
    // one lineage cut: deleteMatching's shape pass + anti-join would
    // otherwise re-run the batch collapse per consumer (the
    // appendEdges economics)
    val sym = symmetrize(doomedEdges).scratchCheckpoint(eager = true)
    try graft.sources.ManifestTable
      .deleteMatching(spark, table, "src", sym).version
    finally org.apache.spark.sql.graft.CheckpointBridge.release(sym)
  }

  /** BUILD/COMMIT the WEIGHTED DIRECTED edge artifact — the
    * [[commitEdges]] twin for the kernels that walk a weighted graph
    * ([[hits]], [[weightedPageRank]], [[personalizedPageRank]]): the
    * caller's pre-aggregated (src, dst, w) edge list — typically the
    * output of the fact-sized groupBy that SCALE.md's 100× rehearsals
    * show dominating every kernel run (hits 35.96 s, ppr 16.87 s:
    * almost entirely this aggregation) — committed once per corpus
    * version, range-clustered by src with footer stats, so EVERY
    * downstream kernel (and every kernel RE-run: new seed sets, new
    * iteration budgets, new damping) serves from the pinned snapshot
    * and pays node-sized joins only. One build amortizes across the
    * whole kernel family — hits and ppr read the SAME artifact. */
  def commitWeightedEdges(spark: org.apache.spark.sql.SparkSession,
                          table: String, edges: DataFrame,
                          targetFiles: Int = 8): Long = {
    import graft.Scratch.ScratchOps
    // Same lineage cut as [[commitEdges]]: the caller's edge list is
    // typically a fact-sized aggregation, and repartitionByRange's
    // sampling pass would re-run it wholesale before the write does.
    val typed = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"),
        col("w").cast("long").as("w"))
      .scratchCheckpoint(eager = true)
    try graft.sources.ManifestTable.commitOverwrite(spark, table,
      typed.repartitionByRange(targetFiles, col("src"))
        .sortWithinPartitions("src"),
      statsCol = Some("src"))
    finally org.apache.spark.sql.graft.CheckpointBridge.release(typed)
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007), made DETERMINISTIC: every round each node adopts the
    * MODE of its distinct neighbors' labels with ties broken by the
    * smallest label — a total order, so the community assignment is
    * reproducible on any cluster (the async/random-order variant of
    * the paper is not). Fixed `iterations` rounds, no convergence
    * check: LPA on some graphs oscillates between 2-colorings under
    * synchronous update, so a fixed budget is the honest contract.
    *
    * Scale shape — identical to [[weightedPageRank]]'s: each round is
    * one equi-join of the (src, dst) edge list against the label table
    * plus a per-node partitioned count + row_number — shuffles keyed
    * by node id carrying (8-byte node, 8-byte label); localCheckpoint
    * barriers stop round R's plan re-deriving rounds 1..R-1.
    * `edges` columns: (id_a, id_b), treated undirected, multi-edges
    * collapsed (a neighbor votes once however many parallel edges). */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    val und = edges
      .select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .union(edges.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .distinct()
      .scratchCheckpoint(eager = false)
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    var i = 0
    while (i < iterations) {
      val votes = und
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("c").desc, col("lab"))
      labels = votes
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("lab"))
        .scratchCheckpoint(eager = false)
      i += 1
    }
    labels
  }
}
