package graft.llmops

import graft.Scratch.ScratchOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — query set broadcast against the
  * corpus, score with a codegen'd higher-order-function dot product,
  * rank per query with a window. At 100 TB the corpus side never
  * shuffles: broadcast(queries) ⋈ corpus is a map-side nested loop, and
  * the per-query top-k is a partial TakeOrdered under the window.
  *
  * Scale path: LSH bucketing (random hyperplane signs) cuts the
  * scored pair space; see [[lshTopK]]. An IVF variant (coarse
  * centroids → probe nearest cells) is [[ivfTopK]].
  */
object Similarity {

  /** Elementwise double-precision dot product of two array columns.
    * Elements are cast to double BEFORE multiplying so accumulation is
    * pure float64 left-to-right — bit-identical to any engine that does
    * the same (e.g. DuckDB's list_dot_product on FLOAT lists). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Custom Catalyst expression ([[graft.functions.CosineSim]]) — the
    * HOF formulation above is interpreted per-element and an order of
    * magnitude slower on 64-dim vectors. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.HashExprs.cosineF(a, b)

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self-match excluded). Rank ties broken by corpus
    * id so results are deterministic. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  // --- LSH (random hyperplane) ----------------------------------------

  /** LSH-bucketed approximate top-k: score only corpus vectors that
    * share a bucket with the query under at least one of `numTables`
    * independent hash tables. Recall/cost trade by numPlanes/numTables.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dim: Int, k: Int, numPlanes: Int = 8,
              numTables: Int = 4): DataFrame = {
    def buckets(df: DataFrame, idAs: String, vecAs: String) =
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        explode(array((0 until numTables).map(t => struct(
          lit(t).as("table_id"),
          // planes of table t start at offset t*numPlanes
          graft.functions.HashExprs.randomProjectionBits(col(vecCol),
            numPlanes, t * numPlanes).as("bucket"))): _*)).as("tb"))
        .select(col(idAs), col(vecAs), col("tb.table_id"),
          col("tb.bucket"))
    val qb = buckets(queries, "query_id", "qv")
    val cb = buckets(corpus, "neighbor_id", "cv")
    val cand = qb.join(cb, Seq("table_id", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "qv", "neighbor_id", "cv")
      // dedup on the id pair only: dropDuplicates hashes two longs,
      // distinct() would hash and compare the vector payloads
      .dropDuplicates("query_id", "neighbor_id")
    val scored = cand.withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  // --- IVF (inverted file / coarse quantizer) -------------------------

  /** Cut a trained model frame's lineage ONLY when there is lineage
    * to cut. After ≥1 Lloyd round, [[trainCodebook]] /
    * [[trainPqCodebooks]] return a DRIVER-LOCAL relation (the bounded
    * model state came back to the driver between rounds) — eagerly
    * checkpointing that materializes a default-parallelism RDD, and
    * every later write or broadcast of the model inherits the
    * 32-near-empty-partition layout (profiled on sim_topk_pq_served:
    * a 64-row codebook as a 32-task checkpoint + 32-file write). A
    * local relation broadcasts without a distributed job and embeds
    * at most numCells × dim doubles in the plan, so it needs no cut;
    * an already-cut LogicalRDD (the iterations = 0 path returns the
    * init checkpoint) needs no SECOND cut; anything else keeps the
    * eager checkpoint. Only a real cut is recorded in the caller's
    * [[graft.Scratch.scoped]] body, so an uncut model frees nothing. */
  private def modelCut(df: DataFrame): DataFrame =
    // optimizedPlan, not analyzed: the local model comes back as
    // Project(LocalRelation) (the toDF renames), which the optimizer
    // folds into a bare LocalRelation
    df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        df
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _ => df.scratchCheckpoint(true)
    }

  /** Lloyd-iteration k-means codebook for IVF: deterministic init (the
    * `numCells` lowest-id vectors), then `iterations` rounds of
    * assign-to-nearest (broadcast centroids) + per-cell elementwise
    * mean (posexplode → groupBy(cell, pos) → avg). Centroids come back
    * to the driver between rounds — numCells × dim doubles, the same
    * bounded model state any distributed k-means keeps. Empty cells
    * retain their previous centroid. */
  def trainCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                    numCells: Int, iterations: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = corpus.orderBy(col(idCol)).limit(numCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("centroid"))
    for (_ <- 1 to iterations) {
      val assigned = assignCells(corpus.select(col(idCol).as("vid"),
        col(vecCol).as("v")), cents, "vid", "v", 1)
      val means = assigned
        .select(col("cell_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      // typed extraction: iteration 1 reads the corpus's element type
      // (Float embeddings), later iterations read the Double centroids
      // this loop writes — Number.doubleValue covers both without the
      // schema-fragile stringly round-trip
      val prev: Map[Long, Seq[Double]] = cents.collect()
        .map(r => r.getAs[Long]("cell_id") ->
          r.getSeq[Number](1).map(_.doubleValue()).toSeq).toMap
      val updated = means.groupBy(_.getAs[Long]("cell_id")).map {
        case (cell, rows) =>
          val arr = rows.sortBy(_.getAs[Int]("pos"))
            .map(_.getAs[Double]("m")).toArray
          cell -> arr
      }
      val newCents = prev.keys.toSeq.sorted.map { cell =>
        updated.get(cell) match {
          case Some(arr) => (cell, arr.toSeq)
          case None => (cell, prev(cell)) // empty cell: centroid retained
        }
      }
      cents = newCents.toDF("cell_id", "centroid")
    }
    cents
  }

  /** Public assignment seam for INDEX MAINTENANCE: route vectors to
    * their nearest coarse cell(s) under an EXISTING codebook — the
    * append path of a running ANN index, where new batches must route
    * through the frozen quantizer (retraining would invalidate every
    * stored code/cell assignment). Returns (id, cell_id). */
  def assignToCells(df: DataFrame, cents: DataFrame, idCol: String,
                    vecCol: String, nCells: Int = 1): DataFrame =
    assignCells(df.select(col(idCol).as("id"), col(vecCol).as("v")),
      cents, "id", "v", nCells).select("id", "cell_id")

  private def assignCells(df: DataFrame, cents: DataFrame, idAs: String,
                          vecAs: String, nCells: Int): DataFrame = {
    val scored = df.select(col(idAs), col(vecAs))
      .crossJoin(broadcast(cents))
      .withColumn("cdist", cosine(col(vecAs), col("centroid")))
    val w = Window.partitionBy(col(idAs))
      .orderBy(col("cdist").desc, col("cell_id"))
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nCells)
      .select(col(idAs), col(vecAs), col("cell_id"))
  }

  /** IVF-style approximate top-k: assign every vector to its nearest
    * coarse centroid (k-means codebook, see [[trainCodebook]]), then
    * search only the query's `nProbe` nearest cells.
    * The centroid assignment is a broadcast nested-loop over numCells
    * rows; the search join is an equi-join on cell id. */
  /** `broadcastQueries` is OPT-IN for the library API: the hint is
    * right for the documented shape (a bounded query batch against a
    * large corpus — the corpus then never shuffles by cell; the
    * registry's 5-query rows all pass true), but a default-on
    * broadcast would change behavior under every existing caller's
    * feet: a near-corpus-sized probe batch that completes fine via
    * sort-merge would instead collect to the driver and can fail at
    * Spark's 8 GB broadcast-relation limit or OOM. The caller knows
    * its batch size; the library must not guess it. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, numCells: Int = 16,
              nProbe: Int = 2, kmeansIterations: Int = 1,
              broadcastQueries: Boolean = false): DataFrame = {
    val cents = trainCodebook(corpus, idCol, vecCol, numCells,
      kmeansIterations)
    val corpusCells = assignCells(corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("cv")), cents,
      "neighbor_id", "cv", 1)
    val queryCells0 = assignCells(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("qv")), cents,
      "query_id", "qv", nProbe)
    // the probe join: queries × nProbe rows against the cell-keyed
    // corpus — the hint matters for bounded batches because the probe
    // side's window-over-crossJoin lineage gives the planner no usable
    // size estimate, so it would sort-merge and shuffle the corpus by
    // cell_id instead
    val queryCells =
      if (broadcastQueries) broadcast(queryCells0) else queryCells0
    val scored = queryCells.join(corpusCells, Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "qv", "neighbor_id", "cv")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos_sim"))
  }

  /** Per-vector symmetric int8 quantization for embedding STORAGE: a
    * float32 embedding column shrinks 4× (one double scale + one byte
    * per dimension), which at 100 TB is the difference between an ANN
    * index that fits executor memory and one that doesn't. Scale =
    * max|x|/127; levels = max(-127, floor(x/scale)) ∈ [-127, 127] —
    * the clamp is load-bearing: for the max-magnitude NEGATIVE
    * component, double rounding can push |x|/scale a hair past 127,
    * where a bare floor would yield -128 and break the documented
    * range. A zero vector has no scale — its levels are null (callers
    * treat it as unindexable, as cosine against it is undefined
    * anyway).
    * Dequantization is `level * scale`; the cosine error this
    * round-trip introduces is bounded and GATED by the
    * `embedding_int8_check` oracle query. */
  def int8Quantize(vec: Column): Column = {
    // `scale` is an array_max over the vector; referencing it from the
    // per-level lambda would re-evaluate it at every element (HOFs are
    // interpreted — see ColOps.bound), making quantization O(d²) per
    // row (measured 9× on sim_topk_int8). Bind both once.
    graft.functions.ColOps.bound(transform(vec, v => v.cast("double"))) {
      xd =>
        graft.functions.ColOps.bound(
          array_max(transform(xd, v => abs(v))) / lit(127.0)) { scale =>
          struct(scale.as("scale"),
            when(scale > 0.0,
              transform(xd, v => greatest(lit(-127L), floor(v / scale))))
              .as("q"))
        }
    }
  }

  /** Reconstruct the (lossy) double vector from [[int8Quantize]]. */
  def int8Dequantize(qs: Column): Column =
    transform(qs.getField("q"), v => v * qs.getField("scale"))

  /** Embedding near-duplicate pairs: all (a < b) with cosine >= threshold.
    * Brute force O(n²) — correct baseline; [[lshNearDupPairs]] is the
    * bucketed scale path with the same verify stage. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Embedding near-dup pairs AT THE SCALE PATH: candidates are pairs
    * sharing an LSH bucket under at least one of `numTables` hyperplane
    * hash tables (equi-join on (table, bucket) — the corpus never
    * cross-joins), then every candidate is verified with the EXACT
    * cosine, so emitted pairs are never false positives; like every
    * LSH index, candidate RECALL is the probabilistic part (tuned by
    * numPlanes/numTables). The id-pair dedup runs on two longs before
    * the vectors are rejoined for scoring — the shuffle that dedups
    * candidates never carries the 256-byte arrays.
    *
    * numPlanes must SCALE WITH THE CORPUS ([[planesFor]]): bucket
    * count is 2^numPlanes per table, so a fixed plane count at a
    * growing corpus grows bucket population linearly and candidate
    * pairs QUADRATICALLY — the same n/numCells rule
    * [[semanticDedup]]'s scaladoc states for its IVF cells (the
    * round-14 1000x rehearsal measured the fixed-plane blowup: 6
    * planes at 2M vectors is 31k vectors/bucket and a ~10^11-pair
    * candidate set that spills past local disk).
    *
    * Plan shape: the cosine verify runs INSIDE the bucket self-join —
    * vectors cross one exchange at corpus x numTables cardinality and
    * candidate pairs stream through the in-task filter, so only the
    * VERIFIED pairs (true near-dups, linear in the corpus) reach the
    * output. The rejected alternative (dedup candidate id pairs
    * first, rejoin vectors to score) keeps the dedup shuffle slim but
    * pays TWO candidate-cardinality exchanges carrying the vectors —
    * at the fourth decade that is ~10^8 candidates x ~300 B = a
    * >100 GB shuffle for a ~10^5-row answer (measured: it filled
    * local disk where this shape completes).
    *
    * BUCKET-LOOP EXECUTION (round-16 rehearsal finding): real corpora
    * carry projection-DENSE cones — large vector populations agreeing
    * on most hyperplane signs without being near-dups (the 1000x
    * salted tier measured an 82k-population bucket at 20 planes; even
    * the 2k-vector base corpus holds a 174-member one — and the
    * identical-signature decomposition hypothesis was tested and
    * REJECTED: fully-identical signatures carry 0.1% of the mass, so
    * the skew is sub-threshold cone physics, not exact clusters). At
    * planesFor parameters the candidate mass is therefore far above
    * O(n) (measured 1.16e9 at the 100x tier, 7.8e10 at 1000x), and a
    * sort-merge self-join pays ~45 ns of buffered-row iteration per
    * CANDIDATE before any scoring — the measured dominant cost of the
    * whole operator (3597 s at 1000x; the slim signature/shuffle half
    * is 37 s). So candidates never pass through a join: rows hash-
    * partition once on (table, bucket), sort within partitions, and a
    * mapPartitions loop enumerates each bucket's pairs over primitive
    * arrays — the one place quadratic-within-group imperative
    * iteration genuinely beats every declarative shape. In-loop, each
    * pair is verified ONLY in the table of its first signature
    * agreement (early-exit scan of the two signature arrays), so a
    * pair colliding in k tables is scored once, not k times, and no
    * terminal dedup shuffle exists. Vectors are widened float→double
    * BEFORE the loop (exact), and the dot/norm accumulation order
    * matches [[graft.functions.CosineSim]] exactly, so the emitted
    * (pair, cosine) set is BIT-IDENTICAL to the join shape's — pinned
    * by the parity test in SimilaritySpec and by the frozen oracles.
    * Non-integral id types fall back to the join shape
    * ([[lshNearDupPairsJoin]]), which remains the semantic reference. */
  /** Plane count that holds expected LSH bucket population at
    * `targetBucketPop` for an `n`-vector corpus: ceil(log2(n/target)),
    * floored at 1. This is the knob a deployment derives from its
    * corpus count (one metadata-only count at planning time) so
    * within-bucket candidate pairs stay O(n·targetBucketPop) instead
    * of O(n²/2^planes) — the LSH twin of scaling IVF's numCells. */
  def planesFor(n: Long, targetBucketPop: Int = 32): Int =
    math.max(1, math.ceil(math.log(n.toDouble / targetBucketPop) /
      math.log(2.0)).toInt)

  /** Default population cap above which a (table, bucket) group is
    * TILED (see [[lshNearDupPairs]]'s mega-bucket paragraph): 8192
    * rows ≈ 33M in-tile pairs worst-case — small enough that one tile
    * is a sub-second task, large enough that the overwhelming majority
    * of buckets at every measured tier stay single-task (the 1000x
    * salted tier's bucket-population distribution has its mass far
    * below 8k; only the cone mega-buckets cross it). */
  private[llmops] val LshMegaBucketCap = 8192

  /** Emitted-pair contract (both execution paths):
    *  - ids must be UNIQUE and NON-NULL per row. Null-id rows are
    *    dropped (the join shape's equi/inequality predicates never
    *    match nulls; the loop path filters them identically).
    *    Duplicate ids are a caller error: each UNDERLYING ROW PAIR
    *    emits its own (id_a, id_b, cos_sim) row — duplicates therefore
    *    yield repeated id pairs (with possibly different cosines).
    *    Every in-repo caller dedups (`dropDuplicates("vec_id")`)
    *    upstream.
    *  - a pair whose cosine is undefined (zero-norm vector) or NaN
    *    (NaN vector element) is NEVER emitted: an undefined similarity
    *    is not evidence of near-duplication. (Spark SQL's `>=` would
    *    rank NaN above every threshold — the join shape filters
    *    `isnan` explicitly to pin the sane semantics.) */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, numPlanes: Int = 6,
                      numTables: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, FloatType,
      IntegerType, LongType}
    val idType = df.select(col(idCol)).schema.head.dataType
    val vecIsFloat = df.select(col(vecCol)).schema.head.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    // the loop path keeps float vectors as FLOATS end-to-end (half
    // the shuffle bytes and half the per-candidate cache traffic of a
    // double widening — the vectors are touched once per CANDIDATE,
    // not once per row), converting per element inside the loop
    // exactly as CosineSim's float path does
    (idType, vecIsFloat) match {
      case (LongType, true) =>
        lshNearDupPairsBucketLoop(df, idCol, vecCol, threshold,
          numPlanes, numTables, castIdsBackTo = None)
      case (IntegerType, true) =>
        lshNearDupPairsBucketLoop(df, idCol, vecCol, threshold,
          numPlanes, numTables, castIdsBackTo = Some(IntegerType))
      case _ =>
        lshNearDupPairsJoin(df, idCol, vecCol, threshold, numPlanes,
          numTables)
    }
  }

  /** Lazy pair enumerator over ONE loaded (table, bucket[, tile])
    * group: i<j scan over primitive arrays, in-loop first-collision
    * (pair verified only in the table of its first signature
    * agreement), exact cosine with [[graft.functions.CosineSim]]'s
    * accumulation order (float→double per element). `chunks` is null
    * for an untiled group; for an OFF-DIAGONAL tile
    * (`crossChunkOnly = true`) only cross-chunk pairs are scored —
    * the tiling decomposition's each-pair-exactly-once rule. */
  private final class LshPairEnum(
      ids: Array[Long], vs: Array[Array[Float]],
      sigs: Array[Array[Long]], chunks: Array[Int], groupTable: Int,
      threshold: Double, crossChunkOnly: Boolean)
    extends Iterator[(Long, Long, Double)] {
    private val m = ids.length
    private var i = 0
    private var j = 1
    private var pending: (Long, Long, Double) = _

    private def advance(): Unit = {
      pending = null
      while (pending == null && i < m - 1) {
        if (!(crossChunkOnly && chunks(i) == chunks(j))) {
          val si = sigs(i); val sj = sigs(j)
          var f = -1; var k = 0
          val t = math.min(si.length, sj.length)
          while (f < 0 && k < t) {
            if (si(k) == sj(k)) f = k else k += 1
          }
          if (f == groupTable && ids(i) != ids(j)) {
            val x = vs(i); val y = vs(j)
            if (x.length == y.length) {
              var dot = 0.0; var nx = 0.0; var ny = 0.0; var d = 0
              while (d < x.length) {
                // float→double per element, CosineSim's exact order
                val xd = x(d).toDouble; val yd = y(d).toDouble
                dot += xd * yd; nx += xd * xd; ny += yd * yd
                d += 1
              }
              val denom = math.sqrt(nx) * math.sqrt(ny)
              if (denom != 0.0) {
                val c = dot / denom
                // Java `>=` is false for NaN: a NaN cosine (NaN vector
                // element) is never a near-dup — the join shape's
                // !isnan filter pins the same semantics
                if (c >= threshold) {
                  pending = if (ids(i) < ids(j)) (ids(i), ids(j), c)
                            else (ids(j), ids(i), c)
                }
              }
            }
          }
        }
        j += 1
        if (j >= m) { i += 1; j = i + 1 }
      }
    }

    advance()
    override def hasNext: Boolean = pending != null
    override def next(): (Long, Long, Double) = {
      val r = pending; advance(); r
    }
  }

  /** Streams the consecutive (table_id, bucket) groups of a partition
    * sorted on those keys, capped: with `keepMega = false` it yields
    * only groups of population ≤ cap (buffering ABORTS at cap+1 rows
    * and drains the rest of the group payload-free, so heap stays
    * O(cap) regardless of bucket skew); with `keepMega = true` it
    * yields only the > cap groups, fully buffered (one mega group's
    * payload at a time — the replication pass that feeds the tiled
    * second exchange). */
  private final class LshGroupReader(
      it: scala.collection.BufferedIterator[
        (Long, Array[Float], Array[Long], Int, Long)],
      cap: Int, keepMega: Boolean)
    extends Iterator[
      (Int, Long, Array[Long], Array[Array[Float]], Array[Array[Long]])] {
    private var g:
      (Int, Long, Array[Long], Array[Array[Float]], Array[Array[Long]]) = _

    private def load(): Unit = {
      g = null
      while (g == null && it.hasNext) {
        val t0 = it.head._4; val b0 = it.head._5
        val bi = scala.collection.mutable.ArrayBuffer.empty[Long]
        val bv = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        val bs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
        var over = false
        while (it.hasNext && it.head._4 == t0 && it.head._5 == b0) {
          val r = it.next()
          if (!over || keepMega) {
            bi += r._1; bv += r._2; bs += r._3
            if (!over && bi.length > cap) {
              over = true
              if (!keepMega) { bi.clear(); bv.clear(); bs.clear() }
            }
          }
        }
        val want = if (keepMega) over else !over && bi.length > 1
        if (want) g = (t0, b0, bi.toArray, bv.toArray, bs.toArray)
      }
    }

    load()
    override def hasNext: Boolean = g != null
    override def next()
    : (Int, Long, Array[Long], Array[Array[Float]], Array[Array[Long]]) = {
      val r = g; load(); r
    }
  }

  /** The bucket-loop execution of [[lshNearDupPairs]] (integral ids).
    * One exchange (hash on (table, bucket)), one within-partition
    * sort, then per-bucket pair enumeration over primitive arrays
    * with in-loop first-collision + exact cosine. Emission is a lazy
    * iterator — a low threshold on a dense bucket streams its pairs
    * instead of materializing them.
    *
    * MEGA-BUCKET TILING (round-16 residual, closed here): a
    * cone-cluster bucket of population m is m(m−1)/2 pairs of work —
    * 3.4e9 for the 1000x tier's 82k-population bucket — and an
    * untiled loop runs it as ONE task, the measured tail-skew behind
    * ~25% core utilization at the rehearsal tiers. Buckets above
    * `megaBucketCap` are therefore decomposed IN-FLIGHT (no pre-pass
    * job): the same sorted partition is read twice off one reused
    * exchange — pass A enumerates the ≤cap buckets directly (heap
    * O(cap): buffering aborts at cap+1), pass B buffers only the
    * mega groups and REPLICATES each row into its tile row-set
    * {(i,j) : i ≤ j, i = c ∨ j = c} for chunk c = floorMod(id, K),
    * K = ⌈m/cap⌉ — K output rows per input row, K(K+1)/2 tiles per
    * bucket. A second hash exchange on (table, bucket, tile_i,
    * tile_j) then spreads the tiles across the cluster; each tile's
    * loop enumerates all pairs (diagonal) or cross-chunk pairs only
    * (off-diagonal), so every unordered pair lands in EXACTLY one
    * tile — (c,c) when both chunks agree, (min,max) otherwise — and
    * the first-collision/cosine/threshold semantics are untouched:
    * the emitted pair set is bit-identical to the untiled loop and to
    * the join shape (SimilaritySpec parity tests, both cap regimes).
    * Memory: pass A and every tile buffer O(cap) rows; only pass B's
    * replication holds one full mega-bucket payload at a time. */
  private[graft] def lshNearDupPairsBucketLoop(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numPlanes: Int, numTables: Int,
      castIdsBackTo: Option[org.apache.spark.sql.types.DataType],
      megaBucketCap: Int = LshMegaBucketCap): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sig = array((0 until numTables).map(t =>
      graft.functions.HashExprs.randomProjectionBits(col(vecCol),
        numPlanes, t * numPlanes)): _*)
    // bucket null ⇔ vector null/empty, and null ids never match the
    // join shape's predicates: the loop path filters both for parity
    // (a null id would otherwise crash the non-nullable Long decode)
    val exploded = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"), sig.as("sig"))
      .select(col("id"), col("v"), col("sig"),
        posexplode(col("sig")).as(Seq("table_id", "bucket")))
      .filter(col("id").isNotNull && col("bucket").isNotNull &&
        col("v").isNotNull)
      .repartition(col("table_id"), col("bucket"))
      .sortWithinPartitions("table_id", "bucket")
      .as[(Long, Array[Float], Array[Long], Int, Long)]
    val cap = megaBucketCap
    val thr = threshold
    // pass A: small buckets, enumerated in place (the common case —
    // zero extra exchanges). Reads the same shuffle output as pass B
    // (ReuseExchange): the duplicate cost is one linear re-scan, paid
    // only when the plan also has mega buckets to find.
    val smallPairs = exploded.mapPartitions { rows =>
      new LshGroupReader(rows.buffered, cap, keepMega = false)
        .flatMap { case (t0, _, ids, vs, sigs) =>
          new LshPairEnum(ids, vs, sigs, null, t0, thr,
            crossChunkOnly = false)
        }
    }
    // pass B: mega-bucket rows replicated into their tile row-sets.
    // K depends only on the group's population (stable across task
    // retries) and chunk only on the row's id, so the emitted row SET
    // is deterministic — shuffle-retry-safe.
    val megaRows = exploded.mapPartitions { rows =>
      new LshGroupReader(rows.buffered, cap, keepMega = true)
        .flatMap { case (t0, b0, ids, vs, sigs) =>
          val m = ids.length
          val k = (m + cap - 1) / cap
          Iterator.range(0, m).flatMap { r =>
            val c = java.lang.Math.floorMod(ids(r), k.toLong).toInt
            Iterator.range(0, k).map { o =>
              val (ti, tj) = if (o < c) (o, c) else (c, o)
              (ids(r), vs(r), sigs(r), t0, b0, ti, tj, c)
            }
          }
        }
    }.toDF("id", "v", "sig", "table_id", "bucket", "tile_i", "tile_j",
      "chunk")
    val megaPairs = megaRows
      .repartition(col("table_id"), col("bucket"), col("tile_i"),
        col("tile_j"))
      .sortWithinPartitions("table_id", "bucket", "tile_i", "tile_j")
      .as[(Long, Array[Float], Array[Long], Int, Long, Int, Int, Int)]
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator.continually(()).takeWhile(_ => it.hasNext).flatMap { _ =>
          val h = it.head
          val t0 = h._4; val b0 = h._5; val ti = h._6; val tj = h._7
          val bi = scala.collection.mutable.ArrayBuffer.empty[Long]
          val bv = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
          val bs = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
          val bc = scala.collection.mutable.ArrayBuffer.empty[Int]
          while (it.hasNext && it.head._4 == t0 && it.head._5 == b0 &&
            it.head._6 == ti && it.head._7 == tj) {
            val r = it.next()
            bi += r._1; bv += r._2; bs += r._3; bc += r._8
          }
          new LshPairEnum(bi.toArray, bv.toArray, bs.toArray,
            bc.toArray, t0, thr, crossChunkOnly = ti != tj)
        }
      }
    val pairs = smallPairs.union(megaPairs)
      .toDF("id_a", "id_b", "cos_sim")
    castIdsBackTo match {
      case Some(t) => pairs.select(col("id_a").cast(t).as("id_a"),
        col("id_b").cast(t).as("id_b"), col("cos_sim"))
      case None => pairs
    }
  }

  /** The join-shape execution of [[lshNearDupPairs]] — the semantic
    * reference (any comparable id type), and the parity baseline the
    * bucket-loop path is tested against. Pays candidate-mass row
    * iteration inside the sort-merge join; see the scaladoc above for
    * why the loop path replaces it on the hot id types. */
  private[llmops] def lshNearDupPairsJoin(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      numPlanes: Int, numTables: Int): DataFrame = {
    val sig = array((0 until numTables).map(t =>
      graft.functions.HashExprs.randomProjectionBits(col(vecCol),
        numPlanes, t * numPlanes)): _*)
    val b = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        sig.as("sig"))
      .select(col("id"), col("v"), col("sig"),
        posexplode(col("sig")).as(Seq("table_id", "bucket")))
    b.select(col("id").as("id_a"), col("v").as("va"),
        col("sig").as("sa"), col("table_id"), col("bucket"))
      .join(b.select(col("id").as("id_b"), col("v").as("vb"),
        col("sig").as("sb"), col("table_id"), col("bucket")),
        Seq("table_id", "bucket"))
      .filter(col("id_a") < col("id_b") &&
        graft.functions.HashExprs.firstEqualIndex(col("sa"), col("sb"))
          === col("table_id"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      // Spark SQL's ordering ranks NaN ABOVE every double, so a bare
      // `>=` would emit pairs whose cosine is NaN (NaN vector
      // element); the loop path's Java `>=` rejects NaN — !isnan pins
      // the shared contract (undefined similarity is not a near-dup)
      .filter(col("cos_sim") >= threshold && !isnan(col("cos_sim")))
      .select("id_a", "id_b", "cos_sim")
  }

  /** SemDeDup-style semantic deduplication (the public recipe of
    * Abbas et al. 2023, arXiv:2303.09540): cluster the embeddings with
    * the seeded IVF codebook ([[trainCodebook]] — deterministic init +
    * Lloyd rounds, broadcast-assign), then compare pairs only WITHIN a
    * cell and drop every id that has a smaller-id in-cell neighbor at
    * cosine >= threshold. The greedy min-id survivor rule makes the
    * result deterministic for a fixed corpus, and leaves survivors
    * pairwise BELOW the threshold within every cell (if two survivors
    * cleared it, the larger id would be dominated — a checkable
    * completeness invariant, gated by semantic_dedup_gate).
    *
    * Scale shape: the quadratic term is per-cell, bounded by cell size
    * — numCells grows with the corpus so n/numCells stays fixed, and
    * the cell equi-join shuffles (id, vector) once on an 8-byte key.
    * The corpus never cross-joins; centroids are the only driver-side
    * state (numCells × dim doubles).
    *
    * Returns every input id: (id, cell_id, dup_of, cos_sim) where
    * dup_of is the SMALLEST dominating in-cell neighbor (null for
    * survivors) and cos_sim its cosine. Survivors = `dup_of IS NULL`.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, numCells: Int = 16,
                    kmeansIterations: Int = 1): DataFrame = {
    val cents = trainCodebook(df, idCol, vecCol, numCells,
      kmeansIterations)
    val cells = assignCells(df.select(col(idCol).as("id"),
      col(vecCol).as("v")), cents, "id", "v", 1)
    val dom = cells.select(col("cell_id"), col("id").as("id_a"),
        col("v").as("va"))
      .join(cells.select(col("cell_id"), col("id").as("id_b"),
        col("v").as("vb")), Seq("cell_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("id_b").as("id"))
      .agg(min_by(struct(col("id_a"), col("cos_sim")), col("id_a"))
        .as("d"))
      .select(col("id"), col("d.id_a").as("dup_of"),
        col("d.cos_sim").as("cos_sim"))
    cells.select("id", "cell_id")
      .join(dom, Seq("id"), "left")
      .select("id", "cell_id", "dup_of", "cos_sim")
  }
  // --- Product quantization (PQ) ---------------------------------------

  /** Split a vector column into `m` equal subvectors (array of arrays).
    * Requires dim % m == 0 — checked by the caller against real data. */
  private def subvectors(vec: Column, m: Int, sub: Int): Column =
    array((0 until m).map(s => slice(vec, s * sub + 1, sub)): _*)

  /** Per-subspace k-means codebooks for product quantization:
    * deterministic init (each subspace seeds from the `codebookK`
    * lowest-id vectors' subvectors), then `iterations` Lloyd rounds
    * with EUCLIDEAN assignment — all m subspaces train in the SAME
    * distributed pass (one frame keyed by subspace, one broadcast of
    * the m×k centroid table per round). Driver state is m × k × subdim
    * doubles — bounded model state, like [[trainCodebook]]. Returns
    * (s, code_id, centroid). */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, codebookK: Int,
                       iterations: Int = 1): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    trainPqCodebooksImpl(corpus, idCol, vecCol, m, codebookK,
      iterations, dim)
  }

  /** [[trainPqCodebooks]] with the dimension probe hoisted — callers
    * that already ran the probe ([[buildPqIndex]]/[[commitPqIndex]]
    * need `dim` for their own code-assignment pass) skip a duplicate
    * corpus job. */
  private def trainPqCodebooksImpl(corpus: DataFrame, idCol: String,
                                   vecCol: String, m: Int,
                                   codebookK: Int, iterations: Int,
                                   dim: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val subrows = corpus.select(col(idCol).as("vid"),
      posexplode(subvectors(col(vecCol), m, sub)).as(Seq("s", "subv")))
    // materialized once WHEN a Lloyd round will consume it twice (the
    // assignment broadcast and the carry-forward collect) — the init
    // is a corpus TakeOrdered that should not re-run; with zero
    // iterations it has a single consumer and the checkpoint would
    // only be a leak
    val init0: DataFrame = corpus.orderBy(col(idCol)).limit(codebookK)
      .select(col(idCol), posexplode(subvectors(col(vecCol), m, sub))
        .as(Seq("s", "centroid")))
      .withColumn("code_id",
        row_number().over(Window.partitionBy(col("s"))
          .orderBy(col(idCol))) - 1)
      .select(col("s"), col("code_id"), col("centroid"))
      // m × codebookK rows — bounded model state at ANY corpus scale.
      // The narrow coalesce matters because an eager localCheckpoint
      // materializes WITHOUT AQE: left at the window's shuffle width
      // the 64-row init cached as default-parallelism near-empty
      // partitions, and every consumer stage of the Lloyd round
      // inherited the 32-task layout (profiled on sim_topk_pq_served).
      .coalesce(1)
    graft.Scratch.scoped {
      var cents: DataFrame =
        if (iterations >= 1) init0.scratchCheckpoint(true) else init0
      for (_ <- 1 to iterations) {
        val assigned = assignPqCodes(subrows, cents)
        val means = assigned
          .join(subrows, Seq("vid", "s"))
          .select(col("s"), col("code_id"),
            posexplode(col("subv")).as(Seq("pos", "x")))
          .groupBy("s", "code_id", "pos")
          .agg(avg(col("x").cast("double")).as("mn"))
          .collect()
        val prev: Map[(Int, Int), Seq[Double]] = cents.collect()
          .map(r => (r.getAs[Int]("s"), r.getAs[Int]("code_id")) ->
            r.getSeq[Number](2).map(_.doubleValue()).toSeq).toMap
        val updated = means.groupBy(r =>
          (r.getAs[Int]("s"), r.getAs[Int]("code_id"))).map {
          case (key, rows) => key -> rows.sortBy(_.getAs[Int]("pos"))
            .map(_.getAs[Double]("mn")).toSeq
        }
        cents = prev.keys.toSeq.sorted.map { key =>
          (key._1, key._2, updated.getOrElse(key, prev(key)))
        }.toDF("s", "code_id", "centroid")
      }
      // the init checkpoint is superseded by the driver-local model the
      // moment one Lloyd round ran (with iterations = 0 nothing was
      // cut); the scope frees it, also when a round fails (executor
      // loss, cancelled job group)
      cents
    }
  }

  /** Nearest-centroid (squared-L2) code per (vector, subspace): one
    * broadcast of the m×k centroid table, deterministic code_id
    * tiebreak. The argmin is `min(struct(d2, code_id))` — lexicographic
    * struct ordering IS (distance asc, code asc), and unlike a
    * row_number window it partial-aggregates map-side: no per-key sort
    * and a combiner-sized shuffle however many vectors stream through.
    * Returns (vid, s, code_id). */
  private def assignPqCodes(subrows: DataFrame, cents: DataFrame)
  : DataFrame = {
    val d2 = aggregate(
      zip_with(col("subv"), col("centroid"),
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (acc, v) => acc + v)
    subrows.join(broadcast(cents), Seq("s"))
      .select(col("vid"), col("s"),
        struct(d2.as("d2"), col("code_id").as("code_id")).as("dc"))
      .groupBy(col("vid"), col("s"))
      .agg(min(col("dc")).as("best"))
      .select(col("vid"), col("s"), col("best.code_id").as("code_id"))
  }

  /** IVF-PQ composite top-k — the billion-scale ANN architecture
    * (FAISS's IndexIVFPQ, Jégou et al. 2011 "Product Quantization for
    * Nearest Neighbor Search"): a coarse quantizer routes the search
    * to `nProbe` cells, and within cells vectors are represented by PQ
    * codes of their RESIDUAL (v − centroid[cell]) — residuals
    * concentrate around 0, so the same code budget quantizes them with
    * far less error than raw vectors. Scoring is fully asymmetric:
    * dot(q, v) ≈ dot(q, c) + dot(q_residual_lut, codes), where the
    * first term is one number per (query, probed cell) and the second
    * is the additive ADC sum — corpus vectors are never touched until
    * the exact re-rank of the top `rerankFactor`·k survivors.
    *
    * At 100 TB: the index is (cell_id + m codes) per vector — the same
    * ~128× compression as [[pqTopK]] — and the probe restricts
    * scoring to nProbe/numCells of the corpus, so the scored-candidate
    * volume multiplies BOTH prunings (pqTopK scores every code row;
    * ivfTopK scores full vectors in probed cells; this scores only
    * CODES in probed cells). The LUT join is an equi-join on
    * (cell_id, s, code_id) against a broadcast table of
    * queries × nProbe × m × k partial dots; the coarse and PQ
    * codebooks are the only driver state. Same determinism posture as
    * [[pqTopK]]: 9dp-rounded DECIMAL partials, id tiebreaks. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, numCells: Int = 8,
                nProbe: Int = 2, m: Int = 4, codebookK: Int = 16,
                iterations: Int = 1, rerankFactor: Int = 3): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    // coarse quantizer: cosine cells, deterministic seed (shared with
    // ivfTopK so the routing behavior is the audited one)
    val coarse = modelCut(trainCodebook(corpus, idCol, vecCol, numCells,
      iterations))
    val corpusCells = assignCells(corpus.select(col(idCol).as("vid"),
      col(vecCol).as("cv")), coarse, "vid", "cv", 1)
    // residual encode: PQ codebooks trained on (v - centroid), codes
    // assigned per (vector, subspace) — the index rows
    val resid = corpusCells.join(broadcast(coarse), Seq("cell_id"))
      .select(col("vid"), col("cell_id"),
        zip_with(col("cv"), col("centroid"),
          (x, c) => x.cast("double") - c).as("rv"))
      .scratchCheckpoint(true) // two consumers: codebook train + encode
    val pqCents = modelCut(trainPqCodebooksImpl(resid, "vid", "rv", m,
      codebookK, iterations, dim))
    val codes = assignPqCodes(
      resid.select(col("vid"),
        posexplode(subvectors(col("rv"), m, sub)).as(Seq("s", "subv"))),
      pqCents)
      .join(resid.select("vid", "cell_id"), Seq("vid"))
    // query side: route to nProbe cells; per probed cell the constant
    // dot(q, centroid) term plus the residual-LUT of partial dots
    val queryCells = assignCells(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")), coarse, "query_id", "qv", nProbe)
    val qResid = queryCells.join(broadcast(coarse), Seq("cell_id"))
      .select(col("query_id"), col("cell_id"),
        round(dot(col("qv"), col("centroid")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("qc"),
        zip_with(col("qv"), col("centroid"),
          (x, c) => x.cast("double") - c).as("qrv"))
    val lut = qResid
      .select(col("query_id"), col("cell_id"), col("qc"),
        posexplode(subvectors(col("qrv"), m, sub)).as(Seq("s", "qsubv")))
      .join(broadcast(pqCents), Seq("s"))
      .select(col("query_id"), col("cell_id"), col("qc"), col("s"),
        col("code_id"),
        round(dot(col("qsubv"), col("centroid")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("pdot"))
    val approx = codes.join(broadcast(lut), Seq("cell_id", "s", "code_id"))
      .filter(col("vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("vid"))
      // qc repeats identically across a (query, vid) pair's m code
      // rows: first() folds it back to one constant term
      .agg((sum(col("pdot")) + first(col("qc"))).as("adc"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vid"))
    val survivors = approx
      .withColumn("ar", row_number().over(wApprox))
      .filter(col("ar") <= k * rerankFactor)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("vid"), col(vecCol).as("cv"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vid"))
    survivors
      .join(cv, Seq("vid"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"),
        col("cos_sim"))
  }

  /** Product-quantization approximate top-k with asymmetric-distance
    * scoring and exact re-rank — the ANN memory-scale path past
    * [[ivfTopK]]: the corpus index is m SMALL CODES per vector
    * (m·log2(k) bits — 16 bits/vector at m=4, k=16, vs 256 bytes of
    * float32), so a 100 TB embedding corpus compresses ~128× into an
    * index that fits executor memory. Scoring never touches corpus
    * vectors: each query precomputes a (s, code) → partial-dot lookup
    * table against the codebooks (m×k rows, broadcast), the additive
    * approximate score is one equi-join + sum over the codes table,
    * and only the top `rerankFactor`·k survivors re-join their full
    * vectors for the exact-cosine re-rank. Per-subspace contributions
    * round to 9dp and sum as DECIMAL so the ADC score is shuffle-order
    * independent; all ties break on ids. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 4, codebookK: Int = 16,
             iterations: Int = 1, rerankFactor: Int = 3): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val cents = modelCut(trainPqCodebooksImpl(corpus, idCol, vecCol, m,
      codebookK, iterations, dim))
    val codes = assignPqCodes(
      corpus.select(col(idCol).as("vid"),
        posexplode(subvectors(col(vecCol), m, sub)).as(Seq("s", "subv"))),
      cents)
    pqServe(codes, cents, corpus, queries, idCol, vecCol, k, m, sub,
      rerankFactor)
  }

  /** The PQ SERVE stage, shared by the inline [[pqTopK]] and the
    * persisted-index [[pqTopKFromIndex]] path: broadcast per-query ADC
    * lookup table, additive approximate scores over the code rows,
    * exact-cosine re-rank of the top `rerankFactor`·k. */
  private def pqServe(codes: DataFrame, cents: DataFrame,
                      corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int, m: Int,
                      sub: Int, rerankFactor: Int): DataFrame = {
    // per-query lookup table: partial dot of the query subvector with
    // every centroid of its subspace (m×k rows per query, broadcast)
    val lut = queries
      .select(col(idCol).as("query_id"),
        posexplode(subvectors(col(vecCol), m, sub)).as(Seq("s", "qsubv")))
      .join(broadcast(cents), Seq("s"))
      .select(col("query_id"), col("s"), col("code_id"),
        round(dot(col("qsubv"), col("centroid")), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("pdot"))
    val approx = codes.join(broadcast(lut), Seq("s", "code_id"))
      .filter(col("vid") =!= col("query_id"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum(col("pdot")).as("adc"))
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("vid"))
    val survivors = approx
      .withColumn("ar", row_number().over(wApprox))
      .filter(col("ar") <= k * rerankFactor)
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("vid"), col(vecCol).as("cv"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vid"))
    survivors
      .join(cv, Seq("vid"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"),
        col("cos_sim"))
  }

  /** BUILD the PQ index as a persisted artifact: codebooks + codes as
    * parquet under `path`. This is the offline half of the
    * build/serve split a production retrieval stack runs — the index
    * is built once per corpus version (the expensive training +
    * assignment pass), then served arbitrarily many times without
    * recomputation. At 100 TB the codes table is the ~128×-compressed
    * artifact that ships to the serving fleet; versioning it is what
    * [[graft.sources.ManifestTable]] is for. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   path: String, m: Int = 4, codebookK: Int = 16,
                   iterations: Int = 1): Unit = {
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    graft.Scratch.scoped {
      val cents = modelCut(trainPqCodebooksImpl(corpus, idCol, vecCol, m,
        codebookK, iterations, dim))
      // the serve path reads the artifact back from disk, so the scope
      // frees the build's model checkpoint as soon as both writes land
      // File sizing on the artifact writes (guide §6): a bare write
      // lands one near-empty file PER PARTITION of the writing plan
      // (profiled: 32 files for an 8 000-row codes table, ~0.18 s of
      // writer setup each, and every later serve scan pays the 32
      // splits again). The CODEBOOK side is bounded model state
      // (m × codebookK rows at any corpus scale) — a narrow coalesce(1)
      // writes it as one file with no shuffle. The CODES side is
      // corpus-sized, so it gets a REBALANCE hint instead: the
      // AQE-coalesced round-robin exchange sizes output files to the
      // advisory partition size at ANY scale — one file here,
      // ~advisory-sized files for a 100 TB codes table — with no tuned
      // constant. The index has no within-file order contract (codes
      // are hash-joined on (s, code_id)), so the layout is free to
      // rebalance.
      cents.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/codebooks")
      assignPqCodes(
        corpus.select(col(idCol).as("vid"),
          posexplode(subvectors(col(vecCol), m, sub)).as(Seq("s", "subv"))),
        cents)
        .hint("rebalance")
        .write.mode("overwrite").parquet(s"$path/codes")
    }
  }

  /** VERSIONED index build: commit the [[buildPqIndex]] artifact as
    * ONE atomic [[graft.sources.ManifestTable]] version and return the
    * version number. The codebook rows ride in the same committed
    * table as the code rows (a `kind` discriminator column), so a
    * reader pins a CONSISTENT (codebooks, codes) pair with a single
    * version — two separate tables could skew under concurrent
    * rebuild (codes v2 scored against codebooks v3 silently returns
    * garbage distances). Rebuild-then-swap is `commitOverwrite`'s
    * contract: a new build lands as version head+1 while every reader
    * pinned to an older version keeps serving ITS files untouched
    * (until `vacuum` retires them — the vacuum-under-reader rules
    * apply to the index like any other manifest table). At 100 TB the
    * committed table IS the ~128×-compressed artifact that ships to
    * the serving fleet; the codebook rows add m×k rows of noise. */
  def commitPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    table: String, m: Int = 4, codebookK: Int = 16,
                    iterations: Int = 1): Long = {
    val spark = corpus.sparkSession
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    graft.Scratch.scoped {
      val cents = modelCut(trainPqCodebooksImpl(corpus, idCol, vecCol, m,
        codebookK, iterations, dim))
      val codes = assignPqCodes(
        corpus.select(col(idCol).as("vid"),
          posexplode(subvectors(col(vecCol), m, sub)).as(Seq("s", "subv"))),
        cents)
      val centroidType = cents.schema("centroid").dataType
      // vid keeps the CALLER'S id type (string doc ids survive — a cast
      // to long would silently null every code row and the serve path
      // would return empty top-ks); the codebook rows' null vid adopts it
      val vidType = codes.schema("vid").dataType
      // File sizing per side, the [[buildPqIndex]] discipline: the
      // bounded codebook rows coalesce narrowly to one partition, the
      // corpus-sized code rows REBALANCE so AQE sizes their files to
      // the advisory partition size at any scale. Without it the commit
      // staged one near-empty file per partition of the writing plan.
      val art = cents.select(lit("codebook").as("kind"),
          lit(null).cast(vidType).as("vid"), col("s"), col("code_id"),
          col("centroid"))
        .coalesce(1)
        .unionByName(codes.select(lit("code").as("kind"),
          col("vid"), col("s"), col("code_id"),
          lit(null).cast(centroidType).as("centroid"))
          .hint("rebalance"))
      // readers serve from the COMMITTED files, so the scope frees the
      // build's model checkpoint the moment the commit lands
      graft.sources.ManifestTable.commitOverwrite(spark, table, art)
    }
  }

  /** SERVE top-k from a [[commitPqIndex]] version: the pinned (or
    * latest) committed index is read back and served through the same
    * [[pqServe]] as the inline path — byte-identical results at the
    * same geometry. `version = None` serves the latest commit;
    * an explicit version pins a snapshot that stays stable however
    * many rebuilds land while it is being consumed. */
  def pqTopKFromManifest(table: String, corpus: DataFrame,
                         queries: DataFrame, idCol: String,
                         vecCol: String, k: Int,
                         version: Option[Long] = None,
                         rerankFactor: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    val art = graft.sources.ManifestTable.read(spark, table, version)
    val cents = art.filter(col("kind") === "codebook")
      .select("s", "code_id", "centroid")
    val codes = art.filter(col("kind") === "code")
      .select("vid", "s", "code_id")
    val geom = cents.agg(max(col("s")).as("ms"),
      max(size(col("centroid"))).as("sub")).head()
    pqServe(codes, cents, corpus, queries, idCol, vecCol, k,
      m = geom.getInt(0) + 1, sub = geom.getInt(1),
      rerankFactor = rerankFactor)
  }

  /** SERVE top-k from a [[buildPqIndex]] artifact: codebooks/codes are
    * read back from `path`, never recomputed — byte-identical results
    * to the inline [[pqTopK]] at the same geometry (the registered
    * `sim_topk_pq_served` row proves it against the SAME frozen
    * oracle). `corpus` supplies only the re-rank vectors (the refine
    * step needs originals; same contract as a FAISS refine index). */
  def pqTopKFromIndex(path: String, corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      rerankFactor: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    val cents = spark.read.parquet(s"$path/codebooks")
    val codes = spark.read.parquet(s"$path/codes")
    val geom = cents.agg(max(col("s")).as("ms"),
      max(size(col("centroid"))).as("sub")).head()
    pqServe(codes, cents, corpus, queries, idCol, vecCol, k,
      m = geom.getInt(0) + 1, sub = geom.getInt(1),
      rerankFactor = rerankFactor)
  }
}
