package graft.llmops

import graft.Scratch.ScratchOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design: every variant reduces the O(n²) pair space to
  * hash-bucket joins — the only shuffles are on short digest/band keys,
  * never on document text. Signatures are computed row-local with
  * codegen'd higher-order functions (no UDF, no explode of shingles), so
  * signature generation runs at scan speed; candidate generation is a
  * self-equi-join on band keys, which Spark executes as a shuffled hash
  * join keyed on ~16-byte keys. Common-shingle skew concentrates in few
  * buckets → AQE skew-join handles it (enabled in the session).
  */
object Dedup {

  // --- Exact -----------------------------------------------------------

  /** Exact dedup via content digest: one row per distinct normalized
    * text, keeping the smallest id (deterministic survivor). Shuffle
    * carries (digest, id) only — never the text. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprintMd5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // --- Shingling -------------------------------------------------------

  /** Word k-shingles as a deduplicated array column; the whole pipeline
    * below stays array-valued per row (no explode). Computed by the
    * custom expression [[graft.functions.ShingleSet]] — one tight eval
    * per row instead of interpreted per-element HOFs. */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.HashExprs.shingleSet(coalesce(text, lit("")), k)

  // --- MinHash + LSH ---------------------------------------------------

  /** MinHash signature (array<long> of length numPerm) from a shingle
    * array. Delegates to the custom Catalyst expression
    * [[graft.functions.MinHashSig]]: the higher-order-function
    * formulation (64 × array_min(transform(...))) is interpreted
    * per-element and measured ~40× slower. */
  def minhashSignature(shingleCol: Column, numPerm: Int = 64): Column =
    graft.functions.HashExprs.minhashSig(shingleCol, numPerm)

  /** LSH banding: rows (id, band_id, band_key) — one row per band, key =
    * hash of the signature slice. Docs sharing any band collide. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandRows = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        hash(lit(b), slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand))
          .as("band_key"))
    }
    df.select(col(idCol), explode(array(bandRows: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_key"))
  }

  /** Candidate pairs (id_a < id_b) from MinHash LSH. Default 64 perms as
    * 16 bands × 4 rows ⇒ collision prob ≈ 1-(1-s⁴)¹⁶ (s = Jaccard):
    * ~50% at s≈0.45, ~99.9% at s≈0.8. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        shingleK: Int = 3, numPerm: Int = 64,
                        bands: Int = 16): DataFrame = {
    val rowsPerBand = numPerm / bands
    val sigs = df.select(col(idCol),
      minhashSignature(shingles(col(textCol), shingleK), numPerm)
        .as("sig"))
    val banded = lshBands(sigs, idCol, "sig", bands, rowsPerBand)
    val a = banded.select(col(idCol).as("id_a"), col("band_id"),
      col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("band_id"),
      col("band_key"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard verification of candidate pairs: join shingle
    * sets back onto the (small) candidate set and compute
    * |∩| / |∪| with row-local array ops. */
  def jaccardVerify(df: DataFrame, candidates: DataFrame, textCol: String,
                    idCol: String, shingleK: Int = 3,
                    threshold: Double = 0.7): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleK).as("sh"))
    candidates
      .join(sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b")
        .withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Full MinHash near-dup pipeline: LSH candidates → exact Jaccard.
    * `numPerm`/`bands` override the frozen default geometry — derive
    * them from the corpus via [[bandsFor]] at deployment scale. */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.7, numPerm: Int = 64,
                   bands: Int = 16): DataFrame =
    jaccardVerify(df, minhashCandidates(df, textCol, idCol,
      numPerm = numPerm, bands = bands), textCol, idCol,
      threshold = threshold)

  /** MinHash-LSH band geometry `(bands, rowsPerBand)` derived from
    * corpus size and target Jaccard — the banding twin of
    * [[Similarity.planesFor]]'s deployment rule, replacing the frozen
    * 16×4 default where the corpus count is known (one metadata-sized
    * `count()` at planning time).
    *
    * Why the geometry must scale with n: a random background pair
    * (Jaccard ≈ `s0`) collides in one band with probability s0^r, so
    * the FALSE-candidate count is ~ n²/2 · b · s0^r — quadratic in
    * the corpus at any FIXED geometry. Holding it at
    * `candidateBudget` candidates per doc needs
    * r ≥ log(n·b / (2·budget)) / log(1/s0): rowsPerBand is the SCALE
    * knob (steeper S-curve, exponentially fewer random collisions —
    * the analogue of planesFor's bucket-population bound). bands is
    * the RECALL knob: the S-curve midpoint sits at (1/b)^(1/r), so
    * b = ceil(t^(-r)) re-centers it at-or-below the target threshold
    * after every r step (ceil, not round: rounding b DOWN pushes the
    * midpoint above t — the recall-unsafe side) — the analogue of
    * numTables buying back recall. The
    * signature length numPerm = b·r then grows ~log(n): the price of
    * linear candidate volume is a logarithmically longer signature,
    * exactly the MMDS ch.3 trade. b is capped at `maxBands` (64 —
    * 448 hashes/doc at r=7, the cost ceiling a signature pass should
    * respect); past the cap the midpoint drifts above t and recall at
    * the margin decays, the same documented trade planesFor makes at
    * its operating point.
    *
    * The rule REPRODUCES the hand-frozen default at its own tier:
    * bandsFor(5000, 0.5) = (16, 4) — the 64-perm 16×4 geometry
    * `dedup_minhash_lsh` has always run — and derives (8, 3) at the
    * sf0.01 corpus (n=500) and (64, 7) at n=5·10⁶. Fixed-point loop:
    * r's bound depends log-weakly on b, b monotonically on r, so
    * iterating r ↑ converges in a handful of steps. */
  def bandsFor(n: Long, targetJaccard: Double, s0: Double = 0.05,
               candidateBudget: Double = 1.0,
               maxBands: Int = 64): (Int, Int) = {
    require(targetJaccard > 0.0 && targetJaccard < 1.0,
      s"targetJaccard must be in (0,1): $targetJaccard")
    require(s0 > 0.0 && s0 < targetJaccard,
      s"background similarity s0 must be in (0, targetJaccard): $s0")
    def bandsAt(r: Int): Int =
      math.min(maxBands,
        math.max(1, math.ceil(math.pow(targetJaccard, -r)).toInt))
    def rNeeded(b: Int): Int =
      math.max(1, math.ceil(
        math.log(math.max(1.0, n.toDouble * b / (2.0 * candidateBudget)))
          / math.log(1.0 / s0)).toInt)
    var r = 1
    var b = bandsAt(r)
    var steps = 0
    while (rNeeded(b) > r && steps < 64) {
      r = rNeeded(b)
      b = bandsAt(r)
      steps += 1
    }
    (b, r)
  }

  // --- Clustering ------------------------------------------------------

  /** Connected components over near-dup pairs by iterative min-label
    * propagation: after `iterations` rounds every node carries the
    * minimum id reachable within that many hops — equal to its true
    * component min when `iterations` >= component diameter (near-dup
    * clusters are near-cliques, so a handful of rounds suffices).
    * Deterministic, shuffle-order-independent (min is commutative);
    * each round is one join + one aggregate on (id, comp) longs only.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          iterations: Int = 10): DataFrame = {
    // Iterative plans MUST truncate lineage: `labels` feeds the next
    // round twice (directly + via the edge join), so without a
    // materialization barrier the upstream pair computation re-executes
    // O(2^rounds) times. Three wall-clock disciplines keep the
    // driver-sequenced job count minimal (each Spark job carries fixed
    // scheduler latency, which DOMINATES this query at bench scale —
    // the data per round is just (id, comp) longs):
    //  1. Pairs materialize ONCE before the symmetric union — both
    //     union branches re-execute their input, so building edges
    //     straight off the candidate generator would run the whole
    //     MinHash band join + Jaccard verification TWICE.
    //  2. Labels initialize to the closed 1-hop neighborhood min — one
    //     aggregate straight over edges, no join, no separate distinct-
    //     nodes pass. This IS round one of min-label propagation, and
    //     it is already FINAL for pairs, triangles, and cliques (every
    //     member adjacent to the min) — the shapes that dominate
    //     near-dup graphs — so the loop typically runs a single
    //     confirming round.
    //  3. Each round's checkpoint is LAZY; the convergence-signal
    //     aggregate is the materializing action — one job per round,
    //     not a checkpoint job plus a signal job.
    // The comp-sum is a monotone convergence signal: the id set is
    // fixed and min-labels only decrease, so an unchanged sum proves a
    // fixed point. It accumulates as DECIMAL(38,0): a LongType sum
    // over billions of 63-bit ids can wrap (ANSI mode would throw
    // mid-job); 38 digits holds 2^63 × 10^19 rows, so the signal stays
    // exact at any scale.
    def compSum(df: DataFrame): java.math.BigDecimal =
      // coalesce makes the empty-frame sum 0, never null
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    // Storage hygiene: a long-lived session running dedup repeatedly
    // must not accumulate checkpoint blocks until the ContextCleaner
    // happens to run, so each superseded round's labels are released
    // one round behind via CheckpointBridge, and the scope frees the
    // pairs checkpoint on exit (localCheckpoint is the faster
    // materialization — raw RDD persist, no columnar encode
    // round-trip; measured ~0.3 s cheaper than cache()+count() on the
    // sf0.1 bench — but exposes no public unpersist, hence the bridge).
    import org.apache.spark.sql.graft.CheckpointBridge
    // distinct: labels are insensitive to parallel edges, but every
    // round's propagation join fans out once per duplicate pair — on a
    // multigraph input the duplicates, not the node count, become the
    // dominant per-round term (measured: graph_bfs_depth went 37 s →
    // bounded at the 100× rehearsal from the same collapse). One
    // up-front shuffle over the pair set buys rounds × smaller joins.
    graft.Scratch.scoped {
      val p = pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .distinct()
        .scratchCheckpoint(true)
      val edges = p
        .union(p.select(col("dst").as("src"), col("src").as("dst")))
      var labels = edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("m"))
        .select(col("id"), least(col("id"), col("m")).as("comp"))
        .scratchCheckpoint(false)
      var prevSum = compSum(labels) // materializes the lazy checkpoint
      var converged = false
      var i = 1 // init already propagated one hop
      while (i < iterations && !converged) {
        val viaEdges = edges.join(labels,
          edges("src") === labels("id"))
          .select(col("dst").as("id"), col("comp"))
        val next = labels.union(viaEdges)
          .groupBy("id").agg(min(col("comp")).as("comp"))
          .scratchCheckpoint(false)
        val s = compSum(next)
        CheckpointBridge.release(labels) // superseded round state
        labels = next
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        i += 1
      }
      labels // its checkpoint is materialized; never recomputes from p
    }
  }

  /** Corpus-level dedup decision: cluster near-dup pairs, keep the
    * minimum id of each cluster. Docs not in any pair are implicit
    * keeps (callers left-anti join the drop list). Output:
    * (doc id, canonical keep_id, is_kept). */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a",
                    idB: String = "id_b"): DataFrame =
    connectedComponents(pairs, idA, idB)
      .select(col("id"), col("comp").as("keep_id"),
        (col("id") === col("comp")).as("is_kept"))

  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens, computed entirely row-local
    * by the custom Catalyst expression [[graft.functions.SimHash64]]:
    * bit b of the output is set iff more than half the token hashes
    * have bit b set. */
  def simhash(text: Column): Column =
    graft.functions.HashExprs.simhash64(
      split(trim(lower(coalesce(text, lit("")))), "\\s+"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Candidate generation by pigeonhole: split the 64-bit hash into
    * (maxHamming + 1) chunks — a pair differing in <= maxHamming bits
    * must agree on at least one whole chunk — and equi-join per chunk.
    * Verification: bit_count(a XOR b). COMPLETENESS requires the chunk
    * count to track the radius (4 fixed chunks are only complete for
    * Hamming <= 3). Cost tracks it too: chunk width 64/(maxHamming+1)
    * bits sets the bucket key space, so large radii (> ~7) collapse
    * buckets toward all-pairs — keep maxHamming small or pre-partition
    * the corpus. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh")),
      "id", "sh", maxHamming)

  /** Generic pigeonhole Hamming join over ANY 64-bit signature column
    * (the [[simhashPairs]] machinery, factored out so perceptual image
    * hashes and other 64-bit fingerprints reuse it): signatures are
    * split into `maxHamming + 1` near-even bit chunks — two signatures
    * within the radius MUST agree on at least one chunk (pigeonhole),
    * so the candidate space is the chunk-value equi-join, never
    * all-pairs — then candidates verify with an exact `bit_count(xor)`.
    * At 100 TB the exchange carries (id, sig, chunk) rows keyed by
    * 16-bit-ish chunk values; radius drives chunk count and therefore
    * bucket density — the completeness/cost trade documented on
    * `dedup_simhash`. */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val numChunks = maxHamming + 1
    // even bit split: chunk c covers [c*64/n, (c+1)*64/n) — all 64 bits
    // covered, every chunk non-empty, widths differ by at most 1
    val chunkCols = (0 until numChunks).map { c =>
      val lo = c * 64 / numChunks
      val width = (c + 1) * 64 / numChunks - lo
      val key =
        if (width == 64) col("sh")
        else shiftright(col("sh"), lo).bitwiseAND(lit((1L << width) - 1))
      struct(lit(c).as("chunk_id"), key.as("chunk_key"))
    }
    val sh = sigs.select(col(idCol).as("id"), col(sigCol).as("sh"))
    val chunked = sh.select(col("id"), col("sh"),
      explode(array(chunkCols: _*)).as("ck"))
      .select(col("id"), col("sh"), col("ck.chunk_id"), col("ck.chunk_key"))
    val a = chunked.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("chunk_id"), col("chunk_key"))
    val b = chunked.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("chunk_id"), col("chunk_key"))
    a.join(b, Seq("chunk_id", "chunk_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // --- Incremental (Bloom-accelerated) ---------------------------------

  /** Incremental dedup of a new batch against an accumulated corpus,
    * Bloom-accelerated: the corpus fingerprints are folded into a Bloom
    * filter (driver-held, sized by `expectedItems`/`fpp` — bits, not
    * rows: 10⁹ keys at 3% fpp is ~0.9 GB, broadcast once), and every
    * batch fingerprint probes it map-side. A "definitely unseen"
    * answer is EXACT — the row is new, no join needed; only the "maybe
    * seen" sliver (true dups + fpp of the rest) reaches the exact
    * anti-join. Exactness is preserved because the bloom only ever
    * routes rows toward the join, never positively decides membership;
    * the anti-join that remains shuffles ~dup-rate of the batch
    * instead of all of it, and the corpus side is semi-join-prunable
    * to the probed fingerprints. Returns (idCol, fpAlias): the first
    * occurrence per unseen fingerprint, min-id survivor within the
    * batch (same contract as the plain anti-join formulation —
    * byte-identical output, cheaper exchange). */
  def incrementalDedupBloom(corpusFps: DataFrame, fpColCorpus: String,
                            batch: DataFrame, idCol: String,
                            fpCol: Column, fpAlias: String,
                            expectedItems: Long,
                            fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    val spark = batch.sparkSession
    // Spark's own runtime-filter machinery, driven by hand: the bloom
    // is built as a DISTRIBUTED aggregate (partial blooms merged at the
    // exchange — the driver receives one binary, it never streams the
    // corpus keys the way `stat.bloomFilter`'s driver-side treeAggregate
    // result did), and the probe is the codegen'd
    // `BloomFilterMightContain` expression over xxhash64 — no Scala udf
    // in the hot path, the batch scan stays inside WholeStageCodegen.
    // Bits sized for the target fpp (n·ln p / ln²2), clamped to the
    // session's runtime-filter creation cap — a 100 TB deployment
    // raises spark.sql.optimizer.runtime.bloomFilter.maxNumBits along
    // with expectedItems (10⁹ keys at 3% fpp ≈ 0.9 GB of bits, shipped
    // once per executor with the task binary, exactly as before).
    val n = expectedItems.max(1L)
    val wantBits = math.ceil(
      -n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        "67108864").toLong
    val numBits = math.max(64L, math.min(wantBits, maxBits))
    val bloomAgg = ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expr(xxhash64(col(fpColCorpus))),
      Literal(n), Literal(numBits)).toAggregateExpression())
    val blob = corpusFps.agg(bloomAgg.as("bloom"))
      .head().getAs[Array[Byte]](0)
    val firstIn = batch
      .select(col(idCol), fpCol.as(fpAlias))
      .groupBy(fpAlias).agg(min(col(idCol)).as(idCol))
    // empty corpus → null bloom → every batch fingerprint is new and
    // the exact anti-join has nothing to prune against
    if (blob == null) return firstIn.select(idCol, fpAlias)
    val maybeSeen = ColumnBridge.column(new BloomFilterMightContain(
      Literal(blob, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expr(xxhash64(col(fpAlias)))))
    val definitelyNew = firstIn.filter(!maybeSeen)
    val maybe = firstIn.filter(maybeSeen)
      .join(corpusFps.select(col(fpColCorpus).as(fpAlias)).distinct(),
        Seq(fpAlias), "left_anti")
    definitelyNew.unionByName(maybe).select(idCol, fpAlias)
  }
  // --- Incremental NEAR-dup (new batch vs existing corpus) -------------

  /** Incremental near-duplicate screen: which BATCH docs are MinHash-
    * LSH near-duplicates of any CORPUS doc — the near-dup twin of the
    * exact [[dedupIncremental]] anti-join, for ingest-time admission
    * control. Candidates come from an equi-join of the two sides'
    * LSH band tables (never batch × corpus); the exact shingle-Jaccard
    * verify then joins shingle arrays ONLY for ids that appear in a
    * candidate pair (semi-join pruned — the corpus never re-shingles
    * for a small batch). Returns verified (batchId, corpusId, jaccard)
    * pairs at `threshold`; admitted docs are the batch anti-join of the
    * flagged ids. At 100 TB: corpus band tables and shingle arrays are
    * write-once artifacts an ingest pipeline keeps alongside the
    * corpus (the [[graft.sources.ManifestTable]] pattern) — per batch,
    * only the batch side re-hashes. */
  def incrementalNearDup(corpus: DataFrame, batch: DataFrame,
                         textCol: String, idCol: String,
                         threshold: Double = 0.8, shingleK: Int = 3,
                         numPerm: Int = 64,
                         bands: Int = 16): DataFrame = {
    val rpb = numPerm / bands
    def banded(df: DataFrame, as: String): DataFrame = lshBands(
      df.select(col(idCol),
        minhashSignature(shingles(col(textCol), shingleK), numPerm)
          .as("sig")),
      idCol, "sig", bands, rpb)
      .select(col(idCol).as(as), col("band_id"), col("band_key"))
    val cands = banded(batch, "batch_id")
      .join(banded(corpus, "corpus_id"), Seq("band_id", "band_key"))
      .select("batch_id", "corpus_id").distinct()
    val shB = batch
      .join(cands.select(col("batch_id").as(idCol)), Seq(idCol),
        "left_semi")
      .select(col(idCol).as("batch_id"),
        shingles(col(textCol), shingleK).as("sh_b"))
    val shC = corpus
      .join(cands.select(col("corpus_id").as(idCol)), Seq(idCol),
        "left_semi")
      .select(col(idCol).as("corpus_id"),
        shingles(col(textCol), shingleK).as("sh_c"))
    cands.join(shB, Seq("batch_id")).join(shC, Seq("corpus_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_b"), col("sh_c"))).cast("double") /
          size(array_union(col("sh_b"), col("sh_c"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }
}
