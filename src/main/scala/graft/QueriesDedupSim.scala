package graft

import graft.Scratch.ScratchOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llmops.{Dedup, Pca, Similarity, TextAnalysis}
import graft.Qdsl._

/** Registry part 3 — corpus deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, connected components, incremental, embedding) and
  * approximate-nearest-neighbor search with their invariant/floor
  * oracles. */
private[graft] object QueriesDedupSim {
  // ======================================================================
  // LLM-data-pipeline extensions: dedup
  // ======================================================================

  private[graft] val dedupExact = Q("dedup_exact",
    (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("keep_id"),
    Some("""SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint,
      MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY keep_id"""))

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified. The xxhash64
    * signatures are engine-specific (no SQL can recompute them), but
    * the pipeline is fully DETERMINISTIC for a fixed corpus — fixed
    * hashes, fixed band geometry — so the sf0.01 pair set is itself
    * the oracle: a frozen VALUES table (25 pairs, captured
    * 2026-08-12). Semantic invariants are gated separately
    * (dedup_minhash_precision / _floor); this hash gate catches ANY
    * behavior change, intended or not — re-freeze deliberately when
    * tuning geometry. */
  private[graft] val dedupMinhash = Q("dedup_minhash_lsh",
    (s, dir) =>
      Dedup.minhashDedup(t(s, dir, "documents"), "text", "doc_id",
        threshold = 0.4)
        .orderBy("id_a", "id_b"),
    Some("""SELECT * FROM (VALUES
      (CAST(8 AS BIGINT), CAST(245 AS BIGINT), CAST('0.9878048780487805' AS DOUBLE)),
      (CAST(26 AS BIGINT), CAST(455 AS BIGINT), CAST('0.9' AS DOUBLE)),
      (CAST(31 AS BIGINT), CAST(383 AS BIGINT), CAST('0.9761904761904762' AS DOUBLE)),
      (CAST(44 AS BIGINT), CAST(446 AS BIGINT), CAST('0.9565217391304348' AS DOUBLE)),
      (CAST(45 AS BIGINT), CAST(267 AS BIGINT), CAST('0.974025974025974' AS DOUBLE)),
      (CAST(45 AS BIGINT), CAST(413 AS BIGINT), CAST('0.987012987012987' AS DOUBLE)),
      (CAST(58 AS BIGINT), CAST(293 AS BIGINT), CAST('0.9857142857142858' AS DOUBLE)),
      (CAST(61 AS BIGINT), CAST(185 AS BIGINT), CAST('0.9824561403508771' AS DOUBLE)),
      (CAST(70 AS BIGINT), CAST(447 AS BIGINT), CAST('0.9891304347826086' AS DOUBLE)),
      (CAST(72 AS BIGINT), CAST(377 AS BIGINT), CAST('0.975609756097561' AS DOUBLE)),
      (CAST(87 AS BIGINT), CAST(134 AS BIGINT), CAST('0.9545454545454546' AS DOUBLE)),
      (CAST(92 AS BIGINT), CAST(450 AS BIGINT), CAST('0.9583333333333334' AS DOUBLE)),
      (CAST(98 AS BIGINT), CAST(290 AS BIGINT), CAST('0.9891304347826086' AS DOUBLE)),
      (CAST(107 AS BIGINT), CAST(387 AS BIGINT), CAST('0.9736842105263158' AS DOUBLE)),
      (CAST(120 AS BIGINT), CAST(332 AS BIGINT), CAST('0.9714285714285714' AS DOUBLE)),
      (CAST(152 AS BIGINT), CAST(178 AS BIGINT), CAST('0.972972972972973' AS DOUBLE)),
      (CAST(166 AS BIGINT), CAST(323 AS BIGINT), CAST('0.9833333333333333' AS DOUBLE)),
      (CAST(267 AS BIGINT), CAST(413 AS BIGINT), CAST('0.9868421052631579' AS DOUBLE)),
      (CAST(285 AS BIGINT), CAST(301 AS BIGINT), CAST('0.9891304347826086' AS DOUBLE)),
      (CAST(295 AS BIGINT), CAST(374 AS BIGINT), CAST('0.9666666666666667' AS DOUBLE)),
      (CAST(310 AS BIGINT), CAST(389 AS BIGINT), CAST('0.9615384615384616' AS DOUBLE)),
      (CAST(326 AS BIGINT), CAST(457 AS BIGINT), CAST('0.9714285714285714' AS DOUBLE)),
      (CAST(393 AS BIGINT), CAST(420 AS BIGINT), CAST('0.9873417721518988' AS DOUBLE)),
      (CAST(435 AS BIGINT), CAST(486 AS BIGINT), CAST('0.9666666666666667' AS DOUBLE)),
      (CAST(458 AS BIGINT), CAST(462 AS BIGINT), CAST('0.9827586206896551' AS DOUBLE)))
      AS t(id_a, id_b, jaccard) ORDER BY id_a, id_b"""))

  /** The SCALE-PARAMETERIZED twin of `dedup_minhash_lsh` (mirror of
    * `dedup_embedding_lsh_scaled`, round-15 verdict item 3): band
    * geometry derived from the corpus count via [[Dedup.bandsFor]] —
    * rowsPerBand is the scale knob (background pairs collide with
    * prob s0^r, so r grows ~log n to hold false candidates at O(n)),
    * bands re-centers the S-curve midpoint (1/b)^(1/r) on the target
    * threshold, and numPerm = b·r follows. The rule REPRODUCES the
    * frozen row's hand-chosen 16×4/64-perm geometry at n=5000
    * (sf0.1's corpus) and derives 8×3/24-perm at sf0.01's 500 docs —
    * the emitted `n_bands`/`rows_per_band` columns pin in the oracle
    * that the rule computed the tier's value, exactly like the
    * embedding twin's `n_planes`. The one `count()` at planning time
    * is the rule's input: a metadata-sized scalar job, not a
    * collect-and-loop. Oracle: frozen sf0.01 VALUES at this operating
    * point (captured 2026-08-16) — EXACTLY the fixed row's 25 pairs
    * with identical exact-Jaccard scores: at this tier the derived
    * 8×3 geometry (S-curve midpoint 0.5, same as 16×4's) recalls the
    * same near-dup set from a third of the signature hashes. */
  /** Frozen sf0.01 result of dedup_minhash_lsh_scaled (captured
    * 2026-08-16 at the bandsFor operating point: n=500 -> 8 bands x 3
    * rows, 24 perms). */
  private val DedupMinhashScaledOracle: String =
    """SELECT * FROM (VALUES
      (CAST(8 AS BIGINT), CAST(245 AS BIGINT), CAST('0.9878048780487805' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(26 AS BIGINT), CAST(455 AS BIGINT), CAST('0.9' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(31 AS BIGINT), CAST(383 AS BIGINT), CAST('0.9761904761904762' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(44 AS BIGINT), CAST(446 AS BIGINT), CAST('0.9565217391304348' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(45 AS BIGINT), CAST(267 AS BIGINT), CAST('0.974025974025974' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(45 AS BIGINT), CAST(413 AS BIGINT), CAST('0.987012987012987' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(58 AS BIGINT), CAST(293 AS BIGINT), CAST('0.9857142857142858' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(61 AS BIGINT), CAST(185 AS BIGINT), CAST('0.9824561403508771' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(70 AS BIGINT), CAST(447 AS BIGINT), CAST('0.9891304347826086' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(72 AS BIGINT), CAST(377 AS BIGINT), CAST('0.975609756097561' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(87 AS BIGINT), CAST(134 AS BIGINT), CAST('0.9545454545454546' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(92 AS BIGINT), CAST(450 AS BIGINT), CAST('0.9583333333333334' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(98 AS BIGINT), CAST(290 AS BIGINT), CAST('0.9891304347826086' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(107 AS BIGINT), CAST(387 AS BIGINT), CAST('0.9736842105263158' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(120 AS BIGINT), CAST(332 AS BIGINT), CAST('0.9714285714285714' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(152 AS BIGINT), CAST(178 AS BIGINT), CAST('0.972972972972973' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(166 AS BIGINT), CAST(323 AS BIGINT), CAST('0.9833333333333333' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(267 AS BIGINT), CAST(413 AS BIGINT), CAST('0.9868421052631579' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(285 AS BIGINT), CAST(301 AS BIGINT), CAST('0.9891304347826086' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(295 AS BIGINT), CAST(374 AS BIGINT), CAST('0.9666666666666667' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(310 AS BIGINT), CAST(389 AS BIGINT), CAST('0.9615384615384616' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(326 AS BIGINT), CAST(457 AS BIGINT), CAST('0.9714285714285714' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(393 AS BIGINT), CAST(420 AS BIGINT), CAST('0.9873417721518988' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(435 AS BIGINT), CAST(486 AS BIGINT), CAST('0.9666666666666667' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)),
      (CAST(458 AS BIGINT), CAST(462 AS BIGINT), CAST('0.9827586206896551' AS DOUBLE), CAST(8 AS BIGINT), CAST(3 AS BIGINT)))
      AS t(id_a, id_b, jaccard, n_bands, rows_per_band)
      ORDER BY id_a, id_b"""

  private[graft] val dedupMinhashScaled = Q("dedup_minhash_lsh_scaled",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val (bands, rowsPerBand) =
        Dedup.bandsFor(docs.count(), targetJaccard = 0.5)
      Dedup.minhashDedup(docs, "text", "doc_id", threshold = 0.4,
        numPerm = bands * rowsPerBand, bands = bands)
        .withColumn("n_bands", lit(bands.toLong))
        .withColumn("rows_per_band", lit(rowsPerBand.toLong))
        .orderBy("id_a", "id_b")
    },
    Some(DedupMinhashScaledOracle))

  /** SimHash near-dup pairs (Hamming <= 3 of 64 bits): 4 × 16-bit chunk
    * pigeonhole is COMPLETE at this radius (the previous Hamming-16
    * setting silently missed pairs differing in every chunk) — and the
    * 16-bit bucket keys keep the candidate join sparse at scale. The
    * simhash value is engine-specific but deterministic — oracle is
    * the frozen sf0.01 pair set (17 pairs, captured 2026-08-12), like
    * dedup_minhash_lsh's. */
  private[graft] val dedupSimhash = Q("dedup_simhash",
    (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3)
        .orderBy("id_a", "id_b"),
    Some("""SELECT * FROM (VALUES
      (CAST(8 AS BIGINT), CAST(245 AS BIGINT), CAST(2 AS INTEGER)),
      (CAST(45 AS BIGINT), CAST(413 AS BIGINT), CAST(3 AS INTEGER)),
      (CAST(58 AS BIGINT), CAST(293 AS BIGINT), CAST(0 AS INTEGER)),
      (CAST(61 AS BIGINT), CAST(185 AS BIGINT), CAST(0 AS INTEGER)),
      (CAST(70 AS BIGINT), CAST(447 AS BIGINT), CAST(1 AS INTEGER)),
      (CAST(76 AS BIGINT), CAST(102 AS BIGINT), CAST(2 AS INTEGER)),
      (CAST(98 AS BIGINT), CAST(290 AS BIGINT), CAST(2 AS INTEGER)),
      (CAST(107 AS BIGINT), CAST(387 AS BIGINT), CAST(1 AS INTEGER)),
      (CAST(120 AS BIGINT), CAST(332 AS BIGINT), CAST(3 AS INTEGER)),
      (CAST(166 AS BIGINT), CAST(323 AS BIGINT), CAST(3 AS INTEGER)),
      (CAST(251 AS BIGINT), CAST(473 AS BIGINT), CAST(3 AS INTEGER)),
      (CAST(267 AS BIGINT), CAST(413 AS BIGINT), CAST(2 AS INTEGER)),
      (CAST(285 AS BIGINT), CAST(301 AS BIGINT), CAST(0 AS INTEGER)),
      (CAST(326 AS BIGINT), CAST(457 AS BIGINT), CAST(2 AS INTEGER)),
      (CAST(393 AS BIGINT), CAST(420 AS BIGINT), CAST(0 AS INTEGER)),
      (CAST(435 AS BIGINT), CAST(486 AS BIGINT), CAST(3 AS INTEGER)),
      (CAST(458 AS BIGINT), CAST(462 AS BIGINT), CAST(2 AS INTEGER)))
      AS t(id_a, id_b, hamming) ORDER BY id_a, id_b"""))

  /** Precision invariant of the MinHash+LSH pipeline, oracle-checked
    * against a constant: every pair `minhashDedup` emits must have exact
    * Jaccard >= threshold. The Jaccard is RECOMPUTED here from portable
    * built-ins (split/sequence/slice/array_join — the HOF formulation
    * the custom ShingleSet expression replaced), so the check is
    * independent of the codegen'd signature path: a bug in ShingleSet,
    * the banding join, or jaccardVerify's arithmetic shows up as a
    * nonzero count. (LSH *recall* is probabilistic by design — see
    * sim_lsh_recall — but false positives must be exactly zero.) */
  private[graft] val dedupMinhashPrecision = Q("dedup_minhash_precision",
    (s, dir) => {
      // one row per doc id: under duplicate ids "pair (a,b)" is
      // ill-defined and the verification joins amplify quadratically
      // (the 10x rehearsal, which replicates files id-and-all, went
      // 28x superlinear without this)
      val docs = t(s, dir, "documents").dropDuplicates("doc_id")
      // materialize the (small) pair set once: it feeds both the id
      // semi-join and the verification join, and the interpreted HOF
      // recompute below must only ever run over docs IN pairs — not
      // the whole corpus (measured 2.5 s of wasted shingling at sf0.1)
      val pairs = Dedup.minhashDedup(docs, "text", "doc_id",
        threshold = 0.4).scratchCheckpoint(true)
      val ids = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
      val k = 3
      // bind tokens once per row — a captured split() re-evaluates at
      // every gram inside the transform lambda (ColOps.bound scaladoc)
      val grams = graft.functions.ColOps.bound(
        split(trim(lower(coalesce(col("text"), lit("")))), "\\s+")) { toks =>
        when(size(toks) < k, array(array_join(toks, " ")))
          .otherwise(array_distinct(transform(
            sequence(lit(0), size(toks) - k),
            i => array_join(slice(toks, i + lit(1), lit(k)), " "))))
      }
      val sh = docs.join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), grams.as("sh"))
      pairs
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("ra")),
          Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("rb")),
          Seq("id_b"))
        .withColumn("j2",
          size(array_intersect(col("ra"), col("rb"))).cast("double") /
            size(array_union(col("ra"), col("rb"))).cast("double"))
        .agg(
          count(when(col("j2") < 0.4, 1)).as("below_threshold"),
          count(when(abs(col("j2") - col("jaccard")) > 1e-12, 1))
            .as("mismatched"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS below_threshold,
      CAST(0 AS BIGINT) AS mismatched"""))

  /** SimHash invariants, oracle-checked against constants. Precision:
    * every emitted pair's Hamming distance — recomputed from fresh
    * per-doc simhashes through an independent join — is within the
    * radius and equal to the reported value. Completeness: the
    * pigeonhole chunking must find EVERY pair within the radius, so a
    * bounded-id brute-force sweep left-anti-joined against the operator
    * output must come back empty (this is the property the round-2 fix
    * restored; now it is regression-proofed in the oracle gate, not
    * just a spec). */
  private[graft] val dedupSimhashInvariants = Q("dedup_simhash_invariants",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.simhashPairs(docs, "text", "doc_id",
        maxHamming = 3)
      val sh = docs.select(col("doc_id"),
        Dedup.simhash(col("text")).as("sh"))
      val recomputed = pairs
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sa")),
          Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sb")),
          Seq("id_b"))
        .withColumn("h2", bit_count(col("sa").bitwiseXOR(col("sb"))))
        .agg(
          count(when(col("h2") > 3, 1)).as("over_radius"),
          count(when(col("h2") =!= col("hamming"), 1)).as("mismatched"))
      val bounded = docs.filter(col("doc_id") < 2000)
      val bsh = bounded.select(col("doc_id"),
        Dedup.simhash(col("text")).as("sh"))
      val brute = bsh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
        .crossJoin(bsh.select(col("doc_id").as("id_b"),
          col("sh").as("sb")))
        .filter(col("id_a") < col("id_b") &&
          bit_count(col("sa").bitwiseXOR(col("sb"))) <= 3)
        .select("id_a", "id_b")
      val missed = brute
        .join(Dedup.simhashPairs(bounded, "text", "doc_id", maxHamming = 3),
          Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("missed"))
      recomputed.crossJoin(missed)
    },
    Some("""SELECT CAST(0 AS BIGINT) AS over_radius,
      CAST(0 AS BIGINT) AS mismatched, CAST(0 AS BIGINT) AS missed"""))

  /** COVERAGE floor of the MinHash+LSH candidate generator, oracled
    * against a constant. The precision invariant above is one-sided: a
    * regression that makes `minhashCandidates` silently emit ZERO pairs
    * still passes it (0 pairs → 0 violations). The pipeline is fully
    * deterministic for a fixed corpus (xxhash64 signatures, fixed band
    * geometry), so the sf0.01 pair count is a frozen constant — 25,
    * measured 2026-08-12 — and any drop below it means candidate
    * generation degraded. The id-dedup keeps the count well-defined
    * under rehearsal layouts that replicate files id-and-all. */
  private[graft] val dedupMinhashFloor = Q("dedup_minhash_floor",
    (s, dir) => {
      val docs = t(s, dir, "documents").dropDuplicates("doc_id")
      Dedup.minhashDedup(docs, "text", "doc_id", threshold = 0.4)
        .agg(greatest(lit(0L), lit(25L) - count(lit(1)))
          .as("pair_shortfall"))
    },
    Some("SELECT CAST(0 AS BIGINT) AS pair_shortfall"))

  /** COVERAGE floor of the SimHash pigeonhole candidate generator —
    * same rationale as dedup_minhash_floor (the invariants query proves
    * emitted pairs are correct and the bounded sweep is complete, but a
    * zero-candidate regression outside the bounded id range would slip
    * through). sf0.01 pair count frozen at 17 (measured 2026-08-12;
    * deterministic: xxhash64 token hashes, fixed chunk geometry). */
  private[graft] val dedupSimhashFloor = Q("dedup_simhash_floor",
    (s, dir) => {
      val docs = t(s, dir, "documents").dropDuplicates("doc_id")
      Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
        .agg(greatest(lit(0L), lit(17L) - count(lit(1)))
          .as("pair_shortfall"))
    },
    Some("SELECT CAST(0 AS BIGINT) AS pair_shortfall"))

  /** The near-dup dedup composition AT THE SCALE PATH, end to end:
    * MinHash+LSH candidate pairs (bucketed joins, no crossJoin) →
    * connected-component clustering → min-id survivors. This is what a
    * 100 TB corpus actually runs (dedup_corpus demonstrates the same
    * composition with brute-force pairs on a bounded id range). The
    * cluster MEMBERSHIP is engine-specific (xxhash64 signatures), but
    * its aggregate shape is deterministic for the fixed sf0.01 corpus —
    * members/clusters/dropped frozen 2026-08-12 — so the whole
    * composition is oracle-gated: a regression in banding, clustering
    * convergence, or survivor election shifts these counts. */
  private[graft] val dedupMinhashCorpus = Q("dedup_minhash_corpus",
    (s, dir) => {
      val docs = t(s, dir, "documents").dropDuplicates("doc_id")
      val pairs = Dedup.minhashDedup(docs, "text", "doc_id",
        threshold = 0.4).select("id_a", "id_b")
      Dedup.dedupClusters(pairs).agg(
        count(lit(1)).as("n_members"),
        count_distinct(col("keep_id")).as("n_clusters"),
        count(when(!col("is_kept"), 1)).as("n_dropped"))
    },
    Some("""SELECT CAST(47 AS BIGINT) AS n_members,
      CAST(23 AS BIGINT) AS n_clusters,
      CAST(24 AS BIGINT) AS n_dropped"""))

  /** Exact token-set Jaccard near-dup pairs on a bounded id range —
    * engine-portable (pure set sizes → integer division), oracled. */
  private[graft] val dedupNgramJaccard = Q("dedup_ngram_jaccard",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "" &&
          col("doc_id") < 200)
        // identity on the real corpus (unique ids); keeps the bounded
        // pair demo bounded under rehearsal layouts that replicate
        // files id-and-all (100 copies/id would square the crossJoin)
        .dropDuplicates("doc_id")
        .select(col("doc_id"),
          array_distinct(split(trim(lower(col("text"))), "\\s+"))
            .as("toks"))
      val a = docs.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = docs.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))).cast("double"))
        .filter(col("jaccard") >= 0.9)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    },
    Some("""WITH s AS (SELECT doc_id,
        list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
      FROM documents
      WHERE text IS NOT NULL AND trim(text) != '' AND doc_id < 200)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) AS jaccard
      FROM s a, s b WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.9
      ORDER BY id_a, id_b"""))

  /** Corpus dedup decision: cluster the exact-Jaccard near-dup pairs
    * (same bounded pair set as dedup_ngram_jaccard) into connected
    * components and pick the min-id canonical doc per cluster. Oracle:
    * transitive closure via a recursive CTE. */
  private[graft] val dedupCorpus = Q("dedup_corpus",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "" &&
          col("doc_id") < 200)
        // identity on the real corpus (unique ids); keeps the bounded
        // pair demo bounded under rehearsal layouts that replicate
        // files id-and-all (100 copies/id would square the crossJoin)
        .dropDuplicates("doc_id")
        .select(col("doc_id"),
          array_distinct(split(trim(lower(col("text"))), "\\s+"))
            .as("toks"))
      val a = docs.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = docs.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))).cast("double"))
        .filter(col("jaccard") >= 0.9)
        .select("id_a", "id_b")
      graft.llmops.Dedup.dedupClusters(pairs).orderBy("id")
    },
    Some("""WITH s AS (SELECT doc_id,
        list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
      FROM documents
      WHERE text IS NOT NULL AND trim(text) != '' AND doc_id < 200),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a, s b WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.9),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM edges)
      , reach AS (
        WITH RECURSIVE r(a, b) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
        SELECT a, b FROM r)
      SELECT id, keep_id, id = keep_id AS is_kept FROM (
        SELECT a AS id, MIN(b) AS keep_id FROM reach GROUP BY a)
      ORDER BY id"""))

  /** QUALITY-AWARE survivor election — the curation semantics a real
    * training-data pipeline wants from near-dup clusters: exact-dup
    * copies are interchangeable, but NEAR-dup cluster members differ
    * (truncations, quote-expansions, boilerplate variants), and
    * min-id election keeps whichever happened to be crawled first.
    * This row elects per cluster by (n_tokens DESC, doc_id ASC) —
    * keep the LONGEST member, the standard keep-the-superset rule; a
    * production pipeline swaps in any portable score (the
    * text_quality_profile columns compose here unchanged). Same
    * bounded portable pair set + clustering as [[dedupCorpus]]; the
    * election itself is one `min_by` over a (-n_tokens, id) struct —
    * map-side partial, no window, no text in the shuffle (ids and two
    * ints). Oracle recomputes everything in DuckDB: recursive-CTE
    * transitive closure + ROW_NUMBER election — a true cross-engine
    * equivalence, not a frozen snapshot. At 100 TB the pair source is
    * the MinHash band join and the cluster pass is [[dedupMinhashCorpus]]'s;
    * the election step is unchanged (cluster_id keyed, constant
    * payload). */
  private[graft] val dedupSurvivorQuality = Q("dedup_survivor_quality",
    (s, dir) => Scratch.scoped {
      val base = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "" &&
          col("doc_id") < 200)
        // identity on the real corpus (unique ids); keeps the bounded
        // pair demo bounded under rehearsal layouts that replicate
        // files id-and-all (100 copies/id would square the crossJoin)
        .dropDuplicates("doc_id")
        .scratchCheckpoint(true) // feeds pairs AND the n_tokens join
      val docs = base.select(col("doc_id"),
        array_distinct(split(trim(lower(col("text"))), "\\s+")).as("toks"))
      val a = docs.select(col("doc_id").as("id_a"), col("toks").as("ta"))
      val b = docs.select(col("doc_id").as("id_b"), col("toks").as("tb"))
      val pairs = a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("jaccard",
          size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))).cast("double"))
        .filter(col("jaccard") >= 0.9)
        .select("id_a", "id_b")
      val ntok = base.select(col("doc_id").as("id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      graft.llmops.Dedup.dedupClusters(pairs)
        .join(ntok, Seq("id"))
        .groupBy(col("keep_id").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          min_by(struct(col("id"), col("n_tokens")),
            struct((-col("n_tokens")).as("neg_nt"), col("id"))).as("s"))
        .select(col("cluster_id"), col("cluster_size"),
          col("s.id").as("keep_id"), col("s.n_tokens").as("n_tokens"))
        .orderBy("cluster_id")
        .scratchCheckpoint(true) // frees base and the clustering rounds
    },
    Some("""WITH s AS (SELECT doc_id, text,
        list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks
      FROM documents
      WHERE text IS NOT NULL AND trim(text) != '' AND doc_id < 200),
      pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a, s b WHERE a.doc_id < b.doc_id
        AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
          CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS DOUBLE) >= 0.9),
      edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT src AS id FROM edges)
      , reach AS (
        WITH RECURSIVE r(a, b) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
        SELECT a, b FROM r),
      comp AS (SELECT a AS id, MIN(b) AS cluster_id FROM reach GROUP BY a),
      nt AS (SELECT doc_id AS id,
        CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
          AS n_tokens FROM s),
      ranked AS (SELECT c.cluster_id, c.id, nt.n_tokens,
        ROW_NUMBER() OVER (PARTITION BY c.cluster_id
          ORDER BY nt.n_tokens DESC, c.id) AS rn
        FROM comp c JOIN nt ON nt.id = c.id),
      sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT)
        AS cluster_size FROM comp GROUP BY 1)
      SELECT r.cluster_id, z.cluster_size, r.id AS keep_id, r.n_tokens
      FROM ranked r JOIN sizes z USING (cluster_id) WHERE rn = 1
      ORDER BY cluster_id"""))

  /** Incremental corpus dedup — the shape every RUNNING training-data
    * pipeline needs: a new batch is deduped against the accumulated
    * corpus by content fingerprint (left-anti on the digest — the
    * shuffle carries 16-byte md5s, never text) and within itself
    * (min-id survivor per fingerprint). Here the corpus/batch split is
    * a deterministic id cut so the whole decision is oracle-checkable. */
  private[graft] val dedupIncremental = Q("dedup_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val fp = TextAnalysis.fingerprintMd5(col("text"))
      val existing = docs.filter(col("doc_id") < 250)
        .select(fp.as("fingerprint")).distinct()
      val firstIn = docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), fp.as("fingerprint"))
        .groupBy("fingerprint").agg(min(col("doc_id")).as("doc_id"))
      firstIn.join(existing, Seq("fingerprint"), "left_anti")
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    },
    Some(raw"""WITH fp AS (SELECT doc_id,
        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents),
      existing AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
      firstin AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM fp
        WHERE doc_id >= 250 GROUP BY 1)
      SELECT doc_id, fingerprint FROM firstin f
      WHERE NOT EXISTS (SELECT 1 FROM existing e
        WHERE e.fingerprint = f.fingerprint)
      ORDER BY doc_id"""))

  /** Bloom-accelerated incremental dedup
    * ([[Dedup.incrementalDedupBloom]]): same corpus/batch split and
    * SAME ORACLE as dedup_incremental — the Bloom filter is a router,
    * not a decider, so the output must be byte-identical while the
    * exact anti-join only sees the "maybe seen" sliver. The oracle
    * equality IS the exactness proof of the routing. */
  private[graft] val dedupIncrementalBloom = Q("dedup_incremental_bloom",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val fp = TextAnalysis.fingerprintMd5(col("text"))
      val existing = docs.filter(col("doc_id") < 250)
        .select(fp.as("fingerprint")).distinct()
      Dedup.incrementalDedupBloom(existing, "fingerprint",
        docs.filter(col("doc_id") >= 250), "doc_id", fp, "fingerprint",
        expectedItems = 500L)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    },
    Some(raw"""WITH fp AS (SELECT doc_id,
        md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents),
      existing AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 250),
      firstin AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM fp
        WHERE doc_id >= 250 GROUP BY 1)
      SELECT doc_id, fingerprint FROM firstin f
      WHERE NOT EXISTS (SELECT 1 FROM existing e
        WHERE e.fingerprint = f.fingerprint)
      ORDER BY doc_id"""))

  /** Embedding cosine near-dup pairs — quantized to BIGINT so dot
    * products are exact integers in any engine; bounded id range keeps
    * the O(n²) pair space constant across scale factors (the unbounded
    * scale path is LSH bucketing, `sim_topk_lsh`). */
  private def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000.0)).cast("long"))

  private def qdot(a: Column, b: Column): Column =
    graft.functions.HashExprs.dotLong(a, b)

  private def qcos(a: Column, b: Column): Column =
    qdot(a, b).cast("double") /
      (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double")))

  /** SEMANTIC decontamination — the embedding-space complement of the
    * n-gram `text_decontaminate`: a corpus item whose embedding is too
    * close to ANY test-set item is flagged as probable eval leakage
    * (paraphrases and translations that share no 5-gram still share a
    * neighborhood). Plan mirrors the n-gram twin's 100 TB shape: the
    * TEST side is broadcast (test sets are benchmark-sized by nature),
    * the corpus side streams through a BroadcastNestedLoopJoin with a
    * map-side partial max — the only exchange carries one
    * (vec_id, max_sim) pair per corpus row. A test set too large to
    * broadcast composes with the LSH bucketing `dedup_embedding_lsh`
    * uses instead. Exact integer dot products (the shared
    * quantize/qcos helpers) keep the similarity — and therefore the
    * flag set — bit-identical across engines and shuffle orders.
    * NO dedup guard on either side, deliberately: MAX is idempotent
    * under the duplicate vec_ids a rehearsal layout introduces, and
    * the dropDuplicates other embedding queries use would plan a
    * corpus-wide VECTOR shuffle below the join — the guardrail spec
    * pins that the corpus side stays exchange-free. */
  private[graft] val decontaminateSemantic = Q("decontaminate_semantic",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      val test = e.filter(col("vec_id") % 19 === 0)
        .select(col("vec_id").as("t_id"), col("q").as("tq"))
      e.filter(col("vec_id") % 19 =!= 0)
        .crossJoin(broadcast(test))
        .withColumn("cos_sim", qcos(col("q"), col("tq")))
        .groupBy("vec_id")
        .agg(max(col("cos_sim")).as("max_test_sim"))
        .filter(col("max_test_sim") >= 0.4)
        .orderBy("vec_id")
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      FROM embeddings),
      tst AS (SELECT vec_id AS t_id, q AS tq FROM e WHERE vec_id % 19 = 0),
      c AS (SELECT vec_id, q FROM e WHERE vec_id % 19 <> 0)
      SELECT c.vec_id,
        MAX(list_dot_product(c.q, tst.tq) /
          (sqrt(list_dot_product(c.q, c.q)) *
           sqrt(list_dot_product(tst.tq, tst.tq)))) AS max_test_sim
      FROM c, tst
      GROUP BY c.vec_id
      HAVING MAX(list_dot_product(c.q, tst.tq) /
          (sqrt(list_dot_product(c.q, c.q)) *
           sqrt(list_dot_product(tst.tq, tst.tq)))) >= 0.4
      ORDER BY c.vec_id"""))

  private[graft] val dedupEmbedding = Q("dedup_embedding",
    (s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") < 1000)
        .dropDuplicates("vec_id") // rehearsal-layout guard, see dedupCorpus
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      val a = e.select(col("vec_id").as("id_a"), col("q").as("qa"))
      val b = e.select(col("vec_id").as("id_b"), col("q").as("qb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("cos_sim", qcos(col("qa"), col("qb")))
        .filter(col("cos_sim") >= 0.4)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      FROM embeddings WHERE vec_id < 1000)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        list_dot_product(a.q, b.q) /
          (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))) AS cos_sim
      FROM e a, e b WHERE a.vec_id < b.vec_id
        AND list_dot_product(a.q, b.q) /
          (sqrt(list_dot_product(a.q, a.q)) * sqrt(list_dot_product(b.q, b.q))) >= 0.4
      ORDER BY id_a, id_b"""))

  /** Embedding cosine near-dup AT THE SCALE PATH: LSH-bucketed
    * candidate pairs + exact-cosine verify
    * ([[Similarity.lshNearDupPairs]] — equi-joins on (table, bucket),
    * no crossJoin, id-pair dedup before vectors rejoin). This is what
    * an unbounded corpus runs; `dedup_embedding` is the bounded-id
    * brute-force twin that defines ground truth. Seeded hyperplanes
    * make the pair set deterministic per corpus: oracle is the frozen
    * sf0.01 result (23 pairs, captured 2026-08-12 — recall 23/60 vs
    * the brute-force twin, matching the hyperplane collision model
    * 1-(1-p^6)^8 ~= 0.41 at p = 1-acos(0.4)/pi for this weak-structure
    * corpus); precision/coverage are also gated scale-independently by
    * dedup_embedding_lsh_gate. */
  private[graft] val dedupEmbeddingLsh = Q("dedup_embedding_lsh",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      Similarity.lshNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.4, numPlanes = 6, numTables = 8)
        .orderBy("id_a", "id_b")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(7 AS BIGINT), CAST(425 AS BIGINT), CAST('0.4075199341921925' AS DOUBLE)),
      (CAST(24 AS BIGINT), CAST(234 AS BIGINT), CAST('0.4315317006385118' AS DOUBLE)),
      (CAST(24 AS BIGINT), CAST(298 AS BIGINT), CAST('0.42270265113884714' AS DOUBLE)),
      (CAST(24 AS BIGINT), CAST(384 AS BIGINT), CAST('0.4145163121789919' AS DOUBLE)),
      (CAST(28 AS BIGINT), CAST(305 AS BIGINT), CAST('0.4564322360693374' AS DOUBLE)),
      (CAST(35 AS BIGINT), CAST(351 AS BIGINT), CAST('0.40653282290929493' AS DOUBLE)),
      (CAST(44 AS BIGINT), CAST(301 AS BIGINT), CAST('0.4596665428707692' AS DOUBLE)),
      (CAST(45 AS BIGINT), CAST(298 AS BIGINT), CAST('0.4555501766574249' AS DOUBLE)),
      (CAST(75 AS BIGINT), CAST(256 AS BIGINT), CAST('0.4563095159142706' AS DOUBLE)),
      (CAST(83 AS BIGINT), CAST(310 AS BIGINT), CAST('0.4024361035786049' AS DOUBLE)),
      (CAST(159 AS BIGINT), CAST(202 AS BIGINT), CAST('0.4031424785766' AS DOUBLE)),
      (CAST(181 AS BIGINT), CAST(194 AS BIGINT), CAST('0.40839065984757617' AS DOUBLE)),
      (CAST(183 AS BIGINT), CAST(399 AS BIGINT), CAST('0.4032567048050842' AS DOUBLE)),
      (CAST(195 AS BIGINT), CAST(317 AS BIGINT), CAST('0.4494482735608698' AS DOUBLE)),
      (CAST(198 AS BIGINT), CAST(468 AS BIGINT), CAST('0.42922837951725396' AS DOUBLE)),
      (CAST(207 AS BIGINT), CAST(326 AS BIGINT), CAST('0.41677282445831315' AS DOUBLE)),
      (CAST(234 AS BIGINT), CAST(384 AS BIGINT), CAST('0.4448159750076739' AS DOUBLE)),
      (CAST(253 AS BIGINT), CAST(385 AS BIGINT), CAST('0.4045557606187039' AS DOUBLE)),
      (CAST(290 AS BIGINT), CAST(325 AS BIGINT), CAST('0.45875415036848505' AS DOUBLE)),
      (CAST(338 AS BIGINT), CAST(406 AS BIGINT), CAST('0.4826603508971818' AS DOUBLE)),
      (CAST(350 AS BIGINT), CAST(395 AS BIGINT), CAST('0.40708608034117577' AS DOUBLE)),
      (CAST(350 AS BIGINT), CAST(479 AS BIGINT), CAST('0.4429217489751484' AS DOUBLE)),
      (CAST(387 AS BIGINT), CAST(388 AS BIGINT), CAST('0.4666406976988793' AS DOUBLE))
      ) v(id_a, id_b, cos_sim) ORDER BY id_a, id_b"""))

  /** Invariants of the LSH embedding near-dup, oracle-checked against
    * constants: (precision) every emitted pair's cosine — recomputed
    * through the interpreted HOF dot product, independent of the
    * codegen'd CosineSim both the index and verify stage use — must
    * clear the threshold and equal the reported score; (coverage) the
    * sf0.01 pair count must not drop below its frozen floor (measured
    * 2026-08-12; a regression collapsing the buckets to nothing would
    * pass the precision side vacuously). Same bracketed-from-both-
    * sides shape as the MinHash/SimHash gates. */
  private[graft] val dedupEmbeddingLshGate = Q("dedup_embedding_lsh_gate",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val pairs = Similarity.lshNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.4, numPlanes = 6, numTables = 8)
        .scratchCheckpoint(true) // feeds the recompute join AND the count
      val rec = pairs
        .join(e.select(col("vec_id").as("id_a"),
          col("embedding").as("ea")), Seq("id_a"))
        .join(e.select(col("vec_id").as("id_b"),
          col("embedding").as("eb")), Seq("id_b"))
        .withColumn("true_cos",
          Similarity.dot(col("ea"), col("eb")) /
            (Similarity.norm(col("ea")) * Similarity.norm(col("eb"))))
        .agg(
          count(when(col("true_cos") < 0.4 - 1e-12, 1))
            .as("below_threshold"),
          count(when(abs(col("true_cos") - col("cos_sim")) > 1e-9, 1))
            .as("mismatched"))
      rec.crossJoin(pairs.agg(
        greatest(lit(0L), lit(DedupEmbeddingLshFloor) - count(lit(1)))
          .as("pair_shortfall")))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS below_threshold,
      CAST(0 AS BIGINT) AS mismatched,
      CAST(0 AS BIGINT) AS pair_shortfall"""))

  /** sf0.01 pair count of dedup_embedding_lsh, frozen 2026-08-12. */
  private val DedupEmbeddingLshFloor = 23L

  /** The SCALE-PARAMETERIZED twin of `dedup_embedding_lsh`: planes
    * derived from the corpus count via [[Similarity.planesFor]]
    * (ceil(log2(n/target)), target bucket population 2 — the
    * operating point SCALE.md's salted rehearsals pinned) instead of
    * the frozen row's numPlanes=6, which is quadratic BY CONSTRUCTION
    * at a 2M-vector corpus (measured round 14: 63 GB of spilled
    * candidates, disk-full). This row is the registry exercising the
    * DEPLOYMENT RULE: the one metadata-sized `count()` at planning
    * time is the rule's input (dim-sized scalar job, not a
    * collect-and-loop), and the emitted `n_planes` column pins in the
    * oracle that the rule computed the tier's value (8 at the sf0.01
    * corpus of 500 vectors; 10 at sf0.1's 2000 — the bench row runs
    * the bigger operating point with no oracle change needed).
    * numTables=16 buys back the recall the extra planes cost, the
    * planes/tables trade documented in SCALE.md's round-14 LSH
    * parameterization law. Oracle: frozen sf0.01 VALUES at exactly
    * this operating point (captured 2026-08-16), precision covered by
    * the exact cos_sim values like the fixed twin. */
  /** Frozen sf0.01 result of dedup_embedding_lsh_scaled (18 pairs at
    * the planesFor operating point: n=500 -> 8 planes, 16 tables;
    * captured 2026-08-16). */
  private val DedupEmbeddingLshScaledOracle: String =
    """SELECT * FROM (VALUES
      (CAST(24 AS BIGINT), CAST(384 AS BIGINT), CAST('0.4145163121789919' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(28 AS BIGINT), CAST(305 AS BIGINT), CAST('0.4564322360693374' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(35 AS BIGINT), CAST(351 AS BIGINT), CAST('0.40653282290929493' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(45 AS BIGINT), CAST(298 AS BIGINT), CAST('0.4555501766574249' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(83 AS BIGINT), CAST(310 AS BIGINT), CAST('0.4024361035786049' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(150 AS BIGINT), CAST(152 AS BIGINT), CAST('0.41825457548289297' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(156 AS BIGINT), CAST(438 AS BIGINT), CAST('0.4748975935812026' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(159 AS BIGINT), CAST(202 AS BIGINT), CAST('0.4031424785766' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(172 AS BIGINT), CAST(440 AS BIGINT), CAST('0.4314924378106927' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(183 AS BIGINT), CAST(399 AS BIGINT), CAST('0.4032567048050842' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(195 AS BIGINT), CAST(317 AS BIGINT), CAST('0.4494482735608698' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(198 AS BIGINT), CAST(468 AS BIGINT), CAST('0.42922837951725396' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(205 AS BIGINT), CAST(485 AS BIGINT), CAST('0.4074213863005626' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(207 AS BIGINT), CAST(326 AS BIGINT), CAST('0.41677282445831315' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(238 AS BIGINT), CAST(287 AS BIGINT), CAST('0.4515679816465742' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(290 AS BIGINT), CAST(331 AS BIGINT), CAST('0.41294382149985975' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(338 AS BIGINT), CAST(406 AS BIGINT), CAST('0.4826603508971818' AS DOUBLE), CAST(8 AS BIGINT)),
      (CAST(350 AS BIGINT), CAST(395 AS BIGINT), CAST('0.40708608034117577' AS DOUBLE), CAST(8 AS BIGINT))
      ) v(id_a, id_b, cos_sim, n_planes) ORDER BY id_a, id_b"""

  private[graft] val dedupEmbeddingLshScaled =
    Q("dedup_embedding_lsh_scaled",
      (s, dir) => {
        val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
        val planes = Similarity.planesFor(e.count(), targetBucketPop = 2)
        Similarity.lshNearDupPairs(e, "vec_id", "embedding",
          threshold = 0.4, numPlanes = planes, numTables = 16)
          .withColumn("n_planes", lit(planes.toLong))
          .orderBy("id_a", "id_b")
      },
      Some(DedupEmbeddingLshScaledOracle))


  /** SemDeDup semantic dedup ([[Similarity.semanticDedup]], the
    * public Abbas et al. 2023 recipe): seeded-codebook clustering,
    * within-cell cosine, greedy min-id survivor. Emits the DROPPED
    * rows (id, cell, smallest dominator, its cosine) — the corpus
    * minus these ids is the semantically-deduped training set. The
    * codebook init and Lloyd round are deterministic for the fixed
    * sf0.01 corpus, so the drop set is frozen as a VALUES oracle
    * (captured 2026-08-12); semantics are gated scale-independently
    * by dedup_semantic_gate. */
  private[graft] val dedupSemantic = Q("dedup_semantic",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      Similarity.semanticDedup(e, "vec_id", "embedding",
        threshold = 0.4)
        .filter(col("dup_of").isNotNull)
        .orderBy("id")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(142 AS BIGINT), CAST(0 AS BIGINT), CAST(108 AS BIGINT), CAST('0.4371638546169917' AS DOUBLE)),
      (CAST(190 AS BIGINT), CAST(0 AS BIGINT), CAST(84 AS BIGINT), CAST('0.41242951275383144' AS DOUBLE)),
      (CAST(210 AS BIGINT), CAST(15 AS BIGINT), CAST(70 AS BIGINT), CAST('0.4065142208250334' AS DOUBLE)),
      (CAST(287 AS BIGINT), CAST(6 AS BIGINT), CAST(238 AS BIGINT), CAST('0.4515679816465742' AS DOUBLE)),
      (CAST(291 AS BIGINT), CAST(8 AS BIGINT), CAST(262 AS BIGINT), CAST('0.41742628101030044' AS DOUBLE)),
      (CAST(305 AS BIGINT), CAST(12 AS BIGINT), CAST(28 AS BIGINT), CAST('0.4564322360693374' AS DOUBLE)),
      (CAST(340 AS BIGINT), CAST(7 AS BIGINT), CAST(7 AS BIGINT), CAST('0.4927657135003488' AS DOUBLE)),
      (CAST(388 AS BIGINT), CAST(0 AS BIGINT), CAST(387 AS BIGINT), CAST('0.4666406976988793' AS DOUBLE)),
      (CAST(402 AS BIGINT), CAST(12 AS BIGINT), CAST(16 AS BIGINT), CAST('0.44630134007488836' AS DOUBLE)),
      (CAST(421 AS BIGINT), CAST(3 AS BIGINT), CAST(120 AS BIGINT), CAST('0.41044348685698145' AS DOUBLE)),
      (CAST(425 AS BIGINT), CAST(7 AS BIGINT), CAST(7 AS BIGINT), CAST('0.4075199341921925' AS DOUBLE)),
      (CAST(430 AS BIGINT), CAST(6 AS BIGINT), CAST(53 AS BIGINT), CAST('0.4078553306448903' AS DOUBLE)),
      (CAST(431 AS BIGINT), CAST(13 AS BIGINT), CAST(191 AS BIGINT), CAST('0.4420580850530819' AS DOUBLE)),
      (CAST(466 AS BIGINT), CAST(7 AS BIGINT), CAST(169 AS BIGINT), CAST('0.5128367777446692' AS DOUBLE))
      ) v(id, cell_id, dup_of, cos_sim) ORDER BY id"""))

  /** Invariants of the semantic dedup, oracle-checked against
    * constants, bracketing the frozen output from both sides:
    * (precision) every dropped row's dominator is a smaller id in the
    * SAME cell whose interpreted-HOF cosine matches the reported score
    * and clears the threshold; (completeness) no two SURVIVORS in the
    * same cell score at-or-above the threshold — the greedy min-id
    * rule guarantees this, so a violation means the dominance scan
    * missed a pair; (partition) every corpus id appears exactly once
    * in the output; (coverage) the sf0.01 drop count holds its frozen
    * floor. */
  private[graft] val dedupSemanticGate = Q("dedup_semantic_gate",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      // Round-16 gate-audit conversion (the graph_kcore_gate /
      // quality_classifier_gate pattern): the drop set a deployment
      // trusts is the COMMITTED artifact, so the gate certifies THAT
      // instead of re-running semanticDedup through the identical
      // code path per attempt — a recompute that adds no check while
      // pricing the kernel twice (the base row `dedup_semantic`
      // remains the kernel's pricing row). The INDEPENDENT legs —
      // interpreted-HOF cosine recomputation, survivor-pair sweep,
      // partition counts — are untouched: they are the certificate,
      // and they now audit the artifact bytes rather than a throwaway
      // in-memory twin.
      val st = QueriesRelational.stagedArtifact(dir, "semdedup_scores") {
        tbl =>
          graft.sources.ManifestTable.commitAppend(s, tbl,
            Similarity.semanticDedup(e, "vec_id", "embedding",
              threshold = 0.4))
      }
      val out = graft.sources.ManifestTable
        .read(s, st.table, Some(st.version))
        .scratchCheckpoint(true)
      val ev = e.select(col("vec_id"), col("embedding"))
      val dropped = out.filter(col("dup_of").isNotNull)
      val prec = dropped
        .join(ev.select(col("vec_id").as("id"),
          col("embedding").as("ei")), Seq("id"))
        .join(ev.select(col("vec_id").as("dup_of"),
          col("embedding").as("ed")), Seq("dup_of"))
        .join(out.select(col("id").as("dup_of"),
          col("cell_id").as("dom_cell")), Seq("dup_of"))
        .withColumn("true_cos",
          Similarity.dot(col("ei"), col("ed")) /
            (Similarity.norm(col("ei")) * Similarity.norm(col("ed"))))
        .agg(
          count(when(col("dup_of") >= col("id") or
            col("dom_cell") =!= col("cell_id"), 1))
            .as("bad_dominator"),
          count(when(col("true_cos") < 0.4 - 1e-12 or
            abs(col("true_cos") - col("cos_sim")) > 1e-9, 1))
            .as("misscored"))
      // norms are computed ONCE per survivor below the self-join (a
      // Project never collapses through a join) — recomputing them
      // per pair would triple the interpreted-HOF work inside the
      // per-cell quadratic sweep, the expensive part of this audit
      val survivors = out.filter(col("dup_of").isNull)
        .join(ev.select(col("vec_id").as("id"), col("embedding")),
          Seq("id"))
        .withColumn("nrm", Similarity.norm(col("embedding")))
      val comp = survivors.select(col("cell_id"), col("id").as("id_a"),
          col("embedding").as("ea"), col("nrm").as("na"))
        .join(survivors.select(col("cell_id"), col("id").as("id_b"),
          col("embedding").as("eb"), col("nrm").as("nb")), Seq("cell_id"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("c",
          Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .agg(count(when(col("c") >= 0.4, 1)).as("survivor_pairs_over"))
      val part = out.agg(
        count(lit(1)).as("n_out"),
        countDistinct(col("id")).as("n_ids"),
        count(when(col("dup_of").isNotNull, 1)).as("n_drop"))
        .crossJoin(ev.agg(count(lit(1)).as("n_corpus")))
        .select((col("n_out") - col("n_corpus")).as("extra_or_missing"),
          (col("n_out") - col("n_ids")).as("id_dupes"),
          greatest(lit(0L), lit(DedupSemanticFloor) - col("n_drop"))
            .as("drop_shortfall"))
      prec.crossJoin(comp).crossJoin(part)
    },
    Some("""SELECT CAST(0 AS BIGINT) AS bad_dominator,
      CAST(0 AS BIGINT) AS misscored,
      CAST(0 AS BIGINT) AS survivor_pairs_over,
      CAST(0 AS BIGINT) AS extra_or_missing,
      CAST(0 AS BIGINT) AS id_dupes,
      CAST(0 AS BIGINT) AS drop_shortfall"""))

  /** sf0.01 dropped-id count of dedup_semantic, frozen 2026-08-12. */
  private val DedupSemanticFloor = 14L

  // ======================================================================
  // LLM-data-pipeline extensions: similarity search
  // ======================================================================

  /** Brute-force cosine top-k (quantized for the oracle): query vectors
    * vec_id < 5 against the full corpus, k = 5. */
  private[graft] val simTopkBrute = Q("sim_topk_bruteforce",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      Similarity.topK(Similarity.probe(e, qs, "vec_id")
          .withColumn("cos_sim", qcos(col("qq"), col("q"))),
        5, "rank", col("cos_sim").desc, col("vec_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id").as("neighbor_id"), col("cos_sim"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      FROM embeddings),
      qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < 5),
      scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        list_dot_product(qq, e.q) /
          (sqrt(list_dot_product(qq, qq)) * sqrt(list_dot_product(e.q, e.q))) AS cos_sim
        FROM qs, e WHERE e.vec_id != query_id)
      SELECT query_id, rank, neighbor_id, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** RANGE (radius) search — all neighbors with cosine ≥ τ, the
    * retrieval mode top-k can't express (near-dup candidate pulls and
    * dedup admission want EVERY match above a similarity bar, however
    * many or few: one probe here legitimately matches 14, another 6).
    * τ = 0.25 sits in this corpus's discriminative band (max true sim
    * ≈ 0.40). Exact scan baseline: broadcast probes × corpus scan,
    * threshold applied BEFORE any exchange — the only shuffle is the
    * contract orderBy on matched rows. The integer-quantized cosine
    * makes the τ comparison bit-identical cross-engine (a float
    * pipeline would flip rows at the boundary); the LSH band machinery
    * (`sim_topk_lsh`/`dedup_embedding_lsh`) is the documented scale
    * path when the corpus outgrows full scans — this row pins the
    * exact semantics those candidates must reproduce. */
  private[graft] val simRangeSearch = Q("sim_range_search",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      // probe-side id dedup: the query batch is FIXED as the corpus
      // grows (the retrieval_rrf lesson — a file-replicating rehearsal
      // layout that also duplicates probe ids would square the scored
      // pair space, a quadratic artifact no production range search has)
      val qs = e.filter(col("vec_id") < 5).dropDuplicates("vec_id")
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      Similarity.probe(e, qs, "vec_id")
        .withColumn("cos_sim", qcos(col("qq"), col("q")))
        .filter(col("cos_sim") >= 0.25)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cos_sim"))
        .orderBy("query_id", "neighbor_id")
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      FROM embeddings),
      qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < 5)
      SELECT query_id, e.vec_id AS neighbor_id,
        list_dot_product(qq, e.q) /
          (sqrt(list_dot_product(qq, qq)) *
           sqrt(list_dot_product(e.q, e.q))) AS cos_sim
      FROM qs, e
      WHERE e.vec_id != query_id
        AND list_dot_product(qq, e.q) /
          (sqrt(list_dot_product(qq, qq)) *
           sqrt(list_dot_product(e.q, e.q))) >= 0.25
      ORDER BY query_id, neighbor_id"""))

  /** Map-side partial top-k via a typed Aggregator — identical output
    * to sim_topk_bruteforce (same oracle), but the shuffle moves at
    * most k rows per (query, partition) instead of every scored row:
    * the 100 TB formulation of top-k. */
  private[graft] val simTopkAgg = Q("sim_topk_aggregator",
    (s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val scored = Similarity.probe(e, qs, "vec_id")
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          qcos(col("qq"), col("q")).as("cos_sim"))
        .as[(Long, Long, Double)]
      val top = scored.groupByKey(_._1)
        .mapValues(r => (r._3, r._2))
        .agg(graft.functions.TopKAggregator(5).toColumn.name("topk"))
      top.toDF("query_id", "topk")
        .select(col("query_id"),
          posexplode(col("topk")).as(Seq("pos", "pair")))
        .select(col("query_id"),
          (col("pos") + 1).cast("long").as("rank"),
          col("pair._2").as("neighbor_id"),
          col("pair._1").as("cos_sim"))
        .orderBy("query_id", "rank")
    },
    simTopkBrute.oracle)

  /** Top-k retrieval DIRECTLY over int8-quantized embeddings — the
    * serving-path complement of `embedding_int8_check` (which bounds
    * the round-trip error): per-vector symmetric quantization makes
    * cosine SCALE-FREE (the two scale factors cancel), so ranking
    * runs on pure integer dot products over the 4×-compressed levels
    * with no dequantization — at 100 TB that's 4× less index to scan
    * AND long-math scoring on the codegen fast path. Both engines
    * replicate the quantization (max-abs/127 scale, floor, -127
    * clamp) and the integer cosine independently — the top-k
    * hash-matches like the exact variant, no frozen VALUES needed.
    * Zero vectors are unindexable (scale 0) and excluded on both
    * sides, same contract as `embedding_int8_check`. */
  private[graft] val simTopkInt8 = Q("sim_topk_int8",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.int8Quantize(col("embedding")).getField("q")
            .as("q"))
        .filter(col("q").isNotNull) // zero vector: scale 0, unindexable
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      Similarity.topK(Similarity.probe(e, qs, "vec_id")
          .withColumn("cos_sim", qcos(col("qq"), col("q"))),
        5, "rank", col("cos_sim").desc, col("vec_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id").as("neighbor_id"), col("cos_sim"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH raw AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      FROM embeddings),
      scl AS (SELECT vec_id, xd,
        list_max(list_transform(xd, x -> abs(x))) / 127.0 AS scale
      FROM raw),
      e AS (SELECT vec_id,
        list_transform(xd, x ->
          CAST(greatest(-127, floor(x / scale)) AS BIGINT)) AS q
      FROM scl WHERE scale > 0),
      qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < 5),
      scored AS (SELECT query_id, e.vec_id AS neighbor_id,
        list_dot_product(qq, e.q) /
          (sqrt(list_dot_product(qq, qq)) *
           sqrt(list_dot_product(e.q, e.q))) AS cos_sim
        FROM qs, e WHERE e.vec_id != query_id)
      SELECT query_id, rank, neighbor_id, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
          AS rank
        FROM scored)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** LSH-bucketed approximate top-k — scale path. Seeded hyperplanes
    * make the neighbor set deterministic per corpus: oracle is the
    * frozen sf0.01 result (25 rows, captured 2026-08-12). */
  private[graft] val simTopkLsh = Q("sim_topk_lsh",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", dim = 64, k = 5, numPlanes = 6, numTables = 8)
        .orderBy("query_id", "rank")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(73 AS BIGINT), CAST('0.29543411523164853' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(2 AS INTEGER), CAST(190 AS BIGINT), CAST('0.2817947192081154' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(3 AS INTEGER), CAST(388 AS BIGINT), CAST('0.2763005476699542' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(4 AS INTEGER), CAST(344 AS BIGINT), CAST('0.2524872949902296' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(5 AS INTEGER), CAST(415 AS BIGINT), CAST('0.23797485967550425' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(1 AS INTEGER), CAST(64 AS BIGINT), CAST('0.3163742953318501' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(2 AS INTEGER), CAST(124 AS BIGINT), CAST('0.30275028236602597' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(3 AS INTEGER), CAST(402 AS BIGINT), CAST('0.2923219897446138' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(4 AS INTEGER), CAST(353 AS BIGINT), CAST('0.2465920189390982' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(5 AS INTEGER), CAST(165 AS BIGINT), CAST('0.24386965334651073' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(1 AS INTEGER), CAST(117 AS BIGINT), CAST('0.318142564237661' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(2 AS INTEGER), CAST(450 AS BIGINT), CAST('0.26634395520019954' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(3 AS INTEGER), CAST(188 AS BIGINT), CAST('0.263272104561668' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(4 AS INTEGER), CAST(320 AS BIGINT), CAST('0.25504277088103294' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(5 AS INTEGER), CAST(471 AS BIGINT), CAST('0.24719275246584027' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(1 AS INTEGER), CAST(207 AS BIGINT), CAST('0.29170184705661967' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(2 AS INTEGER), CAST(474 AS BIGINT), CAST('0.2767381136347725' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(3 AS INTEGER), CAST(396 AS BIGINT), CAST('0.260964744503398' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(4 AS INTEGER), CAST(50 AS BIGINT), CAST('0.23865170067746594' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(5 AS INTEGER), CAST(201 AS BIGINT), CAST('0.23261095604093007' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(1 AS INTEGER), CAST(114 AS BIGINT), CAST('0.39851269358433744' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(2 AS INTEGER), CAST(257 AS BIGINT), CAST('0.27239859168203207' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(3 AS INTEGER), CAST(384 AS BIGINT), CAST('0.2404132698982267' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(4 AS INTEGER), CAST(332 AS BIGINT), CAST('0.22764181859966254' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(5 AS INTEGER), CAST(395 AS BIGINT), CAST('0.20970823804164815' AS DOUBLE)))
      AS t(query_id, rank, neighbor_id, cos_sim) ORDER BY query_id, rank"""))

  /** IVF coarse-quantizer approximate top-k — scale path.
    * Deterministic init + fixed iteration count make the codebook (and
    * so the probes) reproducible: oracle is the frozen sf0.01 result
    * (25 rows, captured 2026-08-12). */
  private[graft] val simTopkIvf = Q("sim_topk_ivf",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(365 AS BIGINT), CAST('0.3699935965460897' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(2 AS INTEGER), CAST(334 AS BIGINT), CAST('0.3627220558741131' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(3 AS INTEGER), CAST(387 AS BIGINT), CAST('0.33113871888314317' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(4 AS INTEGER), CAST(423 AS BIGINT), CAST('0.2969335986409863' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(5 AS INTEGER), CAST(73 AS BIGINT), CAST('0.29543411523164853' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(1 AS INTEGER), CAST(27 AS BIGINT), CAST('0.3482081864636984' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(2 AS INTEGER), CAST(407 AS BIGINT), CAST('0.3270099496117245' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(3 AS INTEGER), CAST(195 AS BIGINT), CAST('0.32274442635213746' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(4 AS INTEGER), CAST(64 AS BIGINT), CAST('0.3163742953318501' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(5 AS INTEGER), CAST(124 AS BIGINT), CAST('0.30275028236602597' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(1 AS INTEGER), CAST(117 AS BIGINT), CAST('0.318142564237661' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(2 AS INTEGER), CAST(450 AS BIGINT), CAST('0.26634395520019954' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(3 AS INTEGER), CAST(188 AS BIGINT), CAST('0.263272104561668' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(4 AS INTEGER), CAST(418 AS BIGINT), CAST('0.25402949645206835' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(5 AS INTEGER), CAST(471 AS BIGINT), CAST('0.24719275246584027' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(1 AS INTEGER), CAST(130 AS BIGINT), CAST('0.39987234325628024' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(2 AS INTEGER), CAST(149 AS BIGINT), CAST('0.3299339769519209' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(3 AS INTEGER), CAST(343 AS BIGINT), CAST('0.30847165466962984' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(4 AS INTEGER), CAST(231 AS BIGINT), CAST('0.29878836545413046' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(5 AS INTEGER), CAST(207 AS BIGINT), CAST('0.29170184705661967' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(1 AS INTEGER), CAST(114 AS BIGINT), CAST('0.39851269358433744' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(2 AS INTEGER), CAST(496 AS BIGINT), CAST('0.34121178056570023' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(3 AS INTEGER), CAST(408 AS BIGINT), CAST('0.32275312529105415' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(4 AS INTEGER), CAST(482 AS BIGINT), CAST('0.31389702932135605' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(5 AS INTEGER), CAST(280 AS BIGINT), CAST('0.27982608680315935' AS DOUBLE)))
      AS t(query_id, rank, neighbor_id, cos_sim) ORDER BY query_id, rank"""))

  /** Recall@k of the LSH index against exact brute force — approximate
    * operators ship with their own evaluation ("measure, don't guess").
    * Measured on this corpus: hyperplane LSH recalls ~0.2-0.8@5 because
    * the embeddings have weak similarity structure (best neighbors at
    * cos ~0.37 vs ~0.2 random — hyperplane agreement barely beats
    * chance), while IVF (which probes by actual centroid cosine)
    * matches brute force exactly; that comparison is the point of
    * shipping the evaluation. The bucketing is seeded-deterministic,
    * so the per-query recalls are frozen constants (captured
    * 2026-08-12) — the VALUES oracle pins the full vector, the
    * sim_lsh_recall_gate keeps the semantic floor. */
  private[graft] val simLshRecall = Q("sim_lsh_recall",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id",
        "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 6, numTables = 8)
        .select(col("query_id"), col("neighbor_id"))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
        .join(exact.groupBy("query_id").agg(count(lit(1)).as("k")),
          Seq("query_id"), "right")
        .select(col("query_id"),
          (coalesce(col("hits"), lit(0L)).cast("double") /
            col("k").cast("double")).as("recall_at_5"))
        .orderBy("query_id")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST('0.2' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST('0.2' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST('0.8' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST('0.0' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST('0.2' AS DOUBLE)))
      AS t(query_id, recall_at_5) ORDER BY query_id"""))

  /** RECALL + row-count floor of the approximate indexes, oracled
    * against constants. sim_lsh_recall SHIPS the measurement but
    * nothing gated it: a regression collapsing every LSH bucket (or
    * IVF probe) to nothing would sail through the score-fidelity check
    * (0 rows → 0 mis-scores). Hyperplanes and centroid seeds are fixed,
    * so on the sf0.01 corpus the per-query recalls are deterministic —
    * [0.2, 0.2, 0.8, 0.0, 0.2], mean 0.28 (measured 2026-08-12; the
    * mean is the gate because query 3's true neighbors genuinely share
    * no bucket at this plane count). Floors: mean recall >= 0.2799
    * (just under the exact value to absorb float-sum ulp) and both
    * indexes returning the full k×|queries| = 25 rows. */
  private[graft] val simLshRecallGate = Q("sim_lsh_recall_gate",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .dropDuplicates("vec_id") // rehearsal-layout guard, see dedupCorpus
      val qs = e.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id",
        "embedding", k = 5)
      val lsh = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 6, numTables = 8)
        .scratchCheckpoint(true) // feeds both the semi-join and the count
      val ivf = Similarity.ivfTopK(e, qs, "vec_id", "embedding", k = 5)
      Similarity.recall(exact, lsh)
        .crossJoin(lsh.agg(count(lit(1)).as("lsh_rows")))
        .crossJoin(ivf.agg(count(lit(1)).as("ivf_rows")))
        .select(
          when(col("avg_recall") >= 0.2799, 0L).otherwise(1L)
            .as("below_recall_floor"),
          greatest(lit(0L), lit(25L) - col("lsh_rows"))
            .as("lsh_row_shortfall"),
          greatest(lit(0L), lit(25L) - col("ivf_rows"))
            .as("ivf_row_shortfall"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS below_recall_floor,
      CAST(0 AS BIGINT) AS lsh_row_shortfall,
      CAST(0 AS BIGINT) AS ivf_row_shortfall"""))

  /** HIGH-RECALL LSH configuration — the other end of the recall/cost
    * ladder from `sim_topk_lsh` (numPlanes=6 × numTables=8, mean recall
    * 0.28). Fewer planes per table widen each bucket and more tables
    * multiply the union: numPlanes=4 × numTables=16 measures mean
    * recall@5 = 0.92 on this corpus (captured 2026-08-13). The price is
    * candidate volume — ~315 of 500 corpus vectors scored per query
    * (63%) vs ~82 (16%) for the 0.28 config, because these embeddings
    * have weak similarity structure (best neighbors at cos ~0.37 vs
    * ~0.2 random), so the only road to high recall widens the
    * candidate net toward the corpus itself. That trade is exactly
    * what a retrieval user picks per use case; SCALE.md records the
    * ladder. Plan shape is unchanged from [[Similarity.lshTopK]]:
    * (table, bucket) equi-joins, id-pair dedup before vectors rejoin —
    * more tables fan the explode ×2 and the candidate shuffle grows,
    * nothing becomes quadratic in the corpus. Seeded hyperplanes →
    * frozen sf0.01 oracle (25 rows, captured 2026-08-13). */
  private[graft] val simTopkLshHi = Q("sim_topk_lsh_hi",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", dim = 64, k = 5, numPlanes = 4, numTables = 16)
        .orderBy("query_id", "rank")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(365 AS BIGINT), CAST('0.3699935965460897' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(2 AS INTEGER), CAST(334 AS BIGINT), CAST('0.3627220558741131' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(3 AS INTEGER), CAST(387 AS BIGINT), CAST('0.33113871888314317' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(4 AS INTEGER), CAST(423 AS BIGINT), CAST('0.2969335986409863' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(5 AS INTEGER), CAST(73 AS BIGINT), CAST('0.29543411523164853' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(1 AS INTEGER), CAST(386 AS BIGINT), CAST('0.37148454183744223' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(2 AS INTEGER), CAST(27 AS BIGINT), CAST('0.3482081864636984' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(3 AS INTEGER), CAST(407 AS BIGINT), CAST('0.3270099496117245' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(4 AS INTEGER), CAST(195 AS BIGINT), CAST('0.32274442635213746' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(5 AS INTEGER), CAST(64 AS BIGINT), CAST('0.3163742953318501' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(1 AS INTEGER), CAST(117 AS BIGINT), CAST('0.318142564237661' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(2 AS INTEGER), CAST(450 AS BIGINT), CAST('0.26634395520019954' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(3 AS INTEGER), CAST(145 AS BIGINT), CAST('0.26349429911567107' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(4 AS INTEGER), CAST(188 AS BIGINT), CAST('0.263272104561668' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(5 AS INTEGER), CAST(320 AS BIGINT), CAST('0.25504277088103294' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(1 AS INTEGER), CAST(130 AS BIGINT), CAST('0.39987234325628024' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(2 AS INTEGER), CAST(149 AS BIGINT), CAST('0.3299339769519209' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(3 AS INTEGER), CAST(174 AS BIGINT), CAST('0.30354804540607316' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(4 AS INTEGER), CAST(231 AS BIGINT), CAST('0.29878836545413046' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(5 AS INTEGER), CAST(207 AS BIGINT), CAST('0.29170184705661967' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(1 AS INTEGER), CAST(114 AS BIGINT), CAST('0.39851269358433744' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(2 AS INTEGER), CAST(496 AS BIGINT), CAST('0.34121178056570023' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(3 AS INTEGER), CAST(408 AS BIGINT), CAST('0.32275312529105415' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(4 AS INTEGER), CAST(280 AS BIGINT), CAST('0.27982608680315935' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(5 AS INTEGER), CAST(257 AS BIGINT), CAST('0.27239859168203207' AS DOUBLE)))
      AS t(query_id, rank, neighbor_id, cos_sim) ORDER BY query_id, rank"""))

  /** Recall floor for the high-recall configuration: the frozen row
    * above pins the exact output, this gate pins the SEMANTIC claim —
    * the config reaches recall ≥ 0.9 — via a HOF-free recompute
    * against brute-force truth, so a hyperplane/seed regression that
    * still produced 25 plausible rows cannot pass. Floor 0.8999
    * absorbs float-sum ulp under the measured 0.92. */
  private[graft] val simTopkLshHiGate = Q("sim_topk_lsh_hi_gate",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .dropDuplicates("vec_id") // rehearsal-layout guard, see dedupCorpus
      val qs = e.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id",
        "embedding", k = 5)
      val hi = Similarity.lshTopK(e, qs, "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 4, numTables = 16)
        .scratchCheckpoint(true) // feeds both the semi-join and the count
      Similarity.recall(exact, hi)
        .crossJoin(hi.agg(count(lit(1)).as("hi_rows")))
        .select(
          when(col("avg_recall") >= 0.8999, 0L).otherwise(1L)
            .as("below_recall_floor"),
          greatest(lit(0L), lit(25L) - col("hi_rows"))
            .as("hi_row_shortfall"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS below_recall_floor,
      CAST(0 AS BIGINT) AS hi_row_shortfall"""))

  /** IVF-PQ composite top-k ([[Similarity.ivfPqTopK]]) — the
    * billion-scale ANN architecture (FAISS IndexIVFPQ; Jégou et al.
    * 2011): coarse cells route the probe, RESIDUAL PQ codes score it,
    * exact cosine reranks the survivors. Both prunings multiply: only
    * CODES in probed cells are scored (pqTopK scores every code row;
    * ivfTopK reads full vectors in probed cells). rerankFactor=10 is
    * the measured knee on this corpus: the nProbe=2 cells contain
    * every true neighbor (ivfTopK recall 1.0), so recall loss is pure
    * ADC-truncation — rf 3/6/10/20 → recall 0.44/0.64/0.88/0.92
    * (captured 2026-08-13), and the rerank cost is k·rf FULL-vector
    * scores per query regardless of corpus size. Deterministic
    * codebooks (seeded init, fixed rounds, DECIMAL partials) → frozen
    * sf0.01 oracle (25 rows, captured 2026-08-13). */
  private[graft] val simTopkIvfPq = Q("sim_topk_ivfpq",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 5, rerankFactor = 10)
        .orderBy("query_id", "rank")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(365 AS BIGINT), CAST('0.3699935965460897' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(2 AS INTEGER), CAST(334 AS BIGINT), CAST('0.3627220558741131' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(3 AS INTEGER), CAST(387 AS BIGINT), CAST('0.33113871888314317' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(4 AS INTEGER), CAST(423 AS BIGINT), CAST('0.2969335986409863' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(5 AS INTEGER), CAST(73 AS BIGINT), CAST('0.29543411523164853' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(1 AS INTEGER), CAST(386 AS BIGINT), CAST('0.37148454183744223' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(2 AS INTEGER), CAST(27 AS BIGINT), CAST('0.3482081864636984' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(3 AS INTEGER), CAST(407 AS BIGINT), CAST('0.3270099496117245' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(4 AS INTEGER), CAST(195 AS BIGINT), CAST('0.32274442635213746' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(5 AS INTEGER), CAST(64 AS BIGINT), CAST('0.3163742953318501' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(1 AS INTEGER), CAST(117 AS BIGINT), CAST('0.318142564237661' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(2 AS INTEGER), CAST(450 AS BIGINT), CAST('0.26634395520019954' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(3 AS INTEGER), CAST(188 AS BIGINT), CAST('0.263272104561668' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(4 AS INTEGER), CAST(418 AS BIGINT), CAST('0.25402949645206835' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(5 AS INTEGER), CAST(112 AS BIGINT), CAST('0.24531081757260517' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(1 AS INTEGER), CAST(130 AS BIGINT), CAST('0.39987234325628024' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(2 AS INTEGER), CAST(343 AS BIGINT), CAST('0.30847165466962984' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(3 AS INTEGER), CAST(174 AS BIGINT), CAST('0.30354804540607316' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(4 AS INTEGER), CAST(231 AS BIGINT), CAST('0.29878836545413046' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(5 AS INTEGER), CAST(207 AS BIGINT), CAST('0.29170184705661967' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(1 AS INTEGER), CAST(114 AS BIGINT), CAST('0.39851269358433744' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(2 AS INTEGER), CAST(496 AS BIGINT), CAST('0.34121178056570023' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(3 AS INTEGER), CAST(408 AS BIGINT), CAST('0.32275312529105415' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(4 AS INTEGER), CAST(482 AS BIGINT), CAST('0.31389702932135605' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(5 AS INTEGER), CAST(280 AS BIGINT), CAST('0.27982608680315935' AS DOUBLE)))
      AS t(query_id, rank, neighbor_id, cos_sim) ORDER BY query_id, rank"""))

  /** Recall + coverage floor for IVF-PQ, independent of the frozen row
    * (same split as the PQ and LSH-hi gates): recall ≥ 0.8799 (just
    * under the measured 0.88) against brute-force truth recomputed
    * here, and the full k×|queries| row count so an empty-probe
    * regression cannot pass vacuously. */
  private[graft] val simTopkIvfPqGate = Q("sim_topk_ivfpq_gate",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .dropDuplicates("vec_id") // rehearsal-layout guard, see dedupCorpus
      val qs = e.filter(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id",
        "embedding", k = 5)
      Scratch.scoped {
        val ivfpq = Similarity.ivfPqTopK(e, qs, "vec_id", "embedding",
          k = 5, rerankFactor = 10)
          .scratchCheckpoint(true) // feeds both the semi-join and the count
        Similarity.recall(exact, ivfpq)
          .crossJoin(ivfpq.agg(count(lit(1)).as("ivfpq_rows")))
          .select(
            when(col("avg_recall") >= 0.8799, 0L).otherwise(1L)
              .as("below_recall_floor"),
            greatest(lit(0L), lit(25L) - col("ivfpq_rows"))
              .as("ivfpq_row_shortfall"))
          .scratchCheckpoint(true) // 1 row; lets the scope free the rest
      }
    },
    Some("""SELECT CAST(0 AS BIGINT) AS below_recall_floor,
      CAST(0 AS BIGINT) AS ivfpq_row_shortfall"""))

  /** Int8 embedding-quantization error bound, verified INDEPENDENTLY by
    * both engines ([[Similarity.int8Quantize]]): each engine quantizes,
    * dequantizes, and recomputes the cosine between the original and
    * the round-tripped vector with its own arithmetic, then counts
    * vectors whose cosine error exceeds 0.01. Both counts must be 0 —
    * no cross-engine float equality is needed, only that the bound
    * holds under either implementation (actual int8 error on these
    * vectors is ~1e-4, two orders inside the gate). n_vectors pins
    * coverage so an empty-input regression cannot pass vacuously.
    * The audit runs on a DETERMINISTIC 1-in-10 id sample (vec_id % 10
    * == 0, both engines): the interpreted-HOF recompute is the point
    * (independence from the codegen'd expressions) but the guarantee
    * is statistical, not per-row — sampling keeps the independence at
    * a tenth of the cost, and n_vectors still pins the sampled
    * coverage. The id filter precedes the rehearsal-layout id-dedup so
    * only sampled rows enter that shuffle. */
  private[graft] val embeddingInt8Check = Q("embedding_int8_check",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .filter(col("vec_id") % 10 === 0)
        .dropDuplicates("vec_id")
        .select(col("vec_id"), col("embedding"))
        .withColumn("qs", Similarity.int8Quantize(col("embedding")))
        .withColumn("deq", Similarity.int8Dequantize(col("qs")))
        .withColumn("err",
          lit(1.0) - Similarity.dot(col("embedding"), col("deq")) /
            (Similarity.norm(col("embedding")) *
              Similarity.norm(col("deq"))))
      e.agg(count(lit(1)).as("n_vectors"),
        count(when(col("err") > 0.01, 1)).as("over_bound"))
    },
    Some("""WITH x AS (SELECT vec_id,
        list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        FROM embeddings WHERE vec_id % 10 = 0),
      s AS (SELECT vec_id, xd,
        list_max(list_transform(xd, v -> abs(v))) / 127.0 AS sc FROM x),
      d AS (SELECT vec_id, xd,
        list_transform(xd,
          v -> greatest(-127.0, floor(v / NULLIF(sc, 0.0))) * sc) AS deq
        FROM s),
      err AS (SELECT vec_id,
        1.0 - list_dot_product(xd, deq) /
          (sqrt(list_dot_product(xd, xd)) *
           sqrt(list_dot_product(deq, deq))) AS e FROM d)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        CAST(COALESCE(SUM(CASE WHEN e > 0.01 THEN 1 END), 0) AS BIGINT)
          AS over_bound
      FROM err"""))

  /** kNN label vote — the application layer over the retrieval stack:
    * each query vector's predicted label is the majority vote of its
    * 5 nearest neighbors (ties → smallest label, deterministic).
    * Same broadcast-queries ⋈ corpus shape as the top-k rows — the
    * corpus never shuffles, per-query candidates reduce through the
    * rank window, and the vote is a (query, label) hash-aggregate
    * over k×queries rows. Quantized-BIGINT cosine keeps both engines
    * exact, so the full prediction set hash-matches. */
  private[graft] val simKnnVote = Q("sim_knn_vote",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("q"),
          col("label"))
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val scored = Similarity.probe(e, qs, "vec_id")
        .select(col("query_id"), col("label"), col("vec_id"),
          qcos(col("qq"), col("q")).as("cos_sim"))
      val nn = Similarity.topK(scored, 5, "rk", col("cos_sim").desc,
        col("vec_id"))
      val votes = nn.groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      Similarity.topK(votes, 1, "r", col("votes").desc, col("label"))
        .select(col("query_id"), col("label").as("predicted_label"),
          col("votes"))
        .orderBy("query_id")
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q,
        label FROM embeddings),
      qs AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < 20),
      scored AS (SELECT query_id, e.label, e.vec_id,
        list_dot_product(qq, e.q) /
          (sqrt(list_dot_product(qq, qq)) *
           sqrt(list_dot_product(e.q, e.q))) AS cos_sim
        FROM qs, e WHERE e.vec_id != query_id),
      nn AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rk
        FROM scored) WHERE rk <= 5),
      votes AS (SELECT query_id, label, COUNT(*) AS votes
        FROM nn GROUP BY 1, 2)
      SELECT query_id, label AS predicted_label, votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY votes DESC, label) AS r FROM votes)
      WHERE r = 1 ORDER BY query_id"""))

  /** Per-label embedding centroids, DIMENSION-PARALLEL: posexplode to
    * (label, pos, level) and hash-aggregate — the exchange carries
    * map-side partial (sum, count) per (label, pos), so at 100 TB the
    * shuffle is O(labels × dims) regardless of corpus size, and no
    * executor ever holds a whole class's vectors (the collect-based
    * centroid update k-means implementations do is the anti-pattern;
    * this is the same partial-aggregate shape `trainCodebook` uses
    * per cell). Means stay cross-engine exact via the established
    * BIGINT quantization: sums are integer, the single double division
    * is identical in both engines. */
  private[graft] val embeddingCentroids = Q("embedding_centroids",
    (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"),
          posexplode(quantize(col("embedding"))).as(Seq("pos", "q")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("q")).cast("double") /
          (lit(1000.0) * count(lit(1)))).as("dim_mean"),
          count(lit(1)).as("n_vectors"))
        .orderBy("label", "pos"),
    Some("""WITH ex AS (SELECT label,
        unnest(list_transform(embedding, (x, i) -> {'pos': i - 1,
          'q': CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)})) AS s
      FROM embeddings)
      SELECT label, CAST(s.pos AS INTEGER) AS pos,
        CAST(SUM(s.q) AS DOUBLE) / (1000.0 * COUNT(*)) AS dim_mean,
        COUNT(*) AS n_vectors
      FROM ex GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Scoring invariant of the approximate indexes, oracle-checked
    * against a constant: every (query, neighbor, cos_sim) row the LSH
    * and IVF indexes return must carry the TRUE cosine — recomputed
    * here with the interpreted HOF dot product (`Similarity.dot`),
    * independent of the codegen'd CosineSim expression both indexes
    * score with. Approximate search may MISS neighbors (recall is
    * measured by sim_lsh_recall); it must never MIS-SCORE the ones it
    * returns, or downstream thresholds silently shift. */
  private[graft] val simScoreCheck = Q("sim_score_check",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
      def violations(res: DataFrame, tag: String): DataFrame = res
        .join(e.select(col("vec_id").as("query_id"),
          col("embedding").as("qv2")), Seq("query_id"))
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv2")), Seq("neighbor_id"))
        .withColumn("true_cos",
          Similarity.dot(col("qv2"), col("cv2")) /
            (Similarity.norm(col("qv2")) * Similarity.norm(col("cv2"))))
        .agg(count(when(abs(col("true_cos") - col("cos_sim")) > 1e-9, 1))
          .as(tag))
      violations(
        Similarity.lshTopK(e, qs, "vec_id", "embedding", dim = 64, k = 5,
          numPlanes = 6, numTables = 8), "lsh_misscored")
        .crossJoin(violations(
          Similarity.ivfTopK(e, qs, "vec_id", "embedding", k = 5),
          "ivf_misscored"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS lsh_misscored,
      CAST(0 AS BIGINT) AS ivf_misscored"""))

  /** Blocked fuzzy-match entity resolution — the record-linkage op
    * that reconciles dirty entity mentions against a clean reference:
    * a deterministically corrupted copy of every customer name (char
    * 10 dropped) is matched back by edit distance. The quadratic
    * levenshtein comparison runs ONLY inside blocks keyed by
    * (nationkey, last-4-chars) — an equi-join both engines hash — so
    * at 100 TB the cost is sum over blocks of |L|·|R|, bounded by the
    * blocking-key design exactly as in production ER (Fellegi-Sunter
    * blocking), never |corpus|². The shuffle carries (block key, name)
    * — short strings, no payload columns — and the threshold filter
    * runs before any re-join with wide entity data. */
  private[graft] val fuzzyMatchBlocked = Q("fuzzy_match_blocked",
    (s, dir) => {
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val dirty = cust.select(col("c_custkey").as("d_id"),
        concat(substring(col("c_name"), 1, 9),
          expr("substring(c_name, 11)")).as("d_name"),
        col("c_nationkey").as("d_nat"))
      cust.withColumn("blk_l", expr("right(c_name, 4)"))
        .join(dirty.withColumn("blk_r", expr("right(d_name, 4)")),
          col("blk_l") === col("blk_r") &&
            col("c_nationkey") === col("d_nat"))
        .withColumn("dist", levenshtein(col("c_name"), col("d_name")))
        .filter(col("dist") <= 2)
        .select(col("c_custkey"), col("d_id"), col("d_name"),
          col("dist"))
        .orderBy("c_custkey", "d_id")
    },
    Some("""SELECT c_custkey, d_id, d_name,
      CAST(levenshtein(c_name, d_name) AS INTEGER) AS dist
      FROM customer
      JOIN (SELECT c_custkey AS d_id,
              substring(c_name, 1, 9) || substring(c_name, 11) AS d_name,
              c_nationkey AS d_nat
            FROM customer) d
        ON right(c_name, 4) = right(d_name, 4) AND c_nationkey = d_nat
      WHERE levenshtein(c_name, d_name) <= 2
      ORDER BY c_custkey, d_id"""))
  /** Incremental near-dup admission — one decision row per BATCH doc
    * (corpus = doc_id % 5 != 0, batch = % 5 == 0): how many corpus
    * near-duplicates at shingle-Jaccard >= 0.8, the best score, and the
    * admit verdict. The SPARK side decides via
    * [[Dedup.incrementalNearDup]] (LSH band equi-join -> exact verify);
    * the ORACLE recomputes the decision by BRUTE FORCE in DuckDB
    * (all batch x corpus shingle-Jaccards) — so the row is green only
    * if LSH-candidates-then-verify reaches the exact answer on this
    * corpus. That is a real equivalence check, not a frozen output: at
    * tau = 0.8 a 16x4 banding misses a qualifying pair with
    * probability <= (1 - 0.8^4)^16 ~ 2e-4 (and this corpus's
    * qualifying pairs all sit far above the threshold), so the
    * deterministic hash seeds either catch every pair — proven here —
    * or the row goes red. Aggregates are max/count (order-independent);
    * the best score rounds to 6dp. */
  private[graft] val dedupNeardupIncremental = Q("dedup_neardup_incremental",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .dropDuplicates("doc_id") // identity under rehearsal replication
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val pairs = Dedup.incrementalNearDup(corpus, batch, "text",
        "doc_id", threshold = 0.8)
      val agg = pairs.groupBy(col("batch_id"))
        .agg(count(lit(1)).as("n_matches"),
          round(max(col("jaccard")), 6).as("best_jaccard"))
      batch.select(col("doc_id").as("batch_id"))
        .join(agg, Seq("batch_id"), "left_outer")
        .select(col("batch_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          col("best_jaccard"),
          col("n_matches").isNull.as("admitted"))
        .orderBy("batch_id")
    },
    Some(raw"""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS t
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            ELSE list_distinct(list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' '))) END AS sh
        FROM toks),
      pairs AS (
        SELECT b.doc_id AS batch_id,
          CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE) /
            CAST(len(list_distinct(list_concat(b.sh, c.sh))) AS DOUBLE)
            AS j
        FROM sh b, sh c
        WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0),
      agg AS (
        SELECT batch_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
          ROUND(MAX(j), 6) AS best_jaccard
        FROM pairs WHERE j >= 0.8 GROUP BY 1)
      SELECT b.doc_id AS batch_id,
        COALESCE(n_matches, 0) AS n_matches, best_jaccard,
        n_matches IS NULL AS admitted
      FROM (SELECT doc_id FROM documents
        WHERE text IS NOT NULL AND trim(text) != '' AND doc_id % 5 = 0) b
      LEFT JOIN agg ON b.doc_id = agg.batch_id
      ORDER BY batch_id"""))
  /** Embedding-space snapshot drift — the vector-side complement of
    * the text-side `corpus_drift`: per label, how far the centroid of
    * snapshot v2 (odd vec_ids) moved from snapshot v1 (even vec_ids),
    * as centroid cosine and L2 shift. Dimension means come from the
    * exact BIGINT quantization `embedding_centroids` pins, so both
    * engines hold identical doubles; the cross-dimension reductions
    * (dot, norms, squared diff) round each term to 9dp and sum as
    * DECIMAL(18,9) — shuffle-order-independent and still on the
    * codegen path. At 100 TB each centroid table is labels × dims
    * partials however large the corpus (the `embedding_centroids`
    * argument), and the drift join is label×dim-sized — corpus
    * vectors never meet each other. A label whose centroids diverge
    * flags re-embedding or distribution shift between ingest waves. */
  private[graft] val embeddingDrift = Q("embedding_drift",
    (s, dir) => {
      def centroids(parity: Int, m: String, n: String) =
        t(s, dir, "embeddings")
          .filter(col("vec_id") % 2 === parity)
          .select(col("label"),
            posexplode(quantize(col("embedding"))).as(Seq("pos", "q")))
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("q")).cast("double") /
            (lit(1000.0) * count(lit(1)))).as(m),
            count(lit(1)).as(n))
      val d = DecimalType(18, 9)
      centroids(0, "m1", "nd1").join(centroids(1, "m2", "nd2"),
          Seq("label", "pos"))
        .select(col("label"), col("nd1"), col("nd2"),
          round(col("m1") * col("m2"), 9).cast(d).as("t12"),
          round(col("m1") * col("m1"), 9).cast(d).as("t11"),
          round(col("m2") * col("m2"), 9).cast(d).as("t22"),
          round((col("m1") - col("m2")) * (col("m1") - col("m2")), 9)
            .cast(d).as("tdd"))
        .groupBy(col("label"))
        .agg(first(col("nd1")).as("n_v1"), first(col("nd2")).as("n_v2"),
          round(sum(col("t12")).cast("double") /
            (sqrt(sum(col("t11")).cast("double")) *
              sqrt(sum(col("t22")).cast("double"))), 6)
            .as("centroid_cosine"),
          round(sqrt(sum(col("tdd")).cast("double")), 6).as("l2_shift"))
        .orderBy("label")
    },
    Some("""WITH ex AS (
        SELECT label, vec_id % 2 AS parity,
          unnest(list_transform(embedding, (x, i) -> {'pos': i - 1,
            'q': CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)}))
            AS s
        FROM embeddings),
      cent AS (
        SELECT label, parity, s.pos AS pos,
          CAST(SUM(s.q) AS DOUBLE) / (1000.0 * COUNT(*)) AS m,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM ex GROUP BY 1, 2, 3),
      j AS (
        SELECT a.label AS label, a.n AS nd1, b.n AS nd2,
          CAST(ROUND(a.m * b.m, 9) AS DECIMAL(18,9)) AS t12,
          CAST(ROUND(a.m * a.m, 9) AS DECIMAL(18,9)) AS t11,
          CAST(ROUND(b.m * b.m, 9) AS DECIMAL(18,9)) AS t22,
          CAST(ROUND((a.m - b.m) * (a.m - b.m), 9) AS DECIMAL(18,9))
            AS tdd
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.pos = b.pos
          AND a.parity = 0 AND b.parity = 1)
      SELECT label, ANY_VALUE(nd1) AS n_v1, ANY_VALUE(nd2) AS n_v2,
        ROUND(CAST(SUM(t12) AS DOUBLE) /
          (SQRT(CAST(SUM(t11) AS DOUBLE)) *
            SQRT(CAST(SUM(t22) AS DOUBLE))), 6) AS centroid_cosine,
        ROUND(SQRT(CAST(SUM(tdd) AS DOUBLE)), 6) AS l2_shift
      FROM j GROUP BY 1 ORDER BY 1"""))
  /** Product-quantization approximate top-k — the memory-scale ANN row
    * ([[Similarity.pqTopK]]: 16-bit codes per vector, ADC scoring via a
    * broadcast lookup table, exact-cosine re-rank of 3k survivors).
    * Deterministic init + fixed iteration count + DECIMAL-summed ADC
    * make the result reproducible; oracle is the frozen sf0.01 result.
    * Recall + score fidelity are gated by `sim_topk_pq_gate`. */
  private[graft] val simTopkPq = Q("sim_topk_pq",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(1 AS INTEGER), CAST(334 AS BIGINT), CAST('0.3627220558741131' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(2 AS INTEGER), CAST(423 AS BIGINT), CAST('0.2969335986409863' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(3 AS INTEGER), CAST(190 AS BIGINT), CAST('0.2817947192081154' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(4 AS INTEGER), CAST(388 AS BIGINT), CAST('0.2763005476699542' AS DOUBLE)),
      (CAST(0 AS BIGINT), CAST(5 AS INTEGER), CAST(483 AS BIGINT), CAST('0.2567003982986254' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(1 AS INTEGER), CAST(27 AS BIGINT), CAST('0.3482081864636984' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(2 AS INTEGER), CAST(407 AS BIGINT), CAST('0.3270099496117245' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(3 AS INTEGER), CAST(195 AS BIGINT), CAST('0.32274442635213746' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(4 AS INTEGER), CAST(124 AS BIGINT), CAST('0.30275028236602597' AS DOUBLE)),
      (CAST(1 AS BIGINT), CAST(5 AS INTEGER), CAST(80 AS BIGINT), CAST('0.23368964041224172' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(1 AS INTEGER), CAST(450 AS BIGINT), CAST('0.26634395520019954' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(2 AS INTEGER), CAST(188 AS BIGINT), CAST('0.263272104561668' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(3 AS INTEGER), CAST(197 AS BIGINT), CAST('0.23314916074606343' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(4 AS INTEGER), CAST(202 AS BIGINT), CAST('0.22186129495652954' AS DOUBLE)),
      (CAST(2 AS BIGINT), CAST(5 AS INTEGER), CAST(71 AS BIGINT), CAST('0.20384181459133874' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(1 AS INTEGER), CAST(130 AS BIGINT), CAST('0.39987234325628024' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(2 AS INTEGER), CAST(231 AS BIGINT), CAST('0.29878836545413046' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(3 AS INTEGER), CAST(207 AS BIGINT), CAST('0.29170184705661967' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(4 AS INTEGER), CAST(192 AS BIGINT), CAST('0.290802917949569' AS DOUBLE)),
      (CAST(3 AS BIGINT), CAST(5 AS INTEGER), CAST(437 AS BIGINT), CAST('0.28053528594179866' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(1 AS INTEGER), CAST(114 AS BIGINT), CAST('0.39851269358433744' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(2 AS INTEGER), CAST(496 AS BIGINT), CAST('0.34121178056570023' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(3 AS INTEGER), CAST(408 AS BIGINT), CAST('0.32275312529105415' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(4 AS INTEGER), CAST(280 AS BIGINT), CAST('0.27982608680315935' AS DOUBLE)),
      (CAST(4 AS BIGINT), CAST(5 AS INTEGER), CAST(249 AS BIGINT), CAST('0.2796306459978647' AS DOUBLE)))
      AS t(query_id, rank, neighbor_id, cos_sim) ORDER BY query_id, rank"""))
  /** Index BUILD/SERVE split ([[Similarity.commitPqIndex]] /
    * [[Similarity.pqTopKFromManifest]]): the PQ codebooks + codes
    * commit as a parquet table and top-k is served from its latest
    * version with NO recomputation — the offline-build / online-serve
    * separation a production retrieval stack runs (the codes table is
    * the ~128×-compressed thing that ships to the serving fleet).
    * Shares [[simTopkPq]]'s frozen oracle VERBATIM: the served path
    * must reproduce the inline path byte-for-byte through the parquet
    * round-trip — codebook doubles, code assignments, DECIMAL ADC
    * partials and the rerank all survive persistence, or the hash
    * flips. */
  private[graft] val simTopkPqServed = Q("sim_topk_pq_served",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val tbl = s"${Scratch.dir("graft_pq_index")}/idx"
      Similarity.commitPqIndex(e, "vec_id", "embedding", tbl)
      Similarity.pqTopKFromManifest(tbl, e,
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    },
    simTopkPq.oracle)

  /** VERSIONED serve under rebuild-then-swap ([[Similarity.commitPqIndex]]
    * / [[Similarity.pqTopKFromManifest]]): the index commits as ONE
    * atomic ManifestTable version (codebooks + codes ride the same
    * committed table, so a single version number pins a CONSISTENT
    * pair — two separate tables could skew under concurrent rebuild),
    * a REBUILD over a different corpus cut then lands as version 2,
    * and the query serves from PINNED version 1 — which must still
    * reproduce [[simTopkPq]]'s frozen oracle byte-for-byte. That is
    * the production swap contract this row gates: a rebuild never
    * perturbs a pinned reader; "swap" is the reader moving its pin,
    * never the builder moving the reader's data. Vacuum composition
    * (retiring v1 under a live pin fails loudly) is spec'd in
    * SimilaritySpec. */
  private[graft] val simTopkPqVersioned = Q("sim_topk_pq_versioned",
    (s, dir) => {
      // the deduped corpus feeds ~8 driver-sequenced actions (two
      // builds, the dim probes, the serve's corpus + query sides) —
      // materialize once instead of re-scanning + re-shuffling per
      // action
      Scratch.scoped {
        val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
          .scratchCheckpoint(true)
        val tbl = s"${Scratch.dir("graft_pq_mt")}/idx"
        val v1 = Similarity.commitPqIndex(e, "vec_id", "embedding", tbl)
        // rebuild-then-swap: a new index over a different corpus cut
        // lands as head+1 while version 1 is being served below. The
        // row gates PIN/SWAP MECHANICS, not a second model — so v2
        // commits an init-only codebook over a ~10-vector cut (its
        // content is never read here; the serve below pins v1): a
        // second full Lloyd pass bought no extra coverage.
        Similarity.commitPqIndex(
          e.filter(col("vec_id") >= 250 && col("vec_id") < 260),
          "vec_id", "embedding", tbl, iterations = 0)
        Similarity.pqTopKFromManifest(tbl, e,
          e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, version = Some(v1))
          .orderBy("query_id", "rank")
          .scratchCheckpoint(true) // k×|queries| rows; frees the corpus
      }
    },
    simTopkPq.oracle)

  /** The retrieval side's END-TO-END composed pipeline — the serve-path
    * twin of `corpus_curate`'s curation compose: ingest embeddings →
    * build the PQ index and COMMIT it as a ManifestTable version →
    * serve top-k from that PINNED version → evaluate recall against
    * exact brute-force, all in ONE oracled row. Constant-0/constant-
    * count oracle: the committed index is fresh (version 1), the serve
    * returns the full k × |queries| surface, and pinned-version recall
    * clears the same 0.52 floor `sim_topk_pq_gate` pins for the inline
    * path (the served path is byte-identical, so a lower floor here
    * would mask a persistence regression). At 100 TB each arrow is the
    * production shape already priced by its standalone row: offline
    * build amortized per corpus version, codes-only approximate
    * scoring, exact re-rank on k·rerank survivors, recall priced by
    * SCALE.md's ladder. */
  private[graft] val retrievalPipeline = Q("retrieval_pipeline",
    (s, dir) => Scratch.scoped {
      retrievalRecall(s, dir).scratchCheckpoint(true)
    },
    Some("""SELECT CAST(1 AS BIGINT) AS index_version,
      CAST(0 AS BIGINT) AS recall_below_floor,
      CAST(25 AS BIGINT) AS served_rows"""))

  /** [[retrievalPipeline]]'s frame before its result cut: the eval
    * joins over the served and exact cuts, whose plan
    * `PlanGuardrailSpec` audits. Call it inside a [[Scratch.scoped]]
    * body. */
  private[graft] def retrievalRecall(s: SparkSession, dir: String)
  : DataFrame = {
    val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
    val qs = e.filter(col("vec_id") < 5)
    val tbl = s"${Scratch.dir("graft_retr")}/idx"
    val v = Similarity.commitPqIndex(e, "vec_id", "embedding", tbl)
    val served = Similarity.pqTopKFromManifest(tbl, e, qs, "vec_id",
      "embedding", k = 5, version = Some(v)).scratchCheckpoint(true)
    val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding",
      k = 5).select(col("query_id"), col("neighbor_id"))
      .scratchCheckpoint(true)
    Similarity.recall(exact, served)
      .crossJoin(served.agg(count(lit(1)).as("served_rows")))
      .select(lit(v).as("index_version"),
        when(col("avg_recall") >= 0.5199, 0L).otherwise(1L)
          .as("recall_below_floor"),
        col("served_rows"))
  }

  /** Incremental ANN index maintenance ([[Similarity.assignToCells]]):
    * a RUNNING index appends new vector batches by routing them
    * through the FROZEN coarse quantizer — retraining per batch would
    * invalidate every stored assignment (and at 100 TB, re-encode the
    * whole corpus). The row trains the codebook on the corpus cut
    * (vec_id < 400) ONLY, routes the held-out batch through it, and
    * emits the per-cell (corpus, batch) occupancy — exactly the
    * balance monitor a production deployment watches: a batch whose
    * routing skews hard against the corpus distribution is the
    * retrain trigger (codebook drift), while balanced in-flow means
    * the frozen quantizer still fits. Deterministic codebook → frozen
    * sf0.01 oracle (16 cells, captured 2026-08-13); a regression in
    * codebook seeding, Lloyd rounds, or assignment tiebreaks shifts
    * the counts. The routing cost is one broadcast of numCells
    * centroids against the BATCH only — the corpus is never
    * re-touched, which is the point. */
  private[graft] val simIndexIncremental = Q("sim_index_incremental",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val corpus = e.filter(col("vec_id") < 400)
      val batch = e.filter(col("vec_id") >= 400)
      val cents = Similarity.trainCodebook(corpus, "vec_id",
        "embedding", 16, 1)
      val nc = Similarity.assignToCells(corpus, cents, "vec_id",
          "embedding")
        .groupBy("cell_id").agg(count(lit(1)).as("n_corpus"))
      val nb = Similarity.assignToCells(batch, cents, "vec_id",
          "embedding")
        .groupBy("cell_id").agg(count(lit(1)).as("n_batch"))
      nc.join(nb, Seq("cell_id"), "full_outer")
        .select(col("cell_id"),
          coalesce(col("n_corpus"), lit(0L)).as("n_corpus"),
          coalesce(col("n_batch"), lit(0L)).as("n_batch"))
        .orderBy("cell_id")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(29 AS BIGINT), CAST(4 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(23 AS BIGINT), CAST(8 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(25 AS BIGINT), CAST(1 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(25 AS BIGINT), CAST(8 AS BIGINT)),
      (CAST(4 AS BIGINT), CAST(26 AS BIGINT), CAST(5 AS BIGINT)),
      (CAST(5 AS BIGINT), CAST(25 AS BIGINT), CAST(11 AS BIGINT)),
      (CAST(6 AS BIGINT), CAST(31 AS BIGINT), CAST(4 AS BIGINT)),
      (CAST(7 AS BIGINT), CAST(27 AS BIGINT), CAST(10 AS BIGINT)),
      (CAST(8 AS BIGINT), CAST(29 AS BIGINT), CAST(4 AS BIGINT)),
      (CAST(9 AS BIGINT), CAST(17 AS BIGINT), CAST(6 AS BIGINT)),
      (CAST(10 AS BIGINT), CAST(30 AS BIGINT), CAST(9 AS BIGINT)),
      (CAST(11 AS BIGINT), CAST(20 AS BIGINT), CAST(7 AS BIGINT)),
      (CAST(12 AS BIGINT), CAST(24 AS BIGINT), CAST(8 AS BIGINT)),
      (CAST(13 AS BIGINT), CAST(26 AS BIGINT), CAST(6 AS BIGINT)),
      (CAST(14 AS BIGINT), CAST(24 AS BIGINT), CAST(4 AS BIGINT)),
      (CAST(15 AS BIGINT), CAST(19 AS BIGINT), CAST(5 AS BIGINT)))
      AS t(cell_id, n_corpus, n_batch) ORDER BY cell_id"""))

  /** D4-STYLE CLUSTER-BALANCED DIVERSIFICATION (Tirumala et al. 2023,
    * "D4: Improving LLM Pretraining via Document De-Duplication and
    * Diversification"): after near-dup removal the corpus is still
    * DENSITY-skewed in embedding space — a few semantic clusters hold
    * most of the mass — so D4 rebalances by sampling each k-means
    * cluster down toward a common budget. Cells come from the shared
    * coarse codebook ([[Similarity.trainCodebook]], the
    * `sim_index_incremental`/`dedup_semantic` quantizer); the draw is
    * the `stratified_sample` discipline: keep a member iff
    * `bucket(md5("cs:" + id)) · n_cell < cap · 4096` with
    * bucket = first 3 md5 hex digits — per-cell EXPECTED cap, decided
    * scan-side by an all-integer compare after one 16-row count
    * aggregate broadcasts back. No per-cell rank window: an exact-cap
    * top-N would sort every corpus row through 16 skewed partitions,
    * and D4's goal is mass rebalancing, not a ranked cut. Output is
    * the 16-row per-cell audit (members, kept, kept-id checksum).
    * 100 TB shape: the only corpus-sized exchanges are the cell
    * assignment (inherent) and two 16-key aggregates; the codebook and
    * the per-cell rates are bounded broadcast state. Codebook floats
    * are engine-specific, so the oracle is the frozen deterministic
    * sf0.01 run (the `sim_index_incremental` precedent). */
  private[graft] val corpusClusterSample = Q("corpus_cluster_sample",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val cents = Similarity.trainCodebook(e, "vec_id", "embedding",
        16, 1)
      // two consumers (the 16-row count and the draw) — one eager
      // materialization stops the corpus-sized assignment shuffle
      // re-executing per branch; at scale this table is the written
      // cell-assignment artifact anyway. Released once the bounded
      // result is itself materialized (the reco_eval_hitrate pattern).
      Scratch.scoped {
        val assigned = Similarity.assignToCells(e, cents, "vec_id",
          "embedding").scratchCheckpoint(true)
        val counts = assigned.groupBy("cell_id")
          .agg(count(lit(1)).as("n_cell"))
        val cap = 20L
        assigned.join(broadcast(counts), Seq("cell_id"))
          .withColumn("bucket",
            conv(substring(md5(concat(lit("cs:"),
              col("id").cast("string"))), 1, 3), 16, 10).cast("long"))
          .withColumn("kept",
            col("bucket") * col("n_cell") < lit(cap * 4096L))
          .groupBy(col("cell_id"))
          .agg(count(lit(1)).as("n_in_cell"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("id")).otherwise(0L))
              .as("kept_id_sum"))
          .orderBy("cell_id")
          .scratchCheckpoint(true) // 16 rows; lets the release fire
      }
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(33 AS BIGINT), CAST(16 AS BIGINT), CAST(3879 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(30 AS BIGINT), CAST(23 AS BIGINT), CAST(5631 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(31 AS BIGINT), CAST(22 AS BIGINT), CAST(4622 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(36 AS BIGINT), CAST(22 AS BIGINT), CAST(6508 AS BIGINT)),
      (CAST(4 AS BIGINT), CAST(29 AS BIGINT), CAST(20 AS BIGINT), CAST(5459 AS BIGINT)),
      (CAST(5 AS BIGINT), CAST(34 AS BIGINT), CAST(21 AS BIGINT), CAST(5069 AS BIGINT)),
      (CAST(6 AS BIGINT), CAST(34 AS BIGINT), CAST(18 AS BIGINT), CAST(4002 AS BIGINT)),
      (CAST(7 AS BIGINT), CAST(32 AS BIGINT), CAST(20 AS BIGINT), CAST(4845 AS BIGINT)),
      (CAST(8 AS BIGINT), CAST(37 AS BIGINT), CAST(17 AS BIGINT), CAST(4068 AS BIGINT)),
      (CAST(9 AS BIGINT), CAST(18 AS BIGINT), CAST(18 AS BIGINT), CAST(4780 AS BIGINT)),
      (CAST(10 AS BIGINT), CAST(35 AS BIGINT), CAST(22 AS BIGINT), CAST(6024 AS BIGINT)),
      (CAST(11 AS BIGINT), CAST(26 AS BIGINT), CAST(25 AS BIGINT), CAST(6071 AS BIGINT)),
      (CAST(12 AS BIGINT), CAST(31 AS BIGINT), CAST(19 AS BIGINT), CAST(5189 AS BIGINT)),
      (CAST(13 AS BIGINT), CAST(37 AS BIGINT), CAST(21 AS BIGINT), CAST(5476 AS BIGINT)),
      (CAST(14 AS BIGINT), CAST(26 AS BIGINT), CAST(23 AS BIGINT), CAST(4326 AS BIGINT)),
      (CAST(15 AS BIGINT), CAST(31 AS BIGINT), CAST(20 AS BIGINT), CAST(4800 AS BIGINT)))
      AS t(cell_id, n_in_cell, n_kept, kept_id_sum) ORDER BY cell_id"""))

  /** Constant-0 gate for [[simTopkPq]]: (a) mean recall vs the exact
    * brute-force top-5 stays at/above its measured 0.52 (floor 0.5199
    * absorbs float-sum ulp — the convention `sim_lsh_recall_gate`
    * sets); (b) every returned cos_sim carries the TRUE cosine,
    * recomputed with the interpreted HOF dot independently of the
    * codegen'd CosineSim the index scores with; (c) the full
    * k × |queries| row count arrives. A silent codebook regression,
    * survivor-set collapse, or re-rank arithmetic drift flips a column
    * nonzero and fails the hash. */
  private[graft] val simTopkPqGate = Q("sim_topk_pq_gate",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val qs = e.filter(col("vec_id") < 5)
      val pq = Similarity.pqTopK(e, qs, "vec_id", "embedding", k = 5)
        .scratchCheckpoint(true)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id",
        "embedding", k = 5)
      // the fidelity probe joins k×queries pq rows against the CORPUS
      // vectors — broadcast the bounded pq side, never shuffle e
      val fidelity = broadcast(pq)
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv")), Seq("neighbor_id"))
        .join(broadcast(qs.select(col("vec_id").as("query_id"),
          col("embedding").as("qv"))), Seq("query_id"))
        .withColumn("true_cos", Similarity.dot(col("qv"), col("cv")) /
          (Similarity.norm(col("qv")) * Similarity.norm(col("cv"))))
        .agg(sum(when(abs(col("cos_sim") - col("true_cos")) > 1e-9, 1L)
          .otherwise(0L)).as("score_mismatches"))
      Similarity.recall(exact, pq)
        .crossJoin(pq.agg(count(lit(1)).as("pq_rows")))
        .crossJoin(fidelity)
        .select(
          when(col("avg_recall") >= 0.5199, 0L).otherwise(1L)
            .as("below_recall_floor"),
          (lit(25L) - col("pq_rows")).as("row_deficit"),
          col("score_mismatches"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS below_recall_floor,
      CAST(0 AS BIGINT) AS row_deficit,
      CAST(0 AS BIGINT) AS score_mismatches"""))
  /** Shingle CONTAINMENT pairs — the asymmetric dedup flavor Jaccard
    * misses: a short doc pasted whole inside a long one scores
    * C(A,B) = |A∩B|/|A| ≈ 1 while its Jaccard stays low (the union is
    * dominated by the long doc). Flags quote-expansion and
    * doc-inside-doc duplication for the curation pipeline. Bounded-id
    * cross-join demo like `dedup_ngram_jaccard` (the scale path feeds
    * candidates from the SAME MinHash band join
    * `dedup_neardup_incremental` uses, then verifies containment
    * instead of Jaccard — band recall for high-containment pairs is
    * bounded by the contained side's signature, the standard
    * prefix-filter caveat). Both directions emitted; all divisions are
    * identical IEEE trees over exact set sizes. */
  private[graft] val dedupContainment = Q("dedup_containment",
    (s, dir) => {
      val k = 3
      // materialize the bounded shingle table BEFORE the cross join:
      // inside a CartesianProduct the projection re-evaluates per
      // PAIR, and ShingleSet is CodegenFallback — measured 3.3 s vs
      // 0.6 s for the sibling ngram demo until this checkpoint
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "" &&
          col("doc_id") < 200)
        .dropDuplicates("doc_id")
        .select(col("doc_id"), Dedup.shingles(col("text"), k).as("sh"))
        .scratchCheckpoint(true)
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sa"))
      val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("inter",
          size(array_intersect(col("sa"), col("sb"))).cast("double"))
        .withColumn("c_ab", col("inter") / size(col("sa")).cast("double"))
        .withColumn("c_ba", col("inter") / size(col("sb")).cast("double"))
        .filter(greatest(col("c_ab"), col("c_ba")) >= 0.9)
        .select(col("id_a"), col("id_b"),
          round(col("c_ab"), 6).as("c_ab"),
          round(col("c_ba"), 6).as("c_ba"))
        .orderBy("id_a", "id_b")
    },
    Some(raw"""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS t
        FROM documents
        WHERE text IS NOT NULL AND trim(text) != '' AND doc_id < 200),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
            ELSE list_distinct(list_transform(range(1, len(t) - 1),
              i -> array_to_string(t[i:i+2], ' '))) END AS sh
        FROM toks),
      p AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            CAST(len(a.sh) AS DOUBLE) AS c_ab,
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            CAST(len(b.sh) AS DOUBLE) AS c_ba
        FROM sh a, sh b WHERE a.doc_id < b.doc_id)
      SELECT id_a, id_b, ROUND(c_ab, 6) AS c_ab, ROUND(c_ba, 6) AS c_ba
      FROM p WHERE GREATEST(c_ab, c_ba) >= 0.9
      ORDER BY id_a, id_b"""))

  /** Binary sign quantization: each 64-dim float vector collapses to
    * ONE 64-bit signature (bit i = embedding[i] > 0), Hamming distance
    * is a single `xor` + `bit_count` — 32× less index than float32 and
    * the cheapest possible codegen'd distance. Retrieval is two-stage:
    * (1) Hamming top-20 candidates over signatures only — the shuffle
    * carries (query_id, vec_id, hamming), 24 bytes/row, never a
    * vector; (2) exact quantized-cosine rerank that rejoins full
    * vectors ONLY for the 20 candidates per query. At 100 TB the
    * signature index is the only thing scanned densely (8 B/vector —
    * a 1B-vector index is 8 GB, broadcastable), which is why sign
    * bits are the standard first stage before int8/PQ rerank. DuckDB
    * twin avoids 64-bit packing (its BIGINT ops trap on overflow):
    * Hamming over 0/1 sign lists via |a|₁ + |b|₁ − 2·⟨a,b⟩, which
    * equals bit_count(xor) exactly. */
  private[graft] val simTopkHamming = Q("sim_topk_hamming",
    (s, dir) => {
      val signPack = expr(
        "aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) -> " +
          "shiftleft(acc, 1) | IF(CAST(embedding[i] AS DOUBLE) > 0.0D, " +
          "CAST(1 AS BIGINT), CAST(0 AS BIGINT)))")
      val base = t(s, dir, "embeddings")
      val sigs = base.select(col("vec_id"), signPack.as("sig"))
      val qs = sigs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("sig").as("qsig"))
      val cand = Similarity.probe(sigs, qs, "vec_id")
        .select(col("query_id"), col("vec_id"),
          bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("long")
            .as("hamming"))
      val top = Similarity.topK(cand, 20, "crk", col("hamming"),
        col("vec_id")).drop("crk")
      val qvec = base.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"),
          quantize(col("embedding")).as("qq"))
      val rer = top
        .join(base.select(col("vec_id"),
          quantize(col("embedding")).as("q")), "vec_id")
        .join(broadcast(qvec), "query_id")
        .withColumn("cos_sim", qcos(col("qq"), col("q")))
      Similarity.topK(rer, 5, "rank", col("cos_sim").desc, col("vec_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id").as("neighbor_id"), col("hamming"),
          col("cos_sim"))
        .orderBy("query_id", "rank")
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding, x ->
          CASE WHEN CAST(x AS DOUBLE) > 0.0 THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END) AS s,
        list_transform(embedding, x ->
          CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      FROM embeddings),
      qs AS (SELECT vec_id AS query_id, s AS qsig, q AS qq
        FROM e WHERE vec_id < 5),
      cand AS (SELECT query_id, e.vec_id,
        CAST(list_sum(qsig) + list_sum(e.s)
          - 2 * list_dot_product(qsig, e.s) AS BIGINT) AS hamming
        FROM qs, e WHERE e.vec_id != query_id),
      top AS (SELECT query_id, vec_id, hamming FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY hamming, vec_id) AS crk FROM cand)
        WHERE crk <= 20),
      rer AS (SELECT t.query_id, t.vec_id AS neighbor_id, t.hamming,
        list_dot_product(qs.qq, e.q) /
          (sqrt(list_dot_product(qs.qq, qs.qq)) *
           sqrt(list_dot_product(e.q, e.q))) AS cos_sim
        FROM top t JOIN e ON t.vec_id = e.vec_id
        JOIN qs ON t.query_id = qs.query_id)
      SELECT query_id, rank, neighbor_id, hamming, cos_sim FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_sim DESC, neighbor_id) AS rank FROM rer)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Maximal-marginal-relevance (MMR) rerank: diversify each query's
    * top-20 cosine candidates into 5 picks by greedily maximizing
    * λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s), λ = 0.7 — the standard
    * redundancy-suppressing rerank for retrieval-augmented pipelines.
    * The greedy loop is UNROLLED into k−1 deterministic dataflow
    * steps (each: anti-join away selected, max-sim join against the
    * selected set, windowed argmax with id tiebreak) — no driver-side
    * data access, and DuckDB replicates the identical unrolled CTE
    * chain, so the full (rank, id, score) trajectory hash-matches.
    * All pairwise math happens AFTER the per-query top-20 cut: the
    * candidate and sim tables are (queries × 20) and (queries × 20²)
    * however big the corpus — the quadratic term is bounded by k',
    * never by data. localCheckpoint pins each tiny selection round so
    * the unrolled lineage can't re-execute upstream scoring 2^steps
    * times. */
  private[graft] val simMmrRerank = Q("sim_mmr_rerank",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val scored = Similarity.probe(e, qs, "vec_id")
        .select(col("query_id"), col("vec_id"),
          qcos(col("qq"), col("q")).as("rel"))
      Scratch.scoped {
        val cand = Similarity.topK(scored, 20, "crk", col("rel").desc,
            col("vec_id")).drop("crk")
          .scratchCheckpoint(true)
        val ce = cand.join(e, cand("vec_id") === e("vec_id"))
          .select(cand("query_id"), cand("vec_id").as("id"), e("q"))
        val sims = ce.as("x").join(ce.as("y"),
            col("x.query_id") === col("y.query_id") &&
              col("x.id") =!= col("y.id"))
          .select(col("x.query_id").as("query_id"), col("x.id").as("a"),
            col("y.id").as("b"),
            qcos(col("x.q"), col("y.q")).as("simv"))
          .scratchCheckpoint(true)
        var sel = Similarity.topK(cand, 1, "rn", col("rel").desc,
            col("vec_id"))
          .select(col("query_id"), col("vec_id").as("id"),
            lit(1L).as("rank"), col("rel").as("score"))
          .scratchCheckpoint(true)
        for (k <- 2 to 5) {
          val selIds = sel.select(col("query_id"), col("id").as("b"))
          val mx = sims.join(selIds, Seq("query_id", "b"))
            .groupBy(col("query_id"), col("a"))
            .agg(max(col("simv")).as("mx"))
          val rem = cand.join(
            sel.select(col("query_id"), col("id")).withColumnRenamed(
              "id", "vec_id"),
            Seq("query_id", "vec_id"), "left_anti")
          val scoredK = rem.join(mx,
              rem("query_id") === mx("query_id") &&
                rem("vec_id") === mx("a"))
            .select(rem("query_id"), rem("vec_id"),
              (lit(0.7) * col("rel") - lit(0.3) * col("mx"))
                .as("score"))
          val pick = Similarity.topK(scoredK, 1, "rn", col("score").desc,
              col("vec_id"))
            .select(col("query_id"), col("vec_id").as("id"),
              lit(k.toLong).as("rank"), col("score"))
          sel = sel.union(pick).scratchCheckpoint(true)
        }
        sel.select(col("query_id"), col("rank"),
            col("id").as("neighbor_id"), col("score"))
          .orderBy("query_id", "rank")
          .scratchCheckpoint(true)
      }
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding, x ->
          CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      FROM embeddings),
      qs AS (SELECT vec_id AS query_id, q AS qq FROM e
        WHERE vec_id < 5),
      scored AS (SELECT query_id, e.vec_id,
        list_dot_product(qq, e.q) /
          (sqrt(list_dot_product(qq, qq)) *
           sqrt(list_dot_product(e.q, e.q))) AS rel
        FROM qs, e WHERE e.vec_id != query_id),
      cand AS (SELECT query_id, vec_id, rel FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rel DESC, vec_id) AS crk FROM scored)
        WHERE crk <= 20),
      ce AS (SELECT c.query_id, c.vec_id AS id, e.q
        FROM cand c JOIN e ON c.vec_id = e.vec_id),
      sims AS (SELECT x.query_id, x.id AS a, y.id AS b,
        list_dot_product(x.q, y.q) /
          (sqrt(list_dot_product(x.q, x.q)) *
           sqrt(list_dot_product(y.q, y.q))) AS simv
        FROM ce x JOIN ce y
        ON x.query_id = y.query_id AND x.id != y.id),
      sel1 AS (SELECT query_id, vec_id AS id, CAST(1 AS BIGINT)
          AS rank, rel AS score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rel DESC, vec_id) AS rn FROM cand)
        WHERE rn = 1),
      mx2 AS (SELECT s.query_id, s.a, MAX(s.simv) AS mx FROM sims s
        JOIN sel1 z ON s.query_id = z.query_id AND s.b = z.id
        GROUP BY 1, 2),
      sc2 AS (SELECT c.query_id, c.vec_id,
          CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.mx
            AS score
        FROM cand c JOIN mx2 m
          ON c.query_id = m.query_id AND c.vec_id = m.a
        LEFT JOIN sel1 z
          ON c.query_id = z.query_id AND c.vec_id = z.id
        WHERE z.id IS NULL),
      sel2 AS (SELECT * FROM sel1 UNION ALL
        SELECT query_id, vec_id, CAST(2 AS BIGINT), score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn FROM sc2)
        WHERE rn = 1),
      mx3 AS (SELECT s.query_id, s.a, MAX(s.simv) AS mx FROM sims s
        JOIN sel2 z ON s.query_id = z.query_id AND s.b = z.id
        GROUP BY 1, 2),
      sc3 AS (SELECT c.query_id, c.vec_id,
          CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.mx
            AS score
        FROM cand c JOIN mx3 m
          ON c.query_id = m.query_id AND c.vec_id = m.a
        LEFT JOIN sel2 z
          ON c.query_id = z.query_id AND c.vec_id = z.id
        WHERE z.id IS NULL),
      sel3 AS (SELECT * FROM sel2 UNION ALL
        SELECT query_id, vec_id, CAST(3 AS BIGINT), score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn FROM sc3)
        WHERE rn = 1),
      mx4 AS (SELECT s.query_id, s.a, MAX(s.simv) AS mx FROM sims s
        JOIN sel3 z ON s.query_id = z.query_id AND s.b = z.id
        GROUP BY 1, 2),
      sc4 AS (SELECT c.query_id, c.vec_id,
          CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.mx
            AS score
        FROM cand c JOIN mx4 m
          ON c.query_id = m.query_id AND c.vec_id = m.a
        LEFT JOIN sel3 z
          ON c.query_id = z.query_id AND c.vec_id = z.id
        WHERE z.id IS NULL),
      sel4 AS (SELECT * FROM sel3 UNION ALL
        SELECT query_id, vec_id, CAST(4 AS BIGINT), score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn FROM sc4)
        WHERE rn = 1),
      mx5 AS (SELECT s.query_id, s.a, MAX(s.simv) AS mx FROM sims s
        JOIN sel4 z ON s.query_id = z.query_id AND s.b = z.id
        GROUP BY 1, 2),
      sc5 AS (SELECT c.query_id, c.vec_id,
          CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) * m.mx
            AS score
        FROM cand c JOIN mx5 m
          ON c.query_id = m.query_id AND c.vec_id = m.a
        LEFT JOIN sel4 z
          ON c.query_id = z.query_id AND c.vec_id = z.id
        WHERE z.id IS NULL),
      sel5 AS (SELECT * FROM sel4 UNION ALL
        SELECT query_id, vec_id, CAST(5 AS BIGINT), score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, vec_id) AS rn FROM sc5)
        WHERE rn = 1)
      SELECT query_id, rank, id AS neighbor_id, score FROM sel5
      ORDER BY query_id, rank"""))

  /** HYBRID RETRIEVAL via reciprocal-rank fusion (Cormack, Clarke &
    * Buettcher 2009): fuse a DENSE ranker (exact quantized-cosine
    * top-10, the [[simTopkBrute]] scorer) with a SPARSE ranker
    * (token-set Jaccard top-10 — the [[dedupNgramJaccard]] set
    * arithmetic reused as a more-like-this lexical scorer) into one
    * list per query: rrf(d) = Σ_r 1/(60 + rank_r(d)), missing-in-a-
    * ranker contributes 0. This is the standard dense+sparse blend of
    * every production RAG stack — RRF needs only RANKS, so the two
    * scorers' incomparable score scales never meet. The id domains
    * align by construction here (embeddings.vec_id ==
    * documents.doc_id); queries are docs 0–4 retrieving against both
    * modalities of the whole corpus.
    *
    * 100 TB shape: BOTH rankers produce their per-query top-10 with
    * [[graft.functions.TopKAggregator]] — map-side partial top-k, so
    * the only data-sized work is the two broadcast-probe scans and
    * each shuffle carries ≤ k rows per (query, partition), never a
    * scored corpus row. Everything after the rankers is bounded:
    * the fusion join holds ≤ 20 rows per query whatever the corpus,
    * and the final window partitions on query_id over that bounded
    * set. The fused score is 1/(60+r) sums over INTEGER ranks — both
    * engines fold the identical double expression, and exact-double
    * ties (e.g. dense-rank-1 vs sparse-rank-1, both 1/61) break on
    * neighbor_id, so the output hash-matches with no frozen values. */
  private[graft] val retrievalRrf = Q("retrieval_rrf",
    (s, dir) => {
      import s.implicits._
      def topk(scored: org.apache.spark.sql.Dataset[(Long, Long, Double)],
               rankAs: String) =
        scored.groupByKey(_._1)
          .mapValues(r => (r._3, r._2))
          .agg(graft.functions.TopKAggregator(10).toColumn.name("topk"))
          .toDF("query_id", "topk")
          .select(col("query_id"),
            posexplode(col("topk")).as(Seq("pos", "pair")))
          .select(col("query_id"),
            (col("pos") + 1).cast("long").as(rankAs),
            col("pair._2").as("neighbor_id"))
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      // query-side id dedup (identity on the real corpus): a retrieval
      // batch is FIXED as the corpus grows, so a rehearsal layout that
      // replicates ids must not also replicate the probes — without
      // this the scored pair space grows quadratically, an artifact
      // no production query batch has. Bounded: 5 ids survive.
      val dq = e.filter(col("vec_id") < 5).dropDuplicates("vec_id")
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val dense = topk(Similarity.probe(e, dq, "vec_id")
        .select(col("query_id"), col("vec_id"),
          qcos(col("qq"), col("q")).as("cs"))
        .as[(Long, Long, Double)], "rank_dense")
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          array_distinct(split(trim(lower(col("text"))), "\\s+"))
            .as("toks"))
      val sq = docs.filter(col("doc_id") < 5).dropDuplicates("doc_id")
        .select(col("doc_id").as("query_id"), col("toks").as("qtoks"))
      val sparse = topk(Similarity.probe(docs, sq, "doc_id")
        .select(col("query_id"), col("doc_id"),
          (size(array_intersect(col("qtoks"), col("toks")))
            .cast("double") /
            size(array_union(col("qtoks"), col("toks")))
              .cast("double")).as("cs"))
        .as[(Long, Long, Double)], "rank_sparse")
      val fused = dense
        .join(sparse, Seq("query_id", "neighbor_id"), "full_outer")
        .select(col("query_id"), col("neighbor_id"), col("rank_dense"),
          col("rank_sparse"),
          (coalesce(lit(1.0) /
              (lit(60.0) + col("rank_dense").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) /
              (lit(60.0) + col("rank_sparse").cast("double")), lit(0.0)))
            .as("rrf_score"))
      Similarity.topK(fused, 5, "rank", col("rrf_score").desc,
          col("neighbor_id"))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("rank_dense"), col("rank_sparse"),
          col("rrf_score"))
        .orderBy("query_id", "rank")
    },
    Some(raw"""WITH e AS (SELECT vec_id,
        list_transform(embedding, x ->
          CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
      FROM embeddings),
      dq AS (SELECT vec_id AS query_id, q AS qq FROM e WHERE vec_id < 5),
      dense AS (SELECT query_id, neighbor_id, rd FROM (
        SELECT query_id, e.vec_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
            list_dot_product(qq, e.q) /
              (sqrt(list_dot_product(qq, qq)) *
               sqrt(list_dot_product(e.q, e.q))) DESC,
            e.vec_id) AS rd
        FROM dq, e WHERE e.vec_id != query_id)
        WHERE rd <= 10),
      s AS (SELECT doc_id,
        list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))
          AS toks
      FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      sq AS (SELECT doc_id AS query_id, toks AS qtoks FROM s
        WHERE doc_id < 5),
      sparse AS (SELECT query_id, neighbor_id, rs FROM (
        SELECT query_id, s.doc_id AS neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
            CAST(len(list_intersect(qtoks, s.toks)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(qtoks, s.toks)))
                AS DOUBLE) DESC,
            s.doc_id) AS rs
        FROM sq, s WHERE s.doc_id != query_id)
        WHERE rs <= 10),
      fused AS (SELECT
          COALESCE(d.query_id, sp.query_id) AS query_id,
          COALESCE(d.neighbor_id, sp.neighbor_id) AS neighbor_id,
          d.rd AS rank_dense, sp.rs AS rank_sparse,
          COALESCE(1.0 / (60.0 + CAST(d.rd AS DOUBLE)), 0.0) +
          COALESCE(1.0 / (60.0 + CAST(sp.rs AS DOUBLE)), 0.0) AS rrf_score
        FROM dense d FULL OUTER JOIN sparse sp
          ON d.query_id = sp.query_id AND d.neighbor_id = sp.neighbor_id)
      SELECT query_id, rank, neighbor_id, rank_dense, rank_sparse,
        rrf_score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY rrf_score DESC, neighbor_id) AS rank FROM fused)
      WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** TOP PRINCIPAL COMPONENT over the embedding corpus
    * ([[graft.llmops.Pca]]): the d×d second-moment matrix is the only
    * cluster-crossing state (exact BIGINT sums over the repo-standard
    * 1e-3-quantized coordinates; O(d²) shuffle rows after map-side
    * combine), power iteration runs on the collected 64×64 matrix
    * (the bounded-model-state precedent of the k-means centroids),
    * and projection re-enters as a literal-array scan expression —
    * no second shuffle. Output: the 25 most extreme documents along
    * PC1 (quantized projections). Frozen sf0.01 oracle — the
    * xxhash64-family precedent for engine-specific-but-deterministic
    * outputs; the semantic invariants (λ ≥ max diagonal variance,
    * eigen-residual ≤ 1%) are [[embeddingPcaGate]]'s. */
  private[graft] val embeddingPca = Q("embedding_pca",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val (cov, _) = Pca.scaledCovariance(e, "embedding")
      val v = Pca.topComponent(cov)
      Pca.project(e, "embedding", v)
        .select(col("vec_id"), col("label"), col("proj_q"))
        .orderBy(abs(col("proj_q")).desc, col("vec_id"))
        .limit(25)
        .orderBy("vec_id")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(16 AS BIGINT), CAST(2 AS INTEGER), CAST(400 AS BIGINT)),
      (CAST(20 AS BIGINT), CAST(6 AS INTEGER), CAST(-352 AS BIGINT)),
      (CAST(35 AS BIGINT), CAST(9 AS INTEGER), CAST(373 AS BIGINT)),
      (CAST(54 AS BIGINT), CAST(6 AS INTEGER), CAST(-332 AS BIGINT)),
      (CAST(123 AS BIGINT), CAST(5 AS INTEGER), CAST(346 AS BIGINT)),
      (CAST(125 AS BIGINT), CAST(9 AS INTEGER), CAST(425 AS BIGINT)),
      (CAST(197 AS BIGINT), CAST(1 AS INTEGER), CAST(-439 AS BIGINT)),
      (CAST(247 AS BIGINT), CAST(0 AS INTEGER), CAST(-339 AS BIGINT)),
      (CAST(254 AS BIGINT), CAST(9 AS INTEGER), CAST(391 AS BIGINT)),
      (CAST(260 AS BIGINT), CAST(8 AS INTEGER), CAST(-452 AS BIGINT)),
      (CAST(262 AS BIGINT), CAST(2 AS INTEGER), CAST(411 AS BIGINT)),
      (CAST(282 AS BIGINT), CAST(0 AS INTEGER), CAST(406 AS BIGINT)),
      (CAST(288 AS BIGINT), CAST(0 AS INTEGER), CAST(363 AS BIGINT)),
      (CAST(302 AS BIGINT), CAST(4 AS INTEGER), CAST(-396 AS BIGINT)),
      (CAST(316 AS BIGINT), CAST(2 AS INTEGER), CAST(373 AS BIGINT)),
      (CAST(385 AS BIGINT), CAST(8 AS INTEGER), CAST(-326 AS BIGINT)),
      (CAST(391 AS BIGINT), CAST(9 AS INTEGER), CAST(347 AS BIGINT)),
      (CAST(402 AS BIGINT), CAST(7 AS INTEGER), CAST(367 AS BIGINT)),
      (CAST(412 AS BIGINT), CAST(4 AS INTEGER), CAST(-358 AS BIGINT)),
      (CAST(419 AS BIGINT), CAST(2 AS INTEGER), CAST(335 AS BIGINT)),
      (CAST(421 AS BIGINT), CAST(4 AS INTEGER), CAST(336 AS BIGINT)),
      (CAST(444 AS BIGINT), CAST(6 AS INTEGER), CAST(-426 AS BIGINT)),
      (CAST(455 AS BIGINT), CAST(5 AS INTEGER), CAST(437 AS BIGINT)),
      (CAST(468 AS BIGINT), CAST(5 AS INTEGER), CAST(350 AS BIGINT)),
      (CAST(492 AS BIGINT), CAST(5 AS INTEGER), CAST(-358 AS BIGINT)))
      AS t(vec_id, label, proj_q) ORDER BY vec_id"""))

  /** GRADED RETRIEVAL EVALUATION — NDCG@5 of the default LSH
    * configuration against exhaustively-computed truth, per query: the
    * metric machinery an ANN deployment runs on every index rebuild
    * (the recall gates bound set overlap; NDCG additionally scores
    * WHERE in the ranking the true neighbors landed, rel = 6 − true
    * rank). Determinism: each DCG term quantizes to ⌊rel/log₂(r+1)·
    * 10⁹⌋ BEFORE the per-query sum (five raw doubles summed through a
    * shuffle are order-dependent), and NDCG emerges as one integer
    * division against the constant ideal-DCG — so the metric freezes
    * into a VALUES oracle like the LSH results it evaluates. Scale:
    * truth is the one exhaustive pass (bounded query set broadcast);
    * the metric join is query-set-sized. */
  private[graft] val simEvalNdcg = Q("sim_eval_ndcg",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val q = e.filter(col("vec_id") < 5)
      val sys = Similarity.lshTopK(e, q, "vec_id", "embedding",
        dim = 64, k = 5, numPlanes = 6, numTables = 8)
        .select(col("query_id"), col("rank").as("sys_rank"),
          col("neighbor_id"))
      val truth = Similarity.bruteForceTopK(e, q, "vec_id", "embedding",
        k = 5)
        .select(col("query_id"), col("rank").as("true_rank"),
          col("neighbor_id"))
      val idcgQ = (1 to 5).map(r =>
        math.floor((6 - r) / (math.log(r + 1) / math.log(2)) * 1e9)
          .toLong).sum
      val term = floor((lit(6) - col("true_rank")).cast("double") /
        log2(col("sys_rank").cast("double") + 1.0) * 1e9).cast("long")
      sys
        .join(truth, Seq("query_id", "neighbor_id"), "left")
        .withColumn("term",
          when(col("true_rank").isNotNull, term).otherwise(0L))
        .groupBy("query_id")
        .agg(sum(col("term")).as("dcg_q"))
        .select(col("query_id"),
          expr(s"dcg_q * 1000000 div $idcgQ").as("ndcg_ppm"))
        .orderBy("query_id")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), CAST(97352 AS BIGINT)),
      (CAST(1 AS BIGINT), CAST(97352 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(871734 AS BIGINT)),
      (CAST(3 AS BIGINT), CAST(0 AS BIGINT)),
      (CAST(4 AS BIGINT), CAST(486763 AS BIGINT)))
      AS t(query_id, ndcg_ppm) ORDER BY query_id"""))

  /** The PCA invariants, recomputed from scratch and gated to a
    * constant-0 row: (a) the Rayleigh quotient of the returned
    * component must be ≥ the largest per-axis variance — PC1 explains
    * at least as much variance as any coordinate axis, the defining
    * property a caller relies on; (b) the relative eigen-residual
    * ‖Cv − λv‖/λ must be ≤ 1% — a direct convergence certificate for
    * the power iteration (a bad/early-stopped vector fails (b) even
    * when (a) happens to hold). */
  private[graft] val embeddingPcaGate = Q("embedding_pca_gate",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
      val (cov, _) = Pca.scaledCovariance(e, "embedding")
      val v = Pca.topComponent(cov)
      val (lam, maxDiag) = Pca.rayleighAndMaxDiag(cov, v)
      val resid = Pca.eigenResidual(cov, v, lam)
      val bad = (if (lam >= maxDiag) 0 else 1) +
        (if (resid <= 0.01) 0 else 1)
      s.sql(s"SELECT CAST($bad AS BIGINT) AS n_violations")
    },
    Some("SELECT CAST(0 AS BIGINT) AS n_violations"))

  /** MATRYOSHKA truncation evaluation — "how much retrieval quality
    * survives if we score with only the first d dimensions?": the
    * question MRL-style embeddings (Kusupati et al. 2022) exist to
    * answer, and the dimension-ladder twin of the precision ladder
    * ([[simTopkInt8]] / [[simTopkPq]] shrink bits per dim; this
    * shrinks dims). For d ∈ {8, 16, 32}: brute-force top-5 under the
    * d-prefix vs the full-64-dim truth, recall@5 averaged over the
    * 20-query probe set. Prefix scoring is `slice` on the SAME
    * quantized arrays (exact integer dot products both engines);
    * recall aggregates as ONE integer intersection sum divided once
    * (per-query k/5 fifths are not binary-exact — summed ints are).
    * The d-prefix index would be d/64 of the full scan cost at
    * 100 TB; this row prices what that buys. Note the fixture
    * embeddings are NOT Matryoshka-trained, so recall at small d is
    * the honest (low) baseline an untrained truncation gives — the
    * row is the measurement harness, and its oracle pins exactly
    * that. */
  private[graft] val simMatryoshkaEval = Q("sim_matryoshka_eval",
    (s, dir) => {
      val e = t(s, dir, "embeddings").dropDuplicates("vec_id")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col("q").as("qq"))
      val scoredAll = Similarity.probe(e, qs, "vec_id")
      def top5(sim: Column): DataFrame = Similarity.topK(
          scoredAll.select(col("query_id"), col("vec_id"), sim.as("sim")),
          5, "rk", col("sim").desc, col("vec_id"))
        .select(col("query_id"), col("vec_id"))
      val truth = top5(qcos(col("qq"), col("q")))
      val perDim = Seq(8, 16, 32).map { d =>
        val cand = top5(qcos(slice(col("qq"), 1, d), slice(col("q"), 1, d)))
        cand.join(truth, Seq("query_id", "vec_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(d).as("dims"), col("hits"))
      }
      val nq = qs.count()
      perDim.reduce(_ union _)
        .select(col("dims"), col("hits"),
          (col("hits").cast("double") / lit(5.0 * nq)).as("mean_recall"))
        .orderBy("dims")
    },
    Some("""WITH e AS (SELECT vec_id,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings),
      qs AS (SELECT vec_id AS query_id, q AS qq FROM e
        WHERE vec_id < 20),
      pairs AS (SELECT query_id, qq, e.vec_id, e.q
        FROM qs, e WHERE e.vec_id != query_id),
      truth AS (SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY
            list_dot_product(qq, q) /
              (sqrt(list_dot_product(qq, qq)) *
               sqrt(list_dot_product(q, q))) DESC, vec_id) AS rk
        FROM pairs) WHERE rk <= 5),
      dims AS (SELECT unnest([8, 16, 32]) AS d),
      cand AS (SELECT d, query_id, vec_id FROM (
        SELECT dims.d, query_id, vec_id, ROW_NUMBER() OVER (
          PARTITION BY dims.d, query_id ORDER BY
            list_dot_product(qq[1:dims.d], q[1:dims.d]) /
              (sqrt(list_dot_product(qq[1:dims.d], qq[1:dims.d])) *
               sqrt(list_dot_product(q[1:dims.d], q[1:dims.d]))) DESC,
            vec_id) AS rk
        FROM pairs CROSS JOIN dims) WHERE rk <= 5),
      hits AS (SELECT c.d, CAST(COUNT(*) AS BIGINT) AS hits
        FROM cand c JOIN truth t
          ON c.query_id = t.query_id AND c.vec_id = t.vec_id
        GROUP BY 1),
      nq AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM qs)
      SELECT CAST(d AS INTEGER) AS dims, hits,
        CAST(hits AS DOUBLE) / (5.0 * n) AS mean_recall
      FROM hits CROSS JOIN nq ORDER BY dims"""))

  /** Diagonal-LDA classifier trained INSIDE the engine — naive Bayes
    * with per-dimension pooled variance (the classic high-dimensional
    * baseline: Gaussian class model, shared diagonal covariance, equal
    * priors ⇒ argmin of the variance-scaled distance
    * Σ_d (x_d − μ_cd)² / σ²_d), fit on an 80% vec_id-hash split of the
    * labeled embeddings and evaluated as a confusion matrix on the
    * held-out 20%. Complements [[simKnnVote]] (memory-based, needs the
    * corpus at serve time) with a PARAMETRIC model whose serving
    * artifact is just C×D means + D variances.
    *
    * Scale shape: training is ONE posexplode + hash-aggregate — the
    * exchange carries map-side partial (Σq, Σq², n) per (label, dim),
    * so the shuffle is O(classes × dims) regardless of corpus size
    * (same as [[embeddingCentroids]]); no executor ever holds a class.
    * The fitted model (640 rows here) broadcasts back to the test
    * scan, so scoring shuffles only per-(row, class) partial distance
    * sums. Determinism: moments are exact integers in the established
    * ×1000 quantization; μ, σ², and each per-dim distance term are one
    * identical IEEE op sequence in both engines, and per-dim terms
    * round to 6dp DECIMAL before summing so every aggregate is
    * shuffle-order-independent; argmin ties break on class id.
    *
    * No accuracy-floor gate: the fixture's labels are i.i.d. noise
    * (measured: nearest-centroid and 1-NN both score ≈ 1/C on the
    * holdout), so chance-level holdout accuracy is the CORRECT result
    * here — and is itself a useful check that train/test hashing does
    * not leak the label. Correctness is the full cross-engine
    * confusion-matrix hash. */
  private[graft] val mlLdaClassify = Q("ml_lda_classify",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          quantize(col("embedding")).as("q"))
      val train = e.filter(col("vec_id") % 5 =!= 0)
      val test = e.filter(col("vec_id") % 5 === 0)
      val ex = train.select(col("label"),
        posexplode(col("q")).as(Seq("pos", "v")))
      val perClass = ex.groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("sv"), sum(col("v") * col("v")).as("ssv"),
          count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          (col("sv").cast("double") / col("n").cast("double"))
            .as("mu"),
          round(col("ssv").cast("double") -
            col("sv").cast("double") * col("sv").cast("double") /
              col("n").cast("double"), 6)
            .cast(DecimalType(30, 6)).as("w"),
          col("n"))
      val pooled = perClass.groupBy(col("pos"))
        .agg((sum(col("w")).cast("double") /
          (sum(col("n")) - count(lit(1))).cast("double")).as("variance"))
      val model = perClass.select(col("label").as("cls"), col("pos"),
          col("mu"))
        .join(pooled, Seq("pos"))
      val terms = test
        .select(col("vec_id"), col("label"),
          posexplode(col("q")).as(Seq("pos", "v")))
        .join(broadcast(model), Seq("pos"))
        .select(col("vec_id"), col("label"), col("cls"),
          round(
            (col("v").cast("double") - col("mu")) *
              (col("v").cast("double") - col("mu")) /
              greatest(col("variance"), lit(1e-9)), 6)
            .cast(DecimalType(30, 6)).as("term"))
      val dists = terms.groupBy(col("vec_id"), col("label"), col("cls"))
        .agg(sum(col("term")).as("dist"))
      val pred = dists.withColumn("rk", row_number().over(
          Window.partitionBy(col("vec_id"))
            .orderBy(col("dist"), col("cls"))))
        .filter(col("rk") === 1)
      pred.groupBy(col("label"), col("cls").as("predicted_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "predicted_label")
    },
    Some("""WITH e AS (SELECT vec_id, label,
        list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
        FROM embeddings),
      ex AS (SELECT label, s['pos'] AS pos, s['v'] AS v FROM (
        SELECT label, unnest(list_transform(q, (x, i) ->
          {'pos': i - 1, 'v': x})) AS s FROM e
        WHERE vec_id % 5 != 0)),
      per_class AS (SELECT label, pos,
        CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
        CAST(ROUND(CAST(SUM(v * v) AS DOUBLE) -
          CAST(SUM(v) AS DOUBLE) * CAST(SUM(v) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(30,6)) AS w,
        COUNT(*) AS n
        FROM ex GROUP BY 1, 2),
      pooled AS (SELECT pos, CAST(SUM(w) AS DOUBLE) /
          CAST(SUM(n) - COUNT(*) AS DOUBLE) AS variance
        FROM per_class GROUP BY 1),
      model AS (SELECT p.label AS cls, p.pos, p.mu, v.variance
        FROM per_class p JOIN pooled v USING (pos)),
      te AS (SELECT vec_id, label, s['pos'] AS pos, s['v'] AS v FROM (
        SELECT vec_id, label, unnest(list_transform(q, (x, i) ->
          {'pos': i - 1, 'v': x})) AS s FROM e
        WHERE vec_id % 5 = 0)),
      terms AS (SELECT te.vec_id, te.label, m.cls,
        CAST(ROUND((CAST(te.v AS DOUBLE) - m.mu) *
          (CAST(te.v AS DOUBLE) - m.mu) /
          greatest(m.variance, 1e-9), 6) AS DECIMAL(30,6)) AS term
        FROM te JOIN model m ON te.pos = m.pos),
      dists AS (SELECT vec_id, label, cls, SUM(term) AS dist
        FROM terms GROUP BY 1, 2, 3),
      pred AS (SELECT vec_id, label, cls FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY dist, cls) AS rk FROM dists) WHERE rk = 1)
      SELECT label, cls AS predicted_label,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2 ORDER BY 1, 2"""))

}
