package graft

import graft.Scratch.ScratchOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llmops.{Bpe, Dedup, Multimodal, QualityModel, TextAnalysis}
import graft.Qdsl._

/** Registry part 4 — text analysis, corpus curation, and multimodal
  * binary-column operators. */
private[graft] object QueriesText {
  // ======================================================================
  // LLM-data-pipeline extensions: text analysis
  // ======================================================================

  private[graft] val textTokenCount = Q("text_token_count",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long")
          .as("n_bpeish"))
        .orderBy("doc_id"),
    Some(raw"""SELECT doc_id,
      CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      CAST(COALESCE(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')), 0) AS BIGINT) AS n_bpeish
      FROM documents ORDER BY doc_id"""))

  private[graft] val textQualityProfile = Q("text_quality_profile",
    (s, dir) =>
      TextAnalysis.qualityProfile(t(s, dir, "documents"), "text",
        "doc_id").orderBy("doc_id"),
    Some(raw"""SELECT doc_id,
      CAST(length(COALESCE(text, '')) AS BIGINT) AS n_chars,
      CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      CAST(COALESCE(len(regexp_extract_all(text, '[.,!?;:]')), 0) AS BIGINT) AS n_punct,
      CAST(COALESCE(len(regexp_extract_all(lower(text), '${TextAnalysis.StopwordPattern}')), 0) AS BIGINT) AS n_stopwords,
      CAST(COALESCE(len(regexp_extract_all(text, '[.,!?;:]')), 0) AS DOUBLE) /
        NULLIF(CAST(length(COALESCE(text, '')) AS DOUBLE), 0.0) AS punct_ratio,
      CAST(COALESCE(len(regexp_extract_all(lower(text), '${TextAnalysis.StopwordPattern}')), 0) AS DOUBLE) /
        NULLIF(CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE), 0.0) AS stopword_ratio,
      CAST(length(COALESCE(text, '')) AS DOUBLE) /
        NULLIF(CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE), 0.0) AS mean_token_len
      FROM documents ORDER BY doc_id"""))

  private[graft] val textQualityGate = Q("text_quality_gate",
    (s, dir) =>
      TextAnalysis.qualityGate(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id"),
    Some(raw"""WITH p AS (SELECT doc_id,
      CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
      CAST(COALESCE(len(regexp_extract_all(lower(text), '${TextAnalysis.StopwordPattern}')), 0) AS BIGINT) AS n_stopwords,
      CAST(length(COALESCE(text, '')) AS DOUBLE) /
        NULLIF(CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE), 0.0) AS mean_token_len
      FROM documents)
      SELECT doc_id, n_tokens,
        COALESCE(n_tokens >= 5 AND mean_token_len >= 2.0 AND
          mean_token_len <= 12.0 AND n_stopwords > 0, false) AS keep
      FROM p ORDER BY doc_id"""))

  /** Repetition-based quality filter ([[TextAnalysis.repetitionRatio]]):
    * fraction of duplicated within-document 3-grams — looping/generated
    * text scores high, prose low. The ratio is one integer-to-double
    * division performed identically in both engines, so the doubles
    * hash-match without rounding. */
  private[graft] val textRepetitionFilter = Q("text_repetition_filter",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
        .withColumn("keep", col("rep_ratio") <= 0.2) // computed ONCE
        .orderBy("doc_id"),
    Some(raw"""WITH toks AS (SELECT doc_id,
        regexp_split_to_array(trim(lower(COALESCE(text, ''))), '\s+') AS t
        FROM documents),
      r AS (SELECT doc_id,
        CASE WHEN len(t) - 2 <= 0 THEN 0.0
          ELSE 1.0 - CAST(len(list_distinct(list_transform(
              range(1, len(t) - 3 + 2),
              i -> array_to_string(t[i:i+2], ' ')))) AS DOUBLE) /
            CAST(len(t) - 2 AS DOUBLE) END AS rep_ratio
        FROM toks)
      SELECT doc_id, rep_ratio, rep_ratio <= 0.2 AS keep
      FROM r ORDER BY doc_id"""))

  private[graft] val textLangId = Q("text_lang_id",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
    Some {
      val scores = TextAnalysis.LangMarkers.map { case (lang, pat) =>
        s"COALESCE(len(regexp_extract_all(lower(text), '$pat')), 0) AS $lang"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, lang, $scores FROM documents)
      SELECT doc_id, lang,
        CASE WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'unknown'
             WHEN de > en AND de >= fr AND de >= es THEN 'de'
             WHEN fr > en AND fr > de AND fr >= es THEN 'fr'
             WHEN es > en AND es > de AND es > fr THEN 'es'
             ELSE 'en' END AS lang_pred
      FROM sc ORDER BY doc_id"""
    })

  private[graft] val textFingerprint = Q("text_fingerprint",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
      md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp_md5
      FROM documents ORDER BY doc_id"""))

  /** Rolling (Karp-Rabin) fingerprint over md5-hashed tokens — fully
    * portable, so the whole recurrence is oracle-checked: DuckDB folds
    * the same token-hash stream with `list_reduce` under the identical
    * base/modulus. */
  private[graft] val textRollingFp = Q("text_rolling_fingerprint",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.rollingFingerprint(col("text")).as("fp_rolling"))
        .orderBy("doc_id"),
    Some(raw"""SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_split_to_array(trim(COALESCE(text, '')), '\s+'),
            t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT))),
        (acc, h) -> (acc * 1000003 + h) % 4294967296) AS fp_rolling
      FROM documents ORDER BY doc_id"""))

  /** Unigram log-probability scoring (the perplexity-style quality
    * filter): corpus term frequencies with add-one smoothing, each doc
    * scored by its mean token log-prob. Per-token logprobs are rounded
    * to 6dp and summed as DECIMAL so the aggregate is shuffle-order-
    * independent (raw double sums are not associative). */
  private[graft] val textUnigramLogprob = Q("text_unigram_logprob",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val terms = docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val freq = terms.groupBy("term").agg(count(lit(1)).as("tf"))
      val totals = freq.agg(sum(col("tf")).as("total"),
        count(lit(1)).as("vocab"))
      val scored = terms.filter(col("doc_id") < 100)
        .join(freq, Seq("term"))
        .crossJoin(broadcast(totals))
        .select(col("doc_id"),
          round(log((col("tf").cast("double") + 1.0) /
            (col("total").cast("double") + col("vocab").cast("double"))),
            6).cast(DecimalType(18, 6)).as("lp"))
      scored.groupBy("doc_id")
        .agg((sum(col("lp")).cast("double") / count(lit(1)))
          .as("mean_logprob"),
          count(lit(1)).as("n_tokens"))
        .orderBy("doc_id")
    },
    Some("""WITH docs AS (SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND trim(text) != ''),
      terms AS (SELECT doc_id, unnest(regexp_split_to_array(
          trim(lower(text)), '\s+')) AS term FROM docs),
      t2 AS (SELECT doc_id, term FROM terms WHERE term != ''),
      freq AS (SELECT term, COUNT(*) AS tf FROM t2 GROUP BY 1),
      totals AS (SELECT SUM(tf) AS total, COUNT(*) AS vocab FROM freq)
      SELECT doc_id,
        CAST(SUM(CAST(ROUND(ln((CAST(tf AS DOUBLE) + 1.0) /
          (CAST(total AS DOUBLE) + CAST(vocab AS DOUBLE))), 6)
          AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_logprob,
        COUNT(*) AS n_tokens
      FROM t2 JOIN freq USING (term) CROSS JOIN totals
      WHERE doc_id < 100
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Bigram conditional log-probability scoring — the step up from
    * [[textUnigramLogprob]] that catches word-salad documents a
    * unigram model scores well (every token common, no token ORDER):
    * P(w2|w1) with add-one smoothing over the full corpus vocabulary,
    * each doc scored by its mean bigram log-prob. Bigram extraction is
    * a pure column expression (`zip_with` of the token array against
    * its own tail — no posexplode self-join, so pairing never
    * shuffles); the LM tables are corpus-wide gram aggregates with
    * map-side partial combine, and scoring joins move only the scored
    * slice. Per-pair logprobs round to 6dp and sum as DECIMAL so the
    * aggregate is shuffle-order-independent. */
  private[graft] val textBigramLogprob = Q("text_bigram_logprob",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val toks = docs.select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("a"))
      val bigrams = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("a"), lit(1), size(col("a")) - 1),
          slice(col("a"), lit(2), size(col("a")) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("z"))
        .select(col("doc_id"), col("z.w1").as("w1"), col("z.w2").as("w2"))
      val bf = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("bc"))
      val cf = bf.groupBy("w1").agg(sum(col("bc")).as("cc"))
      val vocab = toks.select(explode(col("a")).as("term"))
        .agg(count_distinct(col("term")).as("v"))
      bigrams.filter(col("doc_id") < 100)
        .join(bf, Seq("w1", "w2"))
        .join(cf, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          round(log((col("bc").cast("double") + 1.0) /
            (col("cc").cast("double") + col("v").cast("double"))),
            6).cast(DecimalType(18, 6)).as("lp"))
        .groupBy("doc_id")
        .agg((sum(col("lp")).cast("double") / count(lit(1)))
          .as("mean_logprob"),
          count(lit(1)).as("n_bigrams"))
        .orderBy("doc_id")
    },
    Some("""WITH docs AS (SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS a
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      bg AS (SELECT doc_id, z['w1'] AS w1, z['w2'] AS w2 FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(a)),
          i -> {'w1': a[i], 'w2': a[i+1]})) AS z FROM docs)),
      vocab AS (SELECT COUNT(DISTINCT term) AS v FROM
        (SELECT unnest(a) AS term FROM docs)),
      bf AS (SELECT w1, w2, COUNT(*) AS bc FROM bg GROUP BY 1, 2),
      cf AS (SELECT w1, SUM(bc) AS cc FROM bf GROUP BY 1)
      SELECT doc_id,
        CAST(SUM(CAST(ROUND(ln((CAST(bc AS DOUBLE) + 1.0) /
          (CAST(cc AS DOUBLE) + CAST(v AS DOUBLE))), 6)
          AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_logprob,
        COUNT(*) AS n_bigrams
      FROM bg JOIN bf USING (w1, w2) JOIN cf USING (w1)
        CROSS JOIN vocab
      WHERE doc_id < 100
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Language-ID evaluation: confusion matrix of labeled vs predicted
    * language. */
  private[graft] val textLangConfusion = Q("text_lang_confusion",
    (s, dir) =>
      t(s, dir, "documents").select(col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred"),
    Some {
      val scores = TextAnalysis.LangMarkers.map { case (lang, pat) =>
        s"COALESCE(len(regexp_extract_all(lower(text), '$pat')), 0) AS $lang"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, lang, $scores FROM documents)
      SELECT lang, lang_pred, COUNT(*) AS n FROM (
        SELECT lang,
          CASE WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'unknown'
               WHEN de > en AND de >= fr AND de >= es THEN 'de'
               WHEN fr > en AND fr > de AND fr >= es THEN 'fr'
               WHEN es > en AND es > de AND es > fr THEN 'es'
               ELSE 'en' END AS lang_pred
        FROM sc)
      GROUP BY 1, 2 ORDER BY 1, 2"""
    })

  /** Unicode NFC normalization — the mandatory first step of text
    * dedup (NFD vs NFC spellings of one string fingerprint
    * differently). Custom expression [[graft.functions.NfcNormalize]]
    * (Spark has no built-in); the full normalized text is hash-checked
    * against DuckDB's `nfc_normalize`, plus a changed-row count. */
  private[graft] val textNfcNormalize = Q("text_nfc_normalize",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.TextExprs.nfcNormalize(col("text")).as("nfc_text"),
        (!(graft.functions.TextExprs.nfcNormalize(col("text"))
          <=> col("text"))).as("changed"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, nfc_normalize(text) AS nfc_text,
      nfc_normalize(text) IS DISTINCT FROM text AS changed
      FROM documents ORDER BY doc_id"""))

  /** Training-mix construction: each source is down-sampled to a
    * target weight (here derived from the source id: 1.0 / 0.5 / 0.25
    * tiers) with the same deterministic md5-bucket machinery as
    * sample_hash_split — no RNG, stable under corpus growth, and a
    * doc's keep/drop never depends on partitioning. Output is the
    * per-source kept/total census the mixing report needs; the kept
    * set itself is the same predicate un-aggregated. */
  private[graft] val mixSources = Q("mix_sources",
    (s, dir) => {
      val srcNum = substring(col("source"), 4, 10).try_cast("int")
      val rate = when(srcNum < 5, 1.0).when(srcNum < 10, 0.5)
        .otherwise(0.25)
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("int")
      t(s, dir, "documents")
        .withColumn("keep", bucket < rate * 65536)
        .groupBy(coalesce(col("source"), lit("(none)")).as("source"))
        .agg(count(lit(1)).as("total_docs"),
          count(when(col("keep"), 1)).as("kept_docs"))
        .orderBy("source")
    },
    Some("""SELECT COALESCE(source, '(none)') AS source,
      COUNT(*) AS total_docs,
      COUNT(CASE WHEN
        CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
        < (CASE WHEN TRY_CAST(substring(source, 4, 10) AS INTEGER) < 5 THEN 1.0
                WHEN TRY_CAST(substring(source, 4, 10) AS INTEGER) < 10 THEN 0.5
                ELSE 0.25 END) * 65536 THEN 1 END) AS kept_docs
      FROM documents GROUP BY 1 ORDER BY 1"""))

  /** PII scrub (emails → <EMAIL>, IPv4 → <IP>, long digit runs →
    * <PHONE>): the standard pre-training redaction pass, pure per-row
    * regexp_replace chain — scan speed, no shuffle, and the patterns
    * are Java/RE2-portable so the full scrubbed text is hash-checked
    * against DuckDB. */
  private[graft] val textPiiScrub = Q("text_pii_scrub",
    (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.scrubPii(col("text")).as("clean_text"),
        TextAnalysis.piiCount(col("text")).cast("long").as("n_pii"))
        .orderBy("doc_id"),
    Some {
      val em = TextAnalysis.EmailPattern
      val ip = TextAnalysis.Ipv4Pattern
      val ph = TextAnalysis.PhonePattern
      raw"""SELECT doc_id,
      regexp_replace(regexp_replace(regexp_replace(text,
        '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')
        AS clean_text,
      CAST(COALESCE(len(regexp_extract_all(text, '$em')), 0) +
        COALESCE(len(regexp_extract_all(text, '$ip')), 0) +
        COALESCE(len(regexp_extract_all(text, '$ph')), 0) AS BIGINT) AS n_pii
      FROM documents ORDER BY doc_id"""
    })

  /** Deterministic train/test split by content-independent id hash:
    * bucket = first 16 bits of md5(doc_id), <10% of the bucket space →
    * test. The scale-correct way to split training data — no RNG seed
    * to disagree across engines or partitionings, stable under corpus
    * growth (a doc's split never changes when other docs arrive),
    * embarrassingly parallel. */
  private[graft] val sampleHashSplit = Q("sample_hash_split",
    (s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket"),
          when(bucket < lit(6554), "test").otherwise("train").as("split"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
      CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        AS BIGINT) AS INTEGER) AS bucket,
      CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        AS BIGINT) < 6554 THEN 'test' ELSE 'train' END AS split
      FROM documents ORDER BY doc_id"""))

  /** DETERMINISTIC EPOCH SHUFFLE — the training-data ordering step
    * every pretraining run needs: a salted-hash permutation
    * (`md5("ep1:" + doc_id)`) assigns each doc a pseudo-random sort
    * key, the key's first 12 bits route it to one of `nShards` hash
    * shards, and the shard sorts LOCALLY by key — so the epoch order
    * is (a) statistically shuffled, (b) a pure function of
    * (epoch salt, doc_id): fully replayable for resumable training
    * and identical in any engine, unlike an RNG shuffle, and (c)
    * different per epoch by changing the salt. Spark-first scale
    * shape: this is the terasort decomposition — ONE hash exchange
    * plus a per-shard local sort, never a global orderBy; production
    * sizes nShards so a shard fits a task (the 8 here is the demo
    * grain), and the per-shard `position` a resumable reader seeks on
    * comes from the shard-partitioned window over exactly that
    * task-sized shard. Token counts ride along so downstream packing
    * never re-tokenizes. */
  private[graft] val corpusEpochShard = Q("corpus_epoch_shard",
    (s, dir) => {
      val nShards = 8L
      val keyed = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          size(split(trim(lower(col("text"))), "\\s+"))
            .cast("long").as("n_tokens"),
          md5(concat(lit("ep1:"), col("doc_id").cast("string")))
            .as("k"))
        .withColumn("shard",
          conv(substring(col("k"), 1, 3), 16, 10).cast("long")
            % nShards)
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("k"), col("doc_id"))
      keyed.withColumn("position", row_number().over(w).cast("long"))
        .select(col("shard"), col("position"), col("doc_id"),
          col("n_tokens"))
        .orderBy("shard", "position")
    },
    Some(raw"""WITH d AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS BIGINT) AS n_tokens,
          md5('ep1:' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      sh AS (SELECT doc_id, n_tokens, k,
        CAST('0x' || substring(k, 1, 3) AS BIGINT) % 8 AS shard
      FROM d)
      SELECT shard, position, doc_id, n_tokens FROM (
        SELECT shard, doc_id, n_tokens,
          ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id)
            AS position
        FROM sh)
      ORDER BY shard, position"""))

  /** RENDEZVOUS (highest-random-weight) sharding (Thaler & Ravishankar
    * 1998) — the resharding-stable assignment [[corpusEpochShard]]'s
    * mod-hash is NOT: under `shard = h(doc) mod N`, growing N → N+1
    * reassigns ~N/(N+1) of every shard (a full corpus reshuffle at
    * 100 TB); under HRW each doc hashes once PER CANDIDATE shard and
    * lands on the argmax, so adding a shard only captures the docs
    * whose new weight beats their old max — exactly 1/(N+1) in
    * expectation, and provably nothing else moves (weights of the
    * surviving shards are untouched). Engine shape: a scan-side
    * `transform(sequence(...))` builds the N weights per row and
    * `array_position(array_max)` picks the winner — no shuffle, no
    * join, no state; the orderBy is the determinism contract only.
    * The md5-hex weights compare lexicographically the same in both
    * engines, and ties (impossible in practice) break toward the
    * smallest shard index on both sides. */
  private[graft] def hrwWeights(n: Int): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(n - 1)),
      sh => substring(md5(concat(lit("hrw:"), sh.cast("string"),
        lit(":"), col("doc_id").cast("string"))), 1, 8))

  private[graft] def hrwShard(n: Int): org.apache.spark.sql.Column =
    (array_position(hrwWeights(n), array_max(hrwWeights(n))) - 1)
      .cast("long")

  private[graft] val shardRendezvous = Q("shard_rendezvous",
    (s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), hrwShard(8).as("shard"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, shard FROM (
        SELECT d.doc_id, CAST(g.sh AS BIGINT) AS shard,
          ROW_NUMBER() OVER (PARTITION BY d.doc_id
            ORDER BY substring(md5('hrw:' || CAST(g.sh AS VARCHAR) ||
              ':' || CAST(d.doc_id AS VARCHAR)), 1, 8) DESC, g.sh)
            AS rn
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sh) g) t
      WHERE rn = 1 ORDER BY doc_id"""))

  /** The HRW MINIMAL-MOVEMENT gate — the property the algorithm is
    * bought for, verified cross-engine: growing the fleet 8 → 9
    * shards, (a) every doc that moves moves TO the new shard
    * (`moved_elsewhere` must be exactly 0 — the surviving shards'
    * weights are untouched, so an argmax can only flip to the
    * newcomer; any other movement means the hash domains got mixed
    * up), and (b) the movement volume is ~1/9 of the corpus (integer
    * band check, both engines compute it identically). Contrast row:
    * the same 8 → 9 growth under [[corpusEpochShard]]-style mod-hash
    * moves ~8/9 of all docs — `mod_moved` rides along so the table
    * shows WHY the engine shards this way. */
  private[graft] val shardRendezvousGate = Q("shard_rendezvous_gate",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        hrwShard(8).as("s8"), hrwShard(9).as("s9"),
        (conv(substring(md5(concat(lit("ep1:"),
          col("doc_id").cast("string"))), 1, 3), 16, 10)
          .cast("long") % 8).as("m8"),
        (conv(substring(md5(concat(lit("ep1:"),
          col("doc_id").cast("string"))), 1, 3), 16, 10)
          .cast("long") % 9).as("m9"))
      d.agg(count(lit(1)).as("n_docs"),
          count(when(col("s8") =!= col("s9") && col("s9") === 8, 1))
            .as("moved_to_new"),
          count(when(col("s8") =!= col("s9") && col("s9") =!= 8, 1))
            .as("moved_elsewhere"),
          count(when(col("m8") =!= col("m9"), 1)).as("mod_moved"))
        .select(col("n_docs"), col("moved_to_new"),
          col("moved_elsewhere"), col("mod_moved"),
          // all-integer band check (div, not /): both engines compare
          // the same integers, no float rounding at odd counts
          expr("moved_to_new * 9 >= n_docs div 2 AND " +
            "moved_to_new * 9 <= n_docs * 2").as("movement_in_band"))
    },
    Some("""WITH w AS (
        SELECT d.doc_id, g.sh,
          substring(md5('hrw:' || CAST(g.sh AS VARCHAR) || ':' ||
            CAST(d.doc_id AS VARCHAR)), 1, 8) AS h
        FROM documents d
        CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS sh) g),
      a8 AS (SELECT doc_id, CAST(sh AS BIGINT) AS s8 FROM (
        SELECT doc_id, sh, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY h DESC, sh) AS rn FROM w WHERE sh < 8) t
        WHERE rn = 1),
      a9 AS (SELECT doc_id, CAST(sh AS BIGINT) AS s9 FROM (
        SELECT doc_id, sh, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY h DESC, sh) AS rn FROM w) t
        WHERE rn = 1),
      m AS (SELECT doc_id,
        CAST('0x' || substring(md5('ep1:' || CAST(doc_id AS VARCHAR)),
          1, 3) AS BIGINT) % 8 AS m8,
        CAST('0x' || substring(md5('ep1:' || CAST(doc_id AS VARCHAR)),
          1, 3) AS BIGINT) % 9 AS m9
        FROM documents),
      j AS (SELECT a8.doc_id, s8, s9, m8, m9
        FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
        JOIN m ON m.doc_id = a8.doc_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(*) FILTER (WHERE s8 <> s9 AND s9 = 8) AS BIGINT)
          AS moved_to_new,
        CAST(COUNT(*) FILTER (WHERE s8 <> s9 AND s9 <> 8) AS BIGINT)
          AS moved_elsewhere,
        CAST(COUNT(*) FILTER (WHERE m8 <> m9) AS BIGINT) AS mod_moved,
        (COUNT(*) FILTER (WHERE s8 <> s9 AND s9 = 8) * 9 >= COUNT(*) // 2
          AND COUNT(*) FILTER (WHERE s8 <> s9 AND s9 = 8) * 9 <= COUNT(*) * 2)
          AS movement_in_band
      FROM j"""))

  /** Sequence packing for training: docs are packed per source in
    * doc_id order into ~2048-token bins — pack_id = exclusive prefix
    * token count div budget (a doc may straddle its bin boundary; the
    * standard streaming-friendly approximation). The window is
    * PARTITIONED by source, so at 100 TB each source packs
    * independently — no global sort anywhere. */
  private[graft] val docPack = Q("doc_pack",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs
        .withColumn("pack_id",
          floor((sum(col("n_tokens")).over(w) - col("n_tokens")) /
            lit(2048)).cast("long"))
        .orderBy("doc_id")
    },
    Some(raw"""SELECT doc_id, source, n_tokens,
      CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
        / 2048.0) AS BIGINT) AS pack_id
      FROM (SELECT doc_id, source,
        CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
          AS n_tokens
        FROM documents)
      ORDER BY doc_id"""))

  /** Sliding token-window document chunking — the ingestion op that
    * turns long documents into training-context-sized pieces: 64-token
    * windows advanced by a 48-token stride (16 tokens of overlap so no
    * span is split across a chunk boundary without also appearing
    * whole in a neighbor), each chunk carrying (doc_id, chunk_idx)
    * provenance. Spark-first shape: `sequence()` generates the window
    * starts per document and `explode` fans them out, `slice()` cuts
    * the token array — a narrow scan-side transform with NO shuffle
    * (the orderBy is the determinism contract, not the operator); the
    * fan-out factor is n_tokens/stride, i.e. output volume tracks
    * corpus tokens linearly, never quadratically. At 100 TB chunking
    * runs as a map over the scan with the original text column pruned
    * away after tokenization. */
  private[graft] val chunkDocuments = Q("chunk_documents",
    (s, dir) => {
      val win = 64L; val stride = 48L
      t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(trim(col("text")), "\\s+").as("toks"))
        .withColumn("n_toks", size(col("toks")).cast("long"))
        .withColumn("start",
          explode(sequence(lit(0L),
            expr(s"((n_toks - 1) div $stride) * $stride"), lit(stride))))
        .select(col("doc_id"),
          expr(s"start div $stride").as("chunk_idx"),
          concat_ws(" ", slice(col("toks"), col("start") + lit(1),
            lit(win))).as("chunk_text"),
          least(lit(win), col("n_toks") - col("start"))
            .as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some(raw"""SELECT doc_id,
      s // 48 AS chunk_idx,
      array_to_string(tk[s + 1 : s + 64], ' ') AS chunk_text,
      CAST(LEAST(64, n - s) AS BIGINT) AS chunk_tokens
      FROM (
        SELECT doc_id, tk, n,
          unnest(generate_series(0, ((n - 1) // 48) * 48, 48)) AS s
        FROM (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
              AS n
          FROM documents
          WHERE text IS NOT NULL AND trim(text) <> ''))
      ORDER BY doc_id, chunk_idx"""))

  /** Benchmark decontamination — the training-data op that keeps eval
    * sets honest: any TRAIN doc sharing a 5-gram with any TEST doc
    * (the deterministic hash split defines the sets) is flagged for
    * removal. Grams stay array-valued per doc (no row explosion until
    * the join), the test-gram side is distinct-deduped BEFORE the
    * semi-join, and the join keys are xxhash64 digests of grams, not
    * the gram text — at 100 TB the shuffle carries 8-byte longs. (The
    * digest choice is internal to the join: the oracle compares only
    * the flagged doc ids, so DuckDB keys on its own md5.) */
  private[graft] val textDecontaminate = Q("text_decontaminate",
    (s, dir) => {
      val k = 5
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("int")
      // bind the token array once per row: referencing the split()
      // from inside the per-gram lambda re-splits the whole document
      // at every gram (HOFs re-evaluate captures per element; ColOps)
      val grams = graft.functions.ColOps.bound(
        split(trim(lower(col("text"))), "\\s+")) { toks =>
        when(size(toks) < k, array(array_join(toks, " ")))
          .otherwise(array_distinct(transform(
            sequence(lit(0), size(toks) - k),
            i => array_join(slice(toks, i + lit(1), lit(k)), " "))))
      }
      val g = docs.select(col("doc_id"), (bucket < lit(6554)).as("is_test"),
        explode(grams).as("gram"))
        .withColumn("gh", xxhash64(col("gram"))).drop("gram")
      val testGrams = g.filter(col("is_test")).select("gh").distinct()
      // BROADCAST the distinct test-gram set: a benchmark suite is a
      // small fixed corpus (its distinct 5-gram hashes are 8-byte longs
      // — millions of grams fit in tens of MB), while the train side is
      // the 100 TB corpus. Broadcasting turns the contamination check
      // into a map-side probe: the exploded train grams never enter an
      // exchange, and the only shuffle is the final distinct over the
      // (small) contaminated-id set. The 100x rehearsal measured the
      // shuffle formulation at 38x cost on 10x data (sort + spill of
      // ~1G gram rows); this shape is linear.
      g.filter(!col("is_test"))
        .join(broadcast(testGrams), Seq("gh"), "left_semi")
        .select("doc_id").distinct()
        .orderBy("doc_id")
    },
    Some(raw"""WITH d AS (SELECT doc_id, lower(trim(text)) AS txt
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      toks AS (SELECT doc_id, regexp_split_to_array(txt, '\s+') AS t
        FROM d),
      grams AS (SELECT doc_id,
        CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
        ELSE list_distinct(list_transform(range(1, len(t) - 5 + 2),
          i -> array_to_string(t[i:i+4], ' '))) END AS gs,
        CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          AS BIGINT) < 6554 AS is_test
        FROM toks),
      tg AS (SELECT DISTINCT md5(unnest(gs)) AS gh FROM grams
        WHERE is_test),
      tr AS (SELECT doc_id, md5(unnest(gs)) AS gh FROM grams
        WHERE NOT is_test)
      SELECT DISTINCT doc_id FROM tr JOIN tg USING (gh)
      ORDER BY doc_id"""))

  /** SOURCE-PAIR OVERLAP MATRIX — the curation diagnostic behind
    * "which of my feeds are mirrors of each other": distinct 5-gram
    * containment for every source pair, the corpus-level twin of
    * [[textDecontaminate]]'s train/test screen. Shape: grams collapse
    * to DISTINCT (source, gram-hash) pairs first (the only data-sized
    * shuffle, 8-byte keys), the pair join then fans each gram out by
    * at most (#sources sharing it)² — bounded by the SOURCE count
    * squared, never by corpus size, because the distinct collapse
    * already ate the volume. Output is the sources² matrix
    * (driver-safe by the same bound). `overlap_permille` =
    * shared·1000 div min(total) — all-integer containment, so a
    * mirrored feed reads ~1000 regardless of which side is bigger.
    * At 100 TB this is the scheduled audit that catches a re-crawled
    * mirror BEFORE near-dup spends minhash on it: n-gram containment
    * at source grain costs one distinct + one bounded join. */
  private[graft] val corpusOverlapMatrix = Q("corpus_overlap_matrix",
    (s, dir) => {
      val k = 5
      val docs = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
      val grams = graft.functions.ColOps.bound(
        split(trim(lower(col("text"))), "\\s+")) { toks =>
        when(size(toks) < k, array(array_join(toks, " ")))
          .otherwise(array_distinct(transform(
            sequence(lit(0), size(toks) - k),
            i => array_join(slice(toks, i + lit(1), lit(k)), " "))))
      }
      // the distinct collapse is the ONLY data-sized work — checkpoint
      // it so the pair join's two sides and the totals read the
      // materialized collapse instead of re-shuffling the corpus 3×
      import org.apache.spark.sql.graft.CheckpointBridge
      val sg = docs.select(col("source"), explode(grams).as("gram"))
        .select(col("source"), xxhash64(col("gram")).as("gh"))
        .distinct()
        .scratchCheckpoint(false)
      val tot = sg.groupBy("source").agg(count(lit(1)).as("total"))
      try sg.as("a")
        .join(sg.as("b"), col("a.gh") === col("b.gh") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared_grams"))
        .join(tot.select(col("source").as("source_a"),
          col("total").as("total_a")), "source_a")
        .join(tot.select(col("source").as("source_b"),
          col("total").as("total_b")), "source_b")
        .select(col("source_a"), col("source_b"), col("shared_grams"),
          col("total_a"), col("total_b"),
          expr("shared_grams * 1000 div least(total_a, total_b)")
            .as("overlap_permille"))
        .orderBy("source_a", "source_b")
        .scratchCheckpoint(true)
      finally CheckpointBridge.release(sg)
    },
    Some(raw"""WITH d AS (SELECT source, lower(trim(text)) AS txt
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      toks AS (SELECT source, regexp_split_to_array(txt, '\s+') AS t
        FROM d),
      grams AS (SELECT source,
        CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
        ELSE list_distinct(list_transform(range(1, len(t) - 5 + 2),
          i -> array_to_string(t[i:i+4], ' '))) END AS gs
        FROM toks),
      sg AS (SELECT DISTINCT source, md5(unnest(gs)) AS gh FROM grams),
      tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS total
        FROM sg GROUP BY 1),
      pairs AS (SELECT a.source AS source_a, b.source AS source_b,
          CAST(COUNT(*) AS BIGINT) AS shared_grams
        FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
        GROUP BY 1, 2)
      SELECT p.source_a, p.source_b, p.shared_grams,
        ta.total AS total_a, tb.total AS total_b,
        p.shared_grams * 1000 // LEAST(ta.total, tb.total)
          AS overlap_permille
      FROM pairs p
      JOIN tot ta ON ta.source = p.source_a
      JOIN tot tb ON tb.source = p.source_b
      ORDER BY source_a, source_b"""))

  /** The composed curation pipeline end-to-end
    * ([[graft.llmops.CorpusPipeline.curate]]): NFC normalize → quality
    * gate → PII scrub → exact dedup → hash split, one scan + one
    * digest-keyed shuffle — and because every stage is portable, the
    * ENTIRE composition is hash-gated, not just its pieces. */
  private[graft] val corpusCurate = Q("corpus_curate",
    (s, dir) =>
      // layout-conditional spread: the normalize→regex-gate→scrub
      // chain is CPU-dense and ran twice on the single-split scan's
      // one task (profiled ~3 s single-core); no-op on a multi-split
      // production layout, preserving curate's text-never-shuffles
      // contract at scale — see graft.Spread.ensureWideScan
      graft.llmops.CorpusPipeline.curate(
        Spread.ensureWideScan(t(s, dir, "documents"), col("doc_id")))
        .orderBy("doc_id"),
    Some {
      val stop = TextAnalysis.StopwordPattern
      val em = TextAnalysis.EmailPattern
      val ip = TextAnalysis.Ipv4Pattern
      val ph = TextAnalysis.PhonePattern
      raw"""WITH prep AS (SELECT doc_id,
        nfc_normalize(COALESCE(text, '')) AS norm FROM documents),
      prof AS (SELECT doc_id, norm,
        CAST(CASE WHEN norm IS NULL OR trim(norm) = '' THEN 0
          ELSE len(regexp_split_to_array(trim(norm), '\s+')) END AS BIGINT)
          AS n_tokens,
        COALESCE(len(regexp_extract_all(lower(norm), '$stop')), 0)
          AS n_stop,
        CAST(length(COALESCE(norm, '')) AS DOUBLE) /
          NULLIF(CAST(CASE WHEN norm IS NULL OR trim(norm) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(norm), '\s+')) END
            AS DOUBLE), 0.0) AS mtl
        FROM prep),
      kept AS (SELECT doc_id, norm, n_tokens FROM prof
        WHERE COALESCE(n_tokens >= 5 AND mtl >= 2.0 AND mtl <= 12.0
          AND n_stop > 0, false)),
      scrub AS (SELECT doc_id, n_tokens,
        regexp_replace(regexp_replace(regexp_replace(norm,
          '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')
          AS clean_text FROM kept),
      fp AS (SELECT *, md5(regexp_replace(trim(lower(clean_text)),
        '\s+', ' ', 'g')) AS f FROM scrub),
      surv AS (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY 1)
      SELECT fp.doc_id, clean_text, n_tokens,
        CASE WHEN CAST('0x' || substring(md5(CAST(fp.doc_id AS VARCHAR)),
          1, 4) AS BIGINT) < 6554 THEN 'test' ELSE 'train' END AS split
      FROM fp JOIN surv ON fp.f = surv.f AND fp.doc_id = surv.doc_id
      ORDER BY fp.doc_id"""
    })

  /** Per-domain document cap — the CommonCrawl-style curation rule
    * that stops one mega-domain from dominating a training mix: keep
    * the top `cap` docs per source by quality (n_chars proxy, ties by
    * doc_id so the cut is deterministic). The window shuffles ONCE on
    * source and sorts within each domain — at 100 TB the mega-domain
    * skew case is served by the same map-side partial top-k the
    * `sim_topk_aggregator` row proves (k rows per partition reach the
    * exchange), so the cap never funnels a whole domain through one
    * task's sort. */
  private[graft] val corpusDomainCap = Q("corpus_domain_cap",
    (s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .withColumn("quality_rank", row_number().over(w).cast("long"))
        .filter(col("quality_rank") <= 15)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("quality_rank"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source, n_chars, quality_rank FROM (
      SELECT doc_id, source, n_chars,
        CAST(ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY n_chars DESC, doc_id) AS BIGINT) AS quality_rank
      FROM documents) WHERE quality_rank <= 15 ORDER BY doc_id"""))

  /** Canonical-URL dedup — the CCNet/RefinedWeb first-pass curation
    * rule: collapse crawl records that are the SAME resource behind
    * different link decorations (tracking params, param order,
    * fragments, default port, host case, trailing slash) BEFORE any
    * content hashing, because the key is metadata-only and never
    * touches page bytes. The documents table carries no crawl-URL
    * column, so the query derives a deterministic messy URL per doc —
    * the derivation is mirrored VERBATIM in the oracle; the operator
    * under test is [[TextAnalysis.canonicalizeUrl]], whose every
    * normalization (strip `#frag`, drop `utm_*` wherever it sits in
    * the query, SORT surviving params so `?z=1&a=0` ≡ `?a=0&z=1`,
    * drop `:443`, trailing slash, case) the derivation exercises.
    * Plan shape is exact-dedup's: canonicalization is a scan-side
    * narrow map (higher-order filter/sort on the split query — no
    * UDF), and the two-stage re-aggregation counts raw variants
    * without a distinct Expand — the exchange carries
    * (canonical, raw) key rows once, never page content. At 100 TB
    * this is the cheapest dedup pass in the stack: one shuffle of
    * short strings, run before the content-hash families. */
  private[graft] val corpusUrlCanonical = Q("corpus_url_canonical",
    (s, dir) => {
      val d = col("doc_id")
      val host0 = concat(lit("media"), (d % 5).cast("string"),
        lit(".example.com"))
      val raw = concat(
        lit("https://"),
        when(d % 3 === 0, upper(host0)).otherwise(host0),
        when(d % 4 === 0, lit(":443")).otherwise(lit("")),
        lit("/v/"), (d % 10).cast("string"),
        when(d % 5 === 0, lit("/")).otherwise(lit("")),
        when(d % 3 === 1, concat(lit("?p="), (d % 2).cast("string")))
          .when(d % 3 === 2, concat(lit("?z=1&a="), (d % 2).cast("string")))
          .otherwise(lit("")),
        when(d % 2 === 0, concat(
          when(d % 3 === 0, lit("?")).otherwise(lit("&")),
          lit("utm_source=feed&utm_campaign=c"), (d % 3).cast("string")))
          .otherwise(lit("")),
        when(d % 6 === 0, concat(lit("#sec"), (d % 4).cast("string")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(d, raw.as("raw_url"))
        .withColumn("canonical_url",
          TextAnalysis.canonicalizeUrl(col("raw_url")))
        .groupBy(col("canonical_url"), col("raw_url"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
        .groupBy(col("canonical_url"))
        .agg(sum(col("n")).as("n_docs"),
          count(lit(1)).as("n_raw_variants"),
          min(col("min_doc")).as("survivor_doc_id"))
        .select(col("canonical_url"), col("n_docs"),
          col("n_raw_variants"), col("survivor_doc_id"),
          regexp_extract(col("canonical_url"), "^https://([^/?]+)", 1)
            .as("domain"))
        .orderBy("canonical_url")
    },
    Some(raw"""WITH raw AS (SELECT doc_id,
        'https://' ||
        CASE WHEN doc_id % 3 = 0
          THEN upper('media' || CAST(doc_id % 5 AS VARCHAR) || '.example.com')
          ELSE 'media' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' END ||
        CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
        '/v/' || CAST(doc_id % 10 AS VARCHAR) ||
        CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        CASE WHEN doc_id % 3 = 1 THEN '?p=' || CAST(doc_id % 2 AS VARCHAR)
             WHEN doc_id % 3 = 2 THEN '?z=1&a=' || CAST(doc_id % 2 AS VARCHAR)
             ELSE '' END ||
        CASE WHEN doc_id % 2 = 0 THEN
          (CASE WHEN doc_id % 3 = 0 THEN '?' ELSE '&' END) ||
          'utm_source=feed&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR)
          ELSE '' END ||
        CASE WHEN doc_id % 6 = 0 THEN '#sec' || CAST(doc_id % 4 AS VARCHAR)
          ELSE '' END AS raw_url
      FROM documents),
      c1 AS (SELECT doc_id, raw_url,
        regexp_replace(raw_url, '#.*$$', '') AS nf FROM raw),
      c1b AS (SELECT doc_id, raw_url,
        split_part(nf, '?', 1) AS base0,
        -- query = everything after the FIRST '?' ('?' is legal inside
        -- a query string)
        CASE WHEN strpos(nf, '?') > 0 THEN substr(nf, strpos(nf, '?') + 1)
          ELSE '' END AS q
        FROM c1),
      c1c AS (SELECT doc_id, raw_url, base0, q,
        substr(base0, 9) AS after_scheme FROM c1b),
      c1d AS (SELECT doc_id, raw_url, base0, q,
        CASE WHEN strpos(after_scheme, '/') > 0
          THEN substr(after_scheme, 1, strpos(after_scheme, '/') - 1)
          ELSE after_scheme END AS auth,
        CASE WHEN strpos(after_scheme, '/') > 0
          THEN substr(after_scheme, strpos(after_scheme, '/'))
          ELSE '' END AS pth
        FROM c1c),
      c2 AS (SELECT doc_id, raw_url,
        -- :443 strips only as https' default port, only in the
        -- authority (http://h:443 and path ':443/' segments are kept)
        regexp_replace(
          CASE WHEN starts_with(base0, 'https://')
            THEN 'https://' || regexp_replace(auth, ':443$$', '') || pth
            ELSE base0 END,
          '/$$', '') AS base,
        q
        FROM c1d),
      c3 AS (SELECT doc_id, raw_url, base,
        -- array_to_string of an EMPTY list is NULL in DuckDB (Spark's
        -- array_join gives ''): coalesce or the no-param rows vanish
        COALESCE(array_to_string(list_sort(list_filter(string_split(q, '&'),
          p -> NOT regexp_matches(p, '^(utm_[a-z_]+|fbclid|gclid)=')
            AND p <> '')), '&'), '') AS sq
        FROM c2),
      c4 AS (SELECT doc_id, raw_url,
        lower(base || CASE WHEN sq = '' THEN '' ELSE '?' || sq END)
          AS canonical_url FROM c3),
      pre AS (SELECT canonical_url, raw_url,
        COUNT(*) AS n, MIN(doc_id) AS min_doc
        FROM c4 GROUP BY 1, 2)
      SELECT canonical_url,
        CAST(SUM(n) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_raw_variants,
        MIN(min_doc) AS survivor_doc_id,
        regexp_extract(canonical_url, '^https://([^/?]+)', 1) AS domain
      FROM pre GROUP BY 1 ORDER BY canonical_url"""))

  /** Bradley–Terry strength fit over pairwise preference outcomes
    * ([[graft.llmops.Preference.bradleyTerry]]) — the RLHF
    * preference-data shape: raters decide head-to-head comparisons,
    * the pipeline fits a per-entity strength that predicts win odds
    * (π_a/(π_a+π_b)). Here the comparison stream is derived
    * deterministically from the corpus — consecutive doc_ids in the
    * same lang across different sources "compete", the longer text
    * wins (ties to the lower id) — and the fitted entities are the
    * 20 sources. The data-sized job is the one groupBy collapsing
    * comparisons to the ordered-pair win matrix (≤ sources² rows, the
    * sufficient statistic); 4 MM rounds run on the driver over that
    * bounded aggregate (the k-means/PQ-codebook contract). The
    * recurrence is integer-quantized with a max-normalized gauge and
    * a 0.001 floor (overflow headroom documented on the kernel), so
    * the oracle replays it exactly as a DuckDB recursive CTE over the
    * same pair matrix. */
  private[graft] val prefBradleyTerry = Q("pref_bradley_terry",
    (s, dir) => {
      val d1 = t(s, dir, "documents").as("d1")
      val d2 = t(s, dir, "documents").as("d2")
      val outcomes = d1.join(d2,
          col("d2.doc_id") === col("d1.doc_id") + 1 &&
            col("d2.lang") === col("d1.lang") &&
            col("d2.source") =!= col("d1.source"))
        .select(
          when(col("d2.n_chars") > col("d1.n_chars"), col("d2.source"))
            .otherwise(col("d1.source")).as("winner"),
          when(col("d2.n_chars") > col("d1.n_chars"), col("d1.source"))
            .otherwise(col("d2.source")).as("loser"))
      graft.llmops.Preference.bradleyTerry(outcomes, iterations = 4)
        .select(col("entity"), col("wins"), col("matches"),
          col("skill_micro"))
        .orderBy(col("skill_micro").desc, col("entity"))
    },
    Some("""WITH RECURSIVE
      m AS (
        SELECT CASE WHEN d2.n_chars > d1.n_chars THEN d2.source
            ELSE d1.source END AS winner,
          CASE WHEN d2.n_chars > d1.n_chars THEN d1.source
            ELSE d2.source END AS loser
        FROM documents d1
        JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
          AND d2.lang = d1.lang AND d2.source <> d1.source),
      dc AS (SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS n
        FROM m GROUP BY 1, 2),
      wins AS (SELECT winner AS e, SUM(n) AS w FROM dc GROUP BY 1),
      pc AS (SELECT a, b, SUM(n) AS n FROM (
          SELECT winner AS a, loser AS b, n FROM dc
          UNION ALL
          SELECT loser, winner, n FROM dc) GROUP BY 1, 2),
      ents AS (SELECT DISTINCT a AS e FROM pc),
      bt(iter, e, pi) AS (
        SELECT 0, e, CAST(1000000 AS BIGINT) FROM ents
        UNION ALL
        SELECT * FROM (
          WITH prev AS (SELECT * FROM bt WHERE iter < 4),
          denom AS (
            SELECT pa.e, pa.iter,
              SUM((pc.n * 1000000000000) // GREATEST(pa.pi + pb.pi, 1))
                AS d
            FROM pc
            JOIN prev pa ON pa.e = pc.a
            JOIN prev pb ON pb.e = pc.b AND pb.iter = pa.iter
            GROUP BY 1, 2),
          raw AS (
            SELECT d.e, d.iter,
              (COALESCE(w.w, 0) * 1000000000000) // GREATEST(d.d, 1) AS r
            FROM denom d LEFT JOIN wins w ON w.e = d.e)
          SELECT iter + 1, e,
            GREATEST(r * 1000000 //
              GREATEST(MAX(r) OVER (PARTITION BY iter), 1), 1000) AS pi
          FROM raw))
      SELECT b.e AS entity, CAST(COALESCE(w.w, 0) AS BIGINT) AS wins,
        CAST((SELECT SUM(n) FROM pc WHERE a = b.e) AS BIGINT) AS matches,
        b.pi AS skill_micro
      FROM bt b LEFT JOIN wins w ON w.e = b.e
      WHERE iter = 4
      ORDER BY skill_micro DESC, entity"""))

  /** Cross-document repeated-span mining — the exact-substring flavor
    * of train-set dedup (public result: verbatim spans repeated across
    * documents are memorization fuel; Lee et al. 2021,
    * arXiv:2107.06499): every 8-token span occurring in ≥2 DISTINCT
    * docs, with its document count, total occurrences, and a sample.
    * Plan: tokens bound once per row (ColOps.bound), spans exploded as
    * md5 digests; the aggregate groups on the 16-byte digest, so the
    * exchange carries (digest, doc_id) pairs — never span text; the
    * sample is a map-side partial min (one span string per key per
    * partition reaches the shuffle). At 100 TB the digest groupBy is
    * the same one-exchange shape as exact dedup. */
  private[graft] val dedupRepeatedSpans = Q("dedup_repeated_spans",
    (s, dir) => {
      val k = 8
      // layout-conditional spread: the tokenize+explode+digest chain
      // is the measured 1-task hot stage over the single-split scan
      // (1.17 s, 15.8 MB emitted from one core); on a multi-split
      // production layout this is a no-op and text still never
      // shuffles — see graft.Spread.ensureWideScan
      val docs = Spread.ensureWideScan(t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= ""),
        col("doc_id"))
      val spans = graft.functions.ColOps.bound(
        split(trim(lower(col("text"))), "\\s+")) { toks =>
        when(size(toks) >= k,
          transform(sequence(lit(0), size(toks) - k),
            i => array_join(slice(toks, i + lit(1), lit(k)), " ")))
      }
      // two-stage re-aggregation instead of a mixed countDistinct
      // aggregate: the distinct would Expand-double the exploded rows
      // entering the exchange; pre-aggregating on (digest, doc_id)
      // collapses within-doc repeats map-side first
      docs.select(col("doc_id"), explode(spans).as("gram"))
        .groupBy(md5(col("gram")).as("gram_md5"), col("doc_id"))
        .agg(count(lit(1)).as("occ"), min(col("gram")).as("g"))
        .groupBy(col("gram_md5"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("occ")).as("n_occurrences"),
          min(col("g")).as("sample_gram"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("n_occurrences").desc,
          col("gram_md5"))
    },
    Some(raw"""WITH t AS (SELECT doc_id,
        regexp_split_to_array(trim(lower(text)), '\s+') AS a
      FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      s AS (SELECT doc_id, unnest(list_transform(range(1, len(a) - 8 + 2),
          i -> array_to_string(a[i:i+7], ' '))) AS gram
        FROM t WHERE len(a) >= 8)
      SELECT md5(gram) AS gram_md5,
        COUNT(DISTINCT doc_id) AS n_docs,
        COUNT(*) AS n_occurrences,
        MIN(gram) AS sample_gram
      FROM s GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
      ORDER BY n_docs DESC, n_occurrences DESC, gram_md5"""))

  /** Curriculum/quality-band sampling — the "keep more of the good
    * data" mix rule: documents are deciled by a quality proxy
    * (n_chars; swap in any score column) and each decile keeps a
    * deterministic md5-bucket fraction proportional to its band
    * (decile 10 → ~100%, decile 1 → ~10%). Deciling reuses
    * [[graft.etl.Ranking.ntileByValue]] — the CDF-reconstruction
    * NTILE with ZERO unpartitioned windows in the plan, so the
    * banding survives any corpus size — and the keep decision is the
    * same partition-independent hash machinery as sample_hash_split.
    * Output is the per-decile census; the kept set is the same
    * predicate un-aggregated. */
  private[graft] val curriculumMix = Q("curriculum_mix",
    (s, dir) => {
      val bucketed = graft.etl.Ranking.ntileByValue(
        t(s, dir, "documents"), "n_chars", "doc_id", 10)
        .withColumnRenamed("ntile", "quality_decile")
      val hb = conv(substring(md5(col("doc_id").cast("string")), 1, 4),
        16, 10).cast("int")
      bucketed
        .withColumn("keep",
          hb < col("quality_decile") * lit(0.1) * lit(65536))
        .groupBy("quality_decile")
        .agg(count(lit(1)).as("total_docs"),
          count(when(col("keep"), 1)).as("kept_docs"))
        .orderBy("quality_decile")
    },
    Some("""SELECT quality_decile, COUNT(*) AS total_docs,
      COUNT(CASE WHEN
        CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
        < quality_decile * 0.1 * 65536 THEN 1 END) AS kept_docs
      FROM (SELECT doc_id,
        NTILE(10) OVER (ORDER BY n_chars, doc_id) AS quality_decile
        FROM documents)
      GROUP BY 1 ORDER BY 1"""))

  /** k-anonymity audit over quasi-identifier columns (lang, source):
    * combinations carried by fewer than k=5 documents are
    * re-identification risks a privacy review must see before release.
    * One hash-aggregate with map-side partials — the shuffle carries
    * (lang, source, partial count), nothing row-sized. */
  private[graft] val kanonAudit = Q("kanon_audit",
    (s, dir) =>
      t(s, dir, "documents")
        .groupBy(coalesce(col("lang"), lit("(none)")).as("lang"),
          coalesce(col("source"), lit("(none)")).as("source"))
        .agg(count(lit(1)).as("group_size"))
        .filter(col("group_size") < 5)
        .orderBy("lang", "source"),
    Some("""SELECT COALESCE(lang, '(none)') AS lang,
      COALESCE(source, '(none)') AS source, COUNT(*) AS group_size
      FROM documents GROUP BY 1, 2 HAVING COUNT(*) < 5 ORDER BY 1, 2"""))

  // ======================================================================
  // LLM-data-pipeline extensions: multimodal binary columns
  // ======================================================================

  private[graft] val multimodalMeta = Q("multimodal_metadata",
    (s, dir) =>
      Multimodal.blobMetadata(
        Multimodal.asBlobs(t(s, dir, "documents"), "doc_id", "text",
          "source"))
        .orderBy("blob_id"),
    Some("""SELECT doc_id AS blob_id, COALESCE(source, 'unknown') AS kind,
      CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes,
      sha256(COALESCE(text, '')) AS sha256,
      hex(encode(substring(COALESCE(text, ''), 1, 4))) AS magic
      FROM documents ORDER BY blob_id"""))

  /** Decode stage over REAL images: corpus bytes are packed into
    * genuine 16-wide grayscale PNGs, then decoded by the actual JDK
    * ImageIO reader (javax.imageio — no stub). The recovered dimensions
    * are pure functions of the source byte length, so the real decode
    * path is fully oracle-checked; the luma-histogram features are
    * golden-tested in MultimodalSpec. */
  private[graft] val multimodalDecode = Q("multimodal_decode",
    (s, dir) =>
      Multimodal.decode(s,
        Multimodal.bytesToPngBlobs(s,
          Multimodal.asBlobs(t(s, dir, "documents"), "doc_id", "text",
            "source")))
        .toDF()
        .select(col("blob_id"), col("width"), col("height"),
          col("n_frames"))
        .orderBy("blob_id"),
    Some("""SELECT doc_id AS blob_id, CAST(16 AS INTEGER) AS width,
      CAST(GREATEST(CEIL(octet_length(encode(COALESCE(text, ''))) / 16.0), 1)
        AS INTEGER) AS height,
      CAST(1 AS INTEGER) AS n_frames
      FROM documents ORDER BY blob_id"""))

  /** Frame sampling over binary payloads. The sampled frame COUNT is a
    * pure function of byte length (stride 4 → one 16-byte frame per 64
    * payload bytes, minimum one), so it is fully oracle-checked; the
    * frame contents are golden-tested in MultimodalSpec. */
  private[graft] val multimodalFrames = Q("multimodal_frames",
    (s, dir) =>
      Multimodal.frameSample(
        Multimodal.asBlobs(t(s, dir, "documents"), "doc_id", "text",
          "source"))
        .select(col("blob_id"), size(col("frames")).as("n_frames"))
        .orderBy("blob_id"),
    Some("""SELECT doc_id AS blob_id,
      CAST(GREATEST(CAST(FLOOR(octet_length(encode(COALESCE(text, ''))) / 64.0)
        AS BIGINT) - 1, 0) + 1 AS INTEGER) AS n_frames
      FROM documents ORDER BY blob_id"""))

  /** IMAGE NEAR-DUP DEDUP over the binary modality — the LAION-shape
    * pipeline: corpus → real PNG payloads → REAL `javax.imageio`
    * decode → 64-bit average perceptual hash of the decoded raster
    * ([[graft.llmops.Multimodal.aHash64]]) → pigeonhole Hamming join
    * at radius 3 ([[graft.llmops.Dedup.hammingPairs]] — the simhash
    * chunk machinery reused on image signatures, complete at this
    * radius). Pixels shuffle AT MOST ONCE, and only on narrow layouts:
    * the codec chain's head conditionally spreads the payload frame to
    * compute parallelism when the scan produced fewer splits than
    * cores ([[graft.llmops.Multimodal.bytesToPngBlobs]]'s
    * layout-conditional spread — a production blob table is already
    * wide and pays NO payload exchange); past the codec stages the
    * only exchange carries (id, 8-byte hash, 16-bit chunk) rows, so a
    * billion-image dedup moves signatures, not images. Near-identical documents render to
    * near-identical rasters and land within the radius (measured:
    * known text near-dups sit at Hamming 1–5 vs 19–31 for random
    * pairs); aHash is alignment-sensitive by nature, so early-insert
    * shifted variants are the documented misses — the same trade the
    * production pHash stacks accept before an embedding rerank. The
    * hash is a deterministic pure function of the pixels (all-integer
    * pooling), so the sf0.01 pair set is frozen as the oracle (the
    * dedup_simhash precedent). */
  private[graft] val multimodalPhashDedup = Q("multimodal_phash_dedup",
    (s, dir) => {
      // identity on the real corpus (unique image ids); a rehearsal
      // layout that replicates files id-and-all would otherwise hash
      // every copy identically and square the pair space through the
      // Hamming-0 buckets (the dedup_ngram_jaccard guard)
      val blobs = Multimodal.bytesToPngBlobs(s,
        Multimodal.asBlobs(
          t(s, dir, "documents").dropDuplicates("doc_id"),
          "doc_id", "text", "source"))
      Dedup.hammingPairs(Multimodal.aHash64(s, blobs),
          "blob_id", "ahash", maxHamming = 3)
        .orderBy("id_a", "id_b")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(8 AS BIGINT), CAST(245 AS BIGINT), CAST(2 AS INTEGER)),
      (CAST(26 AS BIGINT), CAST(455 AS BIGINT), CAST(1 AS INTEGER)),
      (CAST(61 AS BIGINT), CAST(185 AS BIGINT), CAST(1 AS INTEGER)),
      (CAST(70 AS BIGINT), CAST(447 AS BIGINT), CAST(1 AS INTEGER)),
      (CAST(267 AS BIGINT), CAST(413 AS BIGINT), CAST(1 AS INTEGER)),
      (CAST(285 AS BIGINT), CAST(301 AS BIGINT), CAST(1 AS INTEGER)),
      (CAST(458 AS BIGINT), CAST(462 AS BIGINT), CAST(2 AS INTEGER)))
      AS t(id_a, id_b, hamming) ORDER BY id_a, id_b"""))

  /** IMAGE QUALITY GATE over the binary modality — the LAION-shape
    * curation pass that runs BEFORE dedup/embedding: per image a
    * resolution floor (≥ 256 px), an aspect-ratio cap (h ≤ 2w), and a
    * scorer threshold (aes ≥ 0.16 — between deciles 4 and 5 of this
    * corpus's score distribution, so the gate genuinely splits),
    * reported per source as gate-failure counts and survivors. Decode is REAL (`javax.imageio` on true PNG payloads
    * via [[graft.llmops.Multimodal.decode]] — width/height/8-bin luma
    * histogram, codec init once per partition); the "aesthetic" score
    * is the documented STUB for the model scorer the container can't
    * ship: 1 − Σ|lumaShare_b − ⅛|/1.75, a deterministic pure function
    * of the REAL decoded histogram (flat luma ⇒ 1, single-bin ⇒ 0),
    * with the left-to-right 8-element fold order fixed so the float is
    * bit-stable at any partitioning. Swapping in a real CLIP-aesthetic
    * head changes ONE expression; the plumbing under test — binary
    * columns, per-partition decode, gate composition, per-source
    * rollup — is the production shape. Pixels shuffle at most once
    * (the codec head's layout-conditional spread, a no-op on wide
    * production layouts — see multimodal_phash_dedup); the rollup
    * exchange carries (source, 3 ints, 1 double) per image. Score
    * values depend on the PNG raster, which DuckDB can't replay, so
    * the sf0.01 rollup is frozen as the oracle (the
    * multimodal_phash_dedup precedent). */
  private[graft] val multimodalQualityGate = Q("multimodal_quality_gate",
    (s, dir) => {
      val blobs = Multimodal.bytesToPngBlobs(s,
        Multimodal.asBlobs(
          t(s, dir, "documents").dropDuplicates("doc_id"),
          "doc_id", "text", "source"))
      val keep = col("width") * col("height") >= 256 &&
        col("height") <= col("width") * 2 && col("aes") >= 0.16
      Multimodal.decode(s, blobs).toDF()
        .select(col("blob_id"), col("width"), col("height"),
          (lit(1.0) - expr("""aggregate(features, cast(0.0 as double),
            (acc, f) -> acc + abs(cast(f as double) - 0.125))""") / 1.75)
            .as("aes"))
        .join(t(s, dir, "documents")
            .select(col("doc_id").as("blob_id"), col("source"))
            // same id-dedup guard as the blob side: a replicated-id
            // rehearsal layout must not fan the metadata join out
            .dropDuplicates("blob_id"),
          "blob_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_images"),
          sum(when(col("width") * col("height") < 256, 1L)
            .otherwise(0L)).as("n_lowres"),
          sum(when(col("height") > col("width") * 2, 1L)
            .otherwise(0L)).as("n_stretch"),
          sum(when(col("aes") < 0.16, 1L).otherwise(0L)).as("n_lowaes"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("source")
    },
    Some("""SELECT * FROM (VALUES
      ('src0', CAST(25 AS BIGINT), CAST(8 AS BIGINT), CAST(1 AS BIGINT), CAST(8 AS BIGINT), CAST(9 AS BIGINT)),
      ('src1', CAST(25 AS BIGINT), CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(9 AS BIGINT), CAST(10 AS BIGINT)),
      ('src10', CAST(25 AS BIGINT), CAST(10 AS BIGINT), CAST(2 AS BIGINT), CAST(9 AS BIGINT), CAST(6 AS BIGINT)),
      ('src11', CAST(25 AS BIGINT), CAST(4 AS BIGINT), CAST(3 AS BIGINT), CAST(13 AS BIGINT), CAST(8 AS BIGINT)),
      ('src12', CAST(25 AS BIGINT), CAST(11 AS BIGINT), CAST(2 AS BIGINT), CAST(9 AS BIGINT), CAST(7 AS BIGINT)),
      ('src13', CAST(25 AS BIGINT), CAST(8 AS BIGINT), CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(12 AS BIGINT)),
      ('src14', CAST(25 AS BIGINT), CAST(12 AS BIGINT), CAST(1 AS BIGINT), CAST(9 AS BIGINT), CAST(9 AS BIGINT)),
      ('src15', CAST(25 AS BIGINT), CAST(11 AS BIGINT), CAST(2 AS BIGINT), CAST(9 AS BIGINT), CAST(7 AS BIGINT)),
      ('src16', CAST(25 AS BIGINT), CAST(8 AS BIGINT), CAST(3 AS BIGINT), CAST(6 AS BIGINT), CAST(9 AS BIGINT)),
      ('src17', CAST(25 AS BIGINT), CAST(8 AS BIGINT), CAST(2 AS BIGINT), CAST(8 AS BIGINT), CAST(8 AS BIGINT)),
      ('src18', CAST(25 AS BIGINT), CAST(9 AS BIGINT), CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(11 AS BIGINT)),
      ('src19', CAST(25 AS BIGINT), CAST(13 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(10 AS BIGINT)),
      ('src2', CAST(25 AS BIGINT), CAST(7 AS BIGINT), CAST(1 AS BIGINT), CAST(7 AS BIGINT), CAST(11 AS BIGINT)),
      ('src3', CAST(25 AS BIGINT), CAST(9 AS BIGINT), CAST(2 AS BIGINT), CAST(11 AS BIGINT), CAST(6 AS BIGINT)),
      ('src4', CAST(25 AS BIGINT), CAST(11 AS BIGINT), CAST(2 AS BIGINT), CAST(6 AS BIGINT), CAST(10 AS BIGINT)),
      ('src5', CAST(25 AS BIGINT), CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(6 AS BIGINT), CAST(11 AS BIGINT)),
      ('src6', CAST(25 AS BIGINT), CAST(12 AS BIGINT), CAST(0 AS BIGINT), CAST(6 AS BIGINT), CAST(8 AS BIGINT)),
      ('src7', CAST(25 AS BIGINT), CAST(8 AS BIGINT), CAST(0 AS BIGINT), CAST(9 AS BIGINT), CAST(11 AS BIGINT)),
      ('src8', CAST(25 AS BIGINT), CAST(14 AS BIGINT), CAST(0 AS BIGINT), CAST(8 AS BIGINT), CAST(6 AS BIGINT)),
      ('src9', CAST(25 AS BIGINT), CAST(10 AS BIGINT), CAST(1 AS BIGINT), CAST(10 AS BIGINT), CAST(9 AS BIGINT)))
      AS t(source, n_images, n_lowres, n_stretch, n_lowaes, n_kept)
      ORDER BY source"""))

  /** Stratified deterministic sampling — per-stratum rates from a tiny
    * broadcast config table, membership from the doc's own md5 bucket
    * (the sample_hash_split mechanism, generalized to per-group
    * rates). This is `DataFrame.sampleBy` done scale-correctly: no RNG
    * seed to disagree across engines or partitionings, a doc's
    * fate never changes when other docs arrive, and the rate table is
    * data, not code — retune the mix without redeploying. The compare
    * `bucket * 1000 < permille * 4096` is all-integer (bucket is 12
    * bits of md5), so both engines draw the identical sample. At
    * 100 TB this is a scan-side map + broadcast hash join — no
    * shuffle at all before the determinism orderBy. */
  private[graft] val stratifiedSample = Q("stratified_sample",
    (s, dir) => {
      import s.implicits._
      val rates = Seq((0, 100), (1, 250), (2, 500), (3, 900))
        .toDF("stratum", "permille")
      val stratum = pmod(
        regexp_extract(col("source"), "(\\d+)", 1).cast("int"), lit(4))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 3),
        16, 10).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), stratum.as("stratum"),
          bucket.as("bucket"))
        .join(broadcast(rates), "stratum")
        .filter(col("bucket") * 1000 < col("permille") * 4096)
        .select(col("doc_id"), col("source"), col("stratum"),
          col("bucket"))
        .orderBy("doc_id")
    },
    Some(raw"""WITH r(stratum, permille) AS (
        VALUES (0, 100), (1, 250), (2, 500), (3, 900))
      SELECT doc_id, source, stratum, bucket
      FROM (
        SELECT doc_id, source,
          CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 4
            AS stratum,
          CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 3)
            AS BIGINT) AS INTEGER) AS bucket
        FROM documents) d
      JOIN r USING (stratum)
      WHERE bucket * 1000 < permille * 4096
      ORDER BY doc_id"""))
  /** DETERMINISTIC negative sampling for contrastive training — the
    * embedding-model data op (in-batch negatives' offline twin): per
    * anchor doc, k=3 negatives drawn by salted hash, with the
    * same-source / same-lang flags hard-negative mining filters on.
    * The draw is the integer trick neg = (id + 1 + h mod (n−1)) mod n
    * over the DENSE id space — never equal to the anchor by
    * construction (offset ∈ [1, n−1]), no rejection loop, and a pure
    * function of (salt, k, id): replayable, growth-stable per id,
    * engine-portable md5 arithmetic (the sample_hash_split
    * discipline). Corpora without dense ids materialize one
    * zipWithIndex mapping first — data-sized but one-off. Plan: one
    * 1-row count broadcast, a k=3 scan-side fan-out, and ONE equi-join
    * back to the corpus on neg_id to fetch the negative's metadata —
    * at 100 TB the join is id-keyed and the anchor text never
    * shuffles. */
  private[graft] val contrastiveNegatives = Q("contrastive_negatives",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"))
      val n = docs.agg(count(lit(1)).as("n"))
      val anchors = docs.crossJoin(broadcast(n))
        .select(col("doc_id"), col("source"), col("lang"), col("n"),
          explode(expr("sequence(1, 3)")).as("neg_rank"))
        .withColumn("h",
          conv(substring(md5(concat(lit("neg:"), col("neg_rank"),
            lit(":"), col("doc_id"))), 1, 8), 16, 10).cast("long"))
        .select(col("doc_id"), col("source"), col("lang"),
          col("neg_rank"),
          pmod(col("doc_id") + 1 + pmod(col("h"), col("n") - 1),
            col("n")).as("neg_id"))
      anchors.join(docs
          .select(col("doc_id").as("neg_id"),
            col("source").as("neg_source"), col("lang").as("neg_lang")),
          "neg_id")
        .select(col("doc_id"), col("neg_rank"), col("neg_id"),
          (col("source") === col("neg_source")).as("same_source"),
          (col("lang") === col("neg_lang")).as("same_lang"))
        .orderBy("doc_id", "neg_rank")
    },
    Some("""WITH docs AS (SELECT doc_id, source, lang FROM documents),
      n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM docs),
      anchors AS (
        SELECT d.doc_id, d.source, d.lang, g.k AS neg_rank,
          (d.doc_id + 1 + (CAST('0x' || substring(md5('neg:' ||
            CAST(g.k AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)),
            1, 8) AS BIGINT) % (n.n - 1))) % n.n AS neg_id
        FROM docs d CROSS JOIN n
        CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k) g)
      SELECT a.doc_id, a.neg_rank, a.neg_id,
        a.source = d2.source AS same_source,
        a.lang = d2.lang AS same_lang
      FROM anchors a JOIN docs d2 ON d2.doc_id = a.neg_id
      ORDER BY a.doc_id, a.neg_rank"""))

  /** Token-budget mix planning — the data-mix table every large
    * pretraining run publishes (weights × budget → per-stratum token
    * targets and repeat factors): given a 2M-token budget and
    * per-stratum mixture weights from a broadcast config table (the
    * [[stratifiedSample]] convention — rates are data, not code), one
    * token-count aggregate per stratum yields target tokens, the
    * repeat factor in milli-epochs (target·1000 div available — >1000
    * means the stratum must repeat, the up-sampling signal mix
    * designers watch), and the oversample flag. All-integer, one
    * scan + one 4-row aggregate + a broadcast config join at any
    * corpus size. */
  private[graft] val mixTokenBudget = Q("mix_token_budget",
    (s, dir) => {
      import s.implicits._
      val weights = Seq((0, 100), (1, 250), (2, 500), (3, 150))
        .toDF("stratum", "permille")
      val budget = 2000000L
      val stratum = pmod(
        regexp_extract(col("source"), "(\\d+)", 1).cast("int"), lit(4))
      t(s, dir, "documents")
        .select(stratum.as("stratum"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("toks"))
        .groupBy("stratum")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
        .join(broadcast(weights), "stratum")
        .select(col("stratum"), col("n_docs"), col("tokens"),
          col("permille").cast("long").as("permille"),
          expr(s"$budget * permille div 1000").as("target_tokens"),
          // greatest(.,1): an all-blank stratum (0 tokens) must yield
          // a defined (huge) repeat factor, not a div-by-zero that the
          // two engines disagree on (Spark NULL vs DuckDB error)
          expr(s"($budget * permille div 1000) * 1000" +
            " div greatest(tokens, 1L)").as("epochs_milli"),
          (expr(s"($budget * permille div 1000) * 1000" +
            " div greatest(tokens, 1L)") > 1000L).as("oversampled"))
        .orderBy("stratum")
    },
    Some(raw"""WITH w(stratum, permille) AS (
        VALUES (0, 100), (1, 250), (2, 500), (3, 150)),
      d AS (SELECT
          CAST(regexp_extract(source, '(\d+)', 1) AS INTEGER) % 4
            AS stratum,
          CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END
            AS BIGINT) AS toks
        FROM documents),
      agg AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(toks) AS BIGINT) AS tokens
        FROM d GROUP BY 1)
      SELECT stratum, n_docs, tokens,
        CAST(permille AS BIGINT) AS permille,
        2000000 * permille // 1000 AS target_tokens,
        (2000000 * permille // 1000) * 1000 // GREATEST(tokens, 1)
          AS epochs_milli,
        (2000000 * permille // 1000) * 1000 // GREATEST(tokens, 1) > 1000
          AS oversampled
      FROM agg JOIN w USING (stratum)
      ORDER BY stratum"""))

  /** BM25 relevance scoring against a broadcast query-term table —
    * the retrieval-quality op (Robertson/Okapi BM25, k1=1.2, b=0.75)
    * that ranks every document for a query without an inverted index.
    * ONE tokenize of the corpus: the doc length rides the explode as a
    * carried column, so there is no separate length table and no
    * doc_id join — tf keeps `first(dl)` through its own aggregate, df
    * falls out of tf (already distinct per (doc, term)), and the
    * corpus stats (N, avgdl) come from a doc-level re-aggregate of the
    * same exploded stream (the 100×-docs rehearsal caught the previous
    * three-branch shape re-tokenizing the corpus three times and
    * fanning out through a length join). Per-term scores round to 6dp
    * and sum as DECIMAL so the doc score is shuffle-order-independent.
    * At 100 TB the data-sized exchanges carry matched (doc_id, term)
    * rows and one doc-level (doc_id, dl) aggregate; at that scale N
    * and avgdl would come from table statistics instead — the second
    * aggregate is the self-contained stand-in. */
  private[graft] val textBm25 = Q("text_bm25",
    (s, dir) => {
      import s.implicits._
      val qterms = Seq("hash", "join", "vector", "stream", "window")
        .toDF("term")
      val tokd = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("term"))
        .filter(col("term") =!= "")
      val stats = tokd.groupBy(col("doc_id"))
        .agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      val tf = tokd.join(broadcast(qterms), "term")
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val avgdl = col("total_dl").cast("double") /
        col("n_docs").cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs").cast("double") - col("df").cast("double") +
          lit(0.5)) / (col("df").cast("double") + lit(0.5)))
      val denom = col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
      tf.join(broadcast(dfreq), "term")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          round(idf * (col("tf").cast("double") * lit(2.2) / denom), 6)
            .cast(DecimalType(18, 6)).as("ts_"))
        .groupBy(col("doc_id"))
        .agg(sum(col("ts_")).cast("double").as("score"),
          count(lit(1)).as("n_matched"))
        .orderBy("doc_id")
    },
    Some(raw"""WITH q(term) AS (
        VALUES ('hash'), ('join'), ('vector'), ('stream'), ('window')),
      tokd AS (
        SELECT doc_id,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS BIGINT) AS dl,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      t2 AS (SELECT doc_id, dl, term FROM tokd WHERE term != ''),
      stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(dl) AS BIGINT) AS total_dl
        FROM (SELECT doc_id, ANY_VALUE(dl) AS dl FROM t2 GROUP BY 1)),
      tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
          ANY_VALUE(dl) AS dl
        FROM t2 JOIN q USING (term) GROUP BY 1, 2),
      dfreq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
      SELECT doc_id,
        CAST(SUM(CAST(ROUND(
          ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
            / (CAST(df AS DOUBLE) + 0.5)) *
          (CAST(tf AS DOUBLE) * 2.2 /
            (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
              (CAST(dl AS DOUBLE) /
                (CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))),
          6) AS DECIMAL(18,6))) AS DOUBLE) AS score,
        CAST(COUNT(*) AS BIGINT) AS n_matched
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Per-source distribution drift — how far each source's unigram
    * distribution sits from the corpus-wide one, as total-variation
    * distance and Jensen-Shannon divergence. The absent-vocabulary
    * mass is handled in CLOSED FORM (a term the source never emits
    * contributes q to TV and ½·q·ln2 to JS, so Σ over absent terms is
    * (1 − covered_q)), which keeps the join INNER on (source, term) —
    * no source × vocabulary expansion ever materializes. Probabilities
    * derive from exact integer counts, per-term contributions round to
    * 9dp and sum as DECIMAL(18,9) (shuffle-order-independent, still on
    * the codegen path). The drift table is the mixing dashboard for
    * [[mixSources]]/[[curriculumMix]]: a source whose JS spikes is the
    * one contaminating the blend. */
  private[graft] val corpusDrift = Q("corpus_drift",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val bySrc = terms.groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c_s"))
      // corpus counts fall out of the per-source aggregate (sum over
      // sources) — the 100×-docs rehearsal caught the previous shape
      // re-scanning and re-shuffling every exploded token a second time
      val corpus = bySrc.groupBy(col("term"))
        .agg(sum(col("c_s")).as("c"))
      val srcTot = bySrc.groupBy(col("source"))
        .agg(sum(col("c_s")).as("t_s"))
      val corpTot = corpus.agg(sum(col("c")).as("t"))
      val p = col("c_s").cast("double") / col("t_s").cast("double")
      val q = col("c").cast("double") / col("t").cast("double")
      val m = (p + q) * lit(0.5)
      val contrib = bySrc.join(corpus, "term")
        .join(broadcast(srcTot), "source")
        .crossJoin(broadcast(corpTot))
        .select(col("source"),
          round(abs(p - q), 9).cast(DecimalType(18, 9)).as("tv_t"),
          round(lit(0.5) * p * log(p / m) +
            lit(0.5) * q * log(q / m), 9)
            .cast(DecimalType(18, 9)).as("js_t"),
          round(q, 9).cast(DecimalType(18, 9)).as("q_t"))
      contrib.groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"),
          round(lit(0.5) * (sum(col("tv_t")).cast("double") +
            (lit(1.0) - sum(col("q_t")).cast("double"))), 6).as("tv"),
          round(sum(col("js_t")).cast("double") +
            lit(0.5) * log(lit(2.0)) *
              (lit(1.0) - sum(col("q_t")).cast("double")), 6).as("js"))
        .orderBy("source")
    },
    Some(raw"""WITH terms AS (
        SELECT source, unnest(regexp_split_to_array(trim(lower(text)),
          '\s+')) AS term
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      t2 AS (SELECT source, term FROM terms WHERE term != ''),
      by_src AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c_s
        FROM t2 GROUP BY 1, 2),
      corpus AS (
        SELECT term, CAST(SUM(c_s) AS BIGINT) AS c FROM by_src
        GROUP BY 1),
      src_tot AS (
        SELECT source, CAST(SUM(c_s) AS BIGINT) AS t_s
        FROM by_src GROUP BY 1),
      corp_tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM corpus),
      contrib AS (
        SELECT source,
          CAST(ROUND(ABS(CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE) -
            CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 9)
            AS DECIMAL(18,9)) AS tv_t,
          CAST(ROUND(
            0.5 * (CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE)) *
              ln((CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE)) /
                ((CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE) +
                  CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 0.5)) +
            0.5 * (CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) *
              ln((CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) /
                ((CAST(c_s AS DOUBLE) / CAST(t_s AS DOUBLE) +
                  CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 0.5)),
            9) AS DECIMAL(18,9)) AS js_t,
          CAST(ROUND(CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 9)
            AS DECIMAL(18,9)) AS q_t
        FROM by_src
        JOIN corpus USING (term)
        JOIN src_tot USING (source)
        CROSS JOIN corp_tot)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
        ROUND(0.5 * (CAST(SUM(tv_t) AS DOUBLE) +
          (1.0 - CAST(SUM(q_t) AS DOUBLE))), 6) AS tv,
        ROUND(CAST(SUM(js_t) AS DOUBLE) +
          0.5 * ln(2.0) * (1.0 - CAST(SUM(q_t) AS DOUBLE)), 6) AS js
      FROM contrib GROUP BY 1 ORDER BY 1"""))

  /** Per-source two-sample Kolmogorov–Smirnov drift over the document
    * token-length distribution — each source's ECDF against the
    * rest-of-corpus ECDF, the classic shape-drift test that TV/JS
    * ([[corpusDrift]]) can't see (those compare unigram MASS; KS
    * catches a source whose documents got systematically longer even
    * when its vocabulary mix is unchanged). Everything is exact
    * integers until one final division: lengths aggregate to
    * (source, len) counts, the rest-of-corpus count at each length is
    * corpus − source (closed form — no self-join of the doc set), the
    * two ECDFs accumulate under a window PARTITIONED BY source (never
    * global), and the sup-distance is max |cum_s·n_rest − cum_rest·n_s|
    * kept as a BIGINT cross-product so no float comparison decides the
    * max. The (source × distinct-length) domain that fills ECDF steps
    * the source never emits is aggregated × enum-bounded — at 100 TB
    * it is sources × max-doc-length rows, not data-sized; the corpus
    * length histogram broadcasts. */
  private[graft] val corpusKsDrift = Q("corpus_ks_drift",
    (s, dir) => {
      val lens = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("source"),
          size(split(trim(lower(col("text"))), "\\s+"))
            .cast("long").as("l"))
      val byLen = lens.groupBy(col("source"), col("l"))
        .agg(count(lit(1)).as("c_sl"))
      // corpus histogram and per-source totals fall out of byLen —
      // one shuffle of (source, len) pairs, never a token re-scan
      val corpus = byLen.groupBy(col("l")).agg(sum(col("c_sl")).as("c_l"))
      val srcs = byLen.groupBy(col("source")).agg(sum(col("c_sl")).as("n_s"))
      val tot = corpus.agg(sum(col("c_l")).as("n"))
      val filled = srcs.crossJoin(broadcast(corpus))
        .join(byLen, Seq("source", "l"), "left")
        .select(col("source"), col("n_s"), col("l"), col("c_l"),
          coalesce(col("c_sl"), lit(0L)).as("c_sl"))
      val w = Window.partitionBy(col("source")).orderBy(col("l"))
      val cums = filled.select(col("source"), col("n_s"),
        sum(col("c_sl")).over(w).as("cum_s"),
        sum(col("c_l") - col("c_sl")).over(w).as("cum_r"))
      cums.crossJoin(broadcast(tot)) // 1-row compose
        .groupBy(col("source"), col("n_s"), col("n"))
        .agg(max(abs(col("cum_s") * (col("n") - col("n_s")) -
          col("cum_r") * col("n_s"))).as("num"))
        .select(col("source"), col("n_s").as("n_src"),
          round(col("num").cast("double") /
            (col("n_s").cast("double") *
              (col("n") - col("n_s")).cast("double")), 9).as("ks_d"))
        .orderBy("source")
    },
    Some(raw"""WITH lens AS (
        SELECT source,
          CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
            AS BIGINT) AS l
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      by_len AS (
        SELECT source, l, CAST(COUNT(*) AS BIGINT) AS c_sl
        FROM lens GROUP BY 1, 2),
      corpus AS (
        SELECT l, CAST(SUM(c_sl) AS BIGINT) AS c_l FROM by_len
        GROUP BY 1),
      srcs AS (
        SELECT source, CAST(SUM(c_sl) AS BIGINT) AS n_s FROM by_len
        GROUP BY 1),
      tot AS (SELECT CAST(SUM(c_l) AS BIGINT) AS n FROM corpus),
      filled AS (
        SELECT d.source, d.n_s, d.l, d.c_l,
          COALESCE(b.c_sl, 0) AS c_sl
        FROM (SELECT source, n_s, l, c_l FROM srcs CROSS JOIN corpus) d
        LEFT JOIN by_len b ON d.source = b.source AND d.l = b.l),
      cums AS (
        SELECT source, n_s,
          SUM(c_sl) OVER (PARTITION BY source ORDER BY l) AS cum_s,
          SUM(c_l - c_sl) OVER (PARTITION BY source ORDER BY l) AS cum_r
        FROM filled),
      num AS (
        SELECT c.source, c.n_s, ANY_VALUE(t.n) AS n,
          MAX(ABS(c.cum_s * (t.n - c.n_s) - c.cum_r * c.n_s)) AS num
        FROM cums c CROSS JOIN tot t GROUP BY 1, 2)
      SELECT source, n_s AS n_src,
        ROUND(CAST(num AS DOUBLE) /
          (CAST(n_s AS DOUBLE) * CAST(n - n_s AS DOUBLE)), 9) AS ks_d
      FROM num ORDER BY 1"""))

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed-unigram distribution is —
    * per-token log p_target(bucket)/p_raw(bucket) under add-1-smoothed
    * LMs over a FIXED 256-bucket hash space — and keep the top 50.
    * The target slice here is the English documents (selecting for a
    * language from a mixed crawl, the paper's own motivating use).
    * Buckets come from md5's first 16 bits (the registry's portable
    * hash — both engines agree bit-for-bit), so the two LMs are 256
    * exact integer counts each: ONE aggregate over the token stream
    * produces both (c_raw, c_target) per bucket via a conditional sum,
    * the 256-row log-ratio LUT broadcasts, the per-doc score is a
    * map-side LUT join + one groupBy(doc_id) with per-token
    * contributions rounded to 6dp and summed as DECIMAL
    * (shuffle-order-independent), and the top-50 is orderBy+limit —
    * TakeOrderedAndProject, never a global sort. At 100 TB: two passes
    * over tokens, one doc-keyed shuffle, model state 256 rows. */
  private[graft] val corpusDsirSelect = Q("corpus_dsir_select",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val t2 = toks.select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("long")
          % 256).as("b"))
      val cnt = t2.groupBy(col("b")).agg(
        count(lit(1)).as("c_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
      val tots = cnt.agg(sum(col("c_r")).as("n_r"),
        sum(col("c_t")).as("n_t"))
      val lut = cnt.crossJoin(broadcast(tots)) // 1-row compose
        .select(col("b"),
          round(log((col("c_t") + lit(1L)).cast("double") *
            (col("n_r") + lit(256L)).cast("double") /
            ((col("c_r") + lit(1L)).cast("double") *
              (col("n_t") + lit(256L)).cast("double"))), 6)
            .cast(DecimalType(18, 6)).as("lr"))
      t2.join(broadcast(lut), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("lr")).cast("double").as("w"))
        .orderBy(col("w").desc, col("doc_id"))
        .limit(50)
    },
    Some(raw"""WITH toks AS (
        SELECT doc_id, lang,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      t2 AS (
        SELECT doc_id, lang,
          CAST('0x' || substring(md5(term), 1, 4) AS BIGINT) % 256 AS b
        FROM toks WHERE term != ''),
      cnt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
            AS c_t
        FROM t2 GROUP BY 1),
      tots AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
        CAST(SUM(c_t) AS BIGINT) AS n_t FROM cnt),
      lut AS (
        SELECT b,
          CAST(ROUND(ln(CAST(c_t + 1 AS DOUBLE) *
            CAST(n_r + 256 AS DOUBLE) /
            (CAST(c_r + 1 AS DOUBLE) * CAST(n_t + 256 AS DOUBLE))), 6)
            AS DECIMAL(18,6)) AS lr
        FROM cnt CROSS JOIN tots)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(lr) AS DOUBLE) AS w
      FROM t2 JOIN lut USING (b)
      GROUP BY 1 ORDER BY w DESC, doc_id LIMIT 50"""))

  /** Vocabulary-coverage builder — the BPE-prep diagnostic: the top-200
    * corpus tokens by frequency (count-desc, token-asc ties) with each
    * token's running cumulative share of ALL corpus tokens. The top-k
    * is orderBy+limit, which Spark executes as TakeOrderedAndProject —
    * map-side partial top-k per partition, never a global sort of the
    * vocabulary; the cumulative window then runs over the 200-row
    * LIMIT result (bounded by construction, the allowlisted
    * aggregated-input shape). Counts are exact BIGINTs; shares are one
    * double division both engines fold identically. */
  private[graft] val textVocabulary = Q("text_vocabulary",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(split(trim(lower(col("text"))), "\\s+"))
          .as("term"))
        .filter(col("term") =!= "")
      val freq = terms.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      val total = freq.agg(sum(col("tf")).as("total"))
      val top = freq.orderBy(col("tf").desc, col("term")).limit(200)
      val w = boundedWindow(col("tf").desc, col("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(total))
        .select(col("term"), col("tf"),
          row_number().over(w).as("rank"),
          round(sum(col("tf")).over(w).cast("double") /
            col("total").cast("double"), 6).as("cum_share"))
        .orderBy("rank")
    },
    Some(raw"""WITH terms AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
          AS term
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      freq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms WHERE term != '' GROUP BY 1),
      total AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM freq),
      top AS (
        SELECT term, tf FROM freq ORDER BY tf DESC, term LIMIT 200)
      SELECT term, tf,
        CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS INTEGER)
          AS rank,
        ROUND(CAST(SUM(tf) OVER (ORDER BY tf DESC, term
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_share
      FROM top CROSS JOIN total
      ORDER BY rank"""))

  /** PMI collocation mining — the top word pairs that co-occur far
    * more than chance (pointwise mutual information over adjacent
    * bigrams), the classic phrase detector run before tokenizer
    * training so "new york"-style units become single vocab entries
    * (Mikolov et al. 2013's phrase pass). Bigram pairing is the
    * shuffle-free `zip_with`-against-own-tail idiom of
    * [[textBigramLogprob]]; the unigram and bigram tables are plain
    * partial+final count aggregates, so the whole plan is two
    * scan-speed aggregates plus a broadcast of the two scalar totals.
    * PMI = ln(p(ab) / (p(a)·p(b))) computed in one identical IEEE op
    * sequence in both engines and rounded to 6dp BEFORE the top-k cut
    * so the cut ranks on identical keys (ties → pair lexicographic).
    * A min-count floor of 5 kills the hapax-pair noise that dominates
    * raw PMI; the top-20 is orderBy+limit =
    * TakeOrderedAndProject — map-side partial top-k, never a global
    * sort of the pair table. */
  private[graft] val textPmiCollocations = Q("text_pmi_collocations",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("a"))
      val bigrams = toks.select(
        explode(zip_with(
          slice(col("a"), lit(1), size(col("a")) - 1),
          slice(col("a"), lit(2), size(col("a")) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("z"))
        .select(col("z.w1").as("w1"), col("z.w2").as("w2"))
      val bf = bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("bc"))
      val uf = toks.select(explode(col("a")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("uc"))
      val totals = uf.agg(sum(col("uc")).as("nu")).crossJoin(
        bf.agg(sum(col("bc")).as("nb")))
      bf.filter(col("bc") >= 5)
        .join(uf.select(col("term").as("w1"), col("uc").as("c1")),
          Seq("w1"))
        .join(uf.select(col("term").as("w2"), col("uc").as("c2")),
          Seq("w2"))
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("bc"),
          round(log(
            (col("bc").cast("double") / col("nb").cast("double")) /
              ((col("c1").cast("double") / col("nu").cast("double")) *
                (col("c2").cast("double") / col("nu").cast("double")))),
            6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(20)
    },
    Some(raw"""WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+')
          AS a
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      bg AS (SELECT z['w1'] AS w1, z['w2'] AS w2 FROM (
        SELECT unnest(list_transform(range(1, len(a)),
          i -> {'w1': a[i], 'w2': a[i+1]})) AS z FROM toks)),
      bf AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS bc
        FROM bg GROUP BY 1, 2),
      uf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS uc FROM
        (SELECT unnest(a) AS term FROM toks) GROUP BY 1),
      totals AS (SELECT
        (SELECT CAST(SUM(uc) AS BIGINT) FROM uf) AS nu,
        (SELECT CAST(SUM(bc) AS BIGINT) FROM bf) AS nb)
      SELECT w1, w2, bc,
        ROUND(ln((CAST(bc AS DOUBLE) / CAST(nb AS DOUBLE)) /
          ((CAST(c1 AS DOUBLE) / CAST(nu AS DOUBLE)) *
           (CAST(c2 AS DOUBLE) / CAST(nu AS DOUBLE)))), 6) AS pmi
      FROM (SELECT bf.w1, bf.w2, bf.bc, u1.uc AS c1, u2.uc AS c2
        FROM bf JOIN uf u1 ON bf.w1 = u1.term
          JOIN uf u2 ON bf.w2 = u2.term
        WHERE bf.bc >= 5) CROSS JOIN totals
      ORDER BY pmi DESC, w1, w2 LIMIT 20"""))

  /** Vocabulary-coverage / OOV audit — given the top-k corpus
    * vocabulary (the [[textVocabulary]] construction; k = 20 here so
    * the 31-term synthetic fixture actually exercises the OOV path —
    * production k is 10^4..10^5 and changes nothing in the plan), the
    * per-source out-of-vocabulary rate: the number every tokenizer
    * owner tracks per ingestion source, because a source whose OOV
    * rate jumps is drifting away from the trained vocab (new language,
    * new markup, spam). The vocab is a bounded top-k
    * (TakeOrderedAndProject) that BROADCASTS to the token stream — the
    * corpus-side join is map-side, tokens never shuffle for the
    * membership probe; the per-source rollup is then one partial+final
    * aggregate keyed by the (low-cardinality) source. Counts exact,
    * one rounded division per source row. */
  private[graft] val vocabOovRate = Q("vocab_oov_rate",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val vocab = terms.groupBy(col("term"))
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("term")).limit(20)
        .select(col("term"), lit(1).as("in_vocab"))
      terms.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
            .as("n_oov"),
          count_distinct(when(col("in_vocab").isNull, col("term")))
            .as("oov_terms"))
        .select(col("source"), col("n_tokens"), col("n_oov"),
          col("oov_terms"),
          round(col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 6).as("oov_rate"))
        .orderBy("source")
    },
    Some(raw"""WITH terms AS (
        SELECT source, unnest(regexp_split_to_array(trim(lower(text)),
          '\s+')) AS term
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      t2 AS (SELECT source, term FROM terms WHERE term != ''),
      vocab AS (SELECT term, 1 AS in_vocab FROM (
        SELECT term, COUNT(*) AS tf FROM t2 GROUP BY 1
        ORDER BY tf DESC, term LIMIT 20)),
      j AS (SELECT t2.source, t2.term, v.in_vocab
        FROM t2 LEFT JOIN vocab v ON t2.term = v.term)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_oov,
        CAST(COUNT(DISTINCT CASE WHEN in_vocab IS NULL THEN term END)
          AS BIGINT) AS oov_terms,
        ROUND(CAST(SUM(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
      FROM j GROUP BY 1 ORDER BY 1"""))

  /** DETERMINISTIC WEIGHT-PROPORTIONAL SAMPLING (Poisson sampling with
    * per-row inclusion probability min(1, k·w/W)) — the "sample 100
    * documents, long ones proportionally more often" primitive behind
    * importance-weighted corpus subsetting, where the weight is any
    * per-row quality/length score. Inclusion is a pure function of the
    * row key: u = first 8 md5 hex digits of the salted doc id (a
    * 32-bit uniform), keep iff u·W < w·k·2^32 — rearranged so BOTH
    * sides are exact integer products (evaluated in DECIMAL(38,0) /
    * HUGEINT, overflow-proof at any corpus weight), never a float or a
    * libm call, so DuckDB reproduces the sample membership
    * bit-for-bit. The scale shape: one 1-row total-weight aggregate
    * broadcast back over the scan — sampling itself is a stateless
    * filter, no shuffle, no sort, resumable per-partition; E[size] = k
    * regardless of corpus size; replayable (the same doc set at every
    * rerun — the property ad-hoc rand() sampling can never give a
    * 100 TB pipeline). */
  private[graft] val sampleWeighted = Q("sample_weighted",
    (s, dir) => {
      val k = 100L
      val docs = t(s, dir, "documents")
      val wTotal = docs.agg(sum(col("n_chars")).as("w_total")) // 1 row
      val u32 = conv(substring(md5(concat(lit("w:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      docs
        .withColumn("u32", u32)
        .crossJoin(broadcast(wTotal)) // 1-row aggregate compose
        .filter(col("u32").cast(DecimalType(38, 0)) *
          col("w_total").cast(DecimalType(38, 0)) <
          col("n_chars").cast(DecimalType(38, 0)) *
            lit(k * 4294967296L).cast(DecimalType(38, 0)))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH tot AS (SELECT SUM(n_chars) AS w_total FROM documents)
      SELECT doc_id, source, n_chars
      FROM documents CROSS JOIN tot
      WHERE CAST(CAST('0x' || substring(
          md5('w:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          AS HUGEINT) * w_total
        < CAST(n_chars AS HUGEINT) * 429496729600
      ORDER BY doc_id"""))

  /** BPE TOKENIZER-TRAINING MERGE STEP — the corpus-wide adjacent-pair
    * count whose argmax becomes the next merge rule (Sennrich et al.
    * 2016; the statistic a distributed tokenizer trainer computes once
    * per merge round over the full corpus). Top-20 adjacent character
    * pairs inside whitespace tokens. The plan is pure scan-side
    * generation: tokens explode from the scan, each token's pairs come
    * from `transform(sequence(...))` over the token (substr(i,2) IS
    * the adjacent pair — no join, no window), and the only shuffle
    * carries (2-char pair, partial count) with map-side combine; the
    * top-20 is TakeOrderedAndProject. A full BPE train is this query
    * in a driver loop (apply argmax merge, re-split, recount) — each
    * round stays this same one-shuffle shape. Guard: `sequence(a,b)`
    * DESCENDS when b < a (1-char tokens would fabricate pairs), so
    * single-char tokens are filtered before pair generation. */
  private[graft] val bpePairCounts = Q("bpe_pair_counts",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(explode(split(trim(lower(col("text"))), "\\s+"))
          .as("tok"))
        .filter(col("tok") =!= "" && length(col("tok")) >= 2)
      toks
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },
    Some(raw"""WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
          AS tok
        FROM documents WHERE text IS NOT NULL AND trim(text) != ''),
      pairs AS (
        SELECT substr(tok, CAST(i AS INTEGER), 2) AS pair
        FROM (SELECT tok, unnest(generate_series(1, length(tok) - 1))
            AS i
          FROM toks WHERE tok != '' AND length(tok) >= 2))
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY 1
      ORDER BY n DESC, pair LIMIT 20"""))

  /** TEMPERATURE-BASED SOURCE SAMPLING (the multilingual/source
    * rebalancing rule of Conneau & Lample 2019: sample source i with
    * p_i ∝ n_i^α, α = 0.5 — upweights low-resource sources relative
    * to their share) as a deterministic hash filter. Per-source accept
    * rate r_i = k·√n_i / (S·n_i) with S = Σ√n_j; the acceptance test
    * is rearranged to u32·S·n_i < k·q_i·2^32 over EXACT integers
    * (√n quantized to q = ⌊√n·10⁶⌋ BEFORE the cross-source sum — a
    * float Σ√n would be order-dependent; the quantization cancels in
    * the ratio), evaluated in DECIMAL(38,0)/HUGEINT. Scale shape: one
    * source-count aggregate (rows = #sources) broadcast back; the
    * membership test is scan-side, no shuffle, replayable — the
    * [[sampleWeighted]] contract with per-GROUP rather than per-row
    * weighting. */
  private[graft] val mixTemperature = Q("mix_temperature",
    (s, dir) => {
      val k = 200L
      val docs = t(s, dir, "documents")
      val rates = docs.groupBy("source")
        .agg(count(lit(1)).as("n_src"))
        .withColumn("q",
          floor(sqrt(col("n_src").cast("double")) * 1e6).cast("long"))
      val stot = rates.agg(sum(col("q")).as("s_tot")) // #sources rows → 1
      val u32 = conv(substring(md5(concat(lit("t:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      docs
        .join(broadcast(rates), Seq("source"))
        .crossJoin(broadcast(stot))
        .withColumn("u32", u32)
        .filter(col("u32").cast(DecimalType(38, 0)) *
          col("s_tot").cast(DecimalType(38, 0)) *
          col("n_src").cast(DecimalType(38, 0)) <
          col("q").cast(DecimalType(38, 0)) *
            lit(k * 4294967296L).cast(DecimalType(38, 0)))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    Some("""WITH rates AS (
        SELECT source, COUNT(*) AS n_src,
          CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000.0)
            AS BIGINT) AS q
        FROM documents GROUP BY 1),
      tot AS (SELECT SUM(q) AS s_tot FROM rates)
      SELECT d.doc_id, d.source
      FROM documents d JOIN rates r USING (source) CROSS JOIN tot
      WHERE CAST(CAST('0x' || substring(
            md5('t:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          AS HUGEINT) * s_tot * n_src
        < CAST(q AS HUGEINT) * 858993459200
      ORDER BY d.doc_id"""))

  /** IN-ENGINE QUALITY-CLASSIFIER TRAINING
    * ([[graft.llmops.QualityModel]]): deterministic distributed batch
    * GD on logistic loss — the fasttext-style linear scorer of the
    * CCNet/LLaMA curation recipes, trained by the engine itself. Each
    * iteration is one scan + one d-number aggregate (gradients
    * QUANTIZED before the cross-row sum — a float Σ over a shuffled
    * corpus is order-dependent), so the weight trajectory is a pure
    * function of the corpus and the learned weights freeze into a
    * VALUES oracle. The fixture labels a KNOWN separable concept
    * (n_chars ≥ 300) so convergence is sharply checkable —
    * [[qualityClassifierGate]] requires the recovered boundary to
    * actually classify it; a real deployment supplies human/LLM
    * quality labels and changes nothing else. Features are z-standardized from quantized
    * moments (scan-side, literal mu/sigma) so 30 iterations at lr 2.0
    * suffice.
    */
  private[graft] val qualityClassifier = Q("quality_classifier",
    (s, dir) => {
      val labeled = t(s, dir, "documents")
        .select(QualityModel.features(col("text")).as("xs"),
          when(col("n_chars") >= 300, 1.0).otherwise(0.0).as("y"))
      val fit = QualityModel
        .trainLogReg(QualityModel.standardize(labeled), iters = 30,
          lr = 2.0)
      import s.implicits._
      QualityModel.featureNames.zipWithIndex.map { case (f, j) =>
        (j, f, math.floor(fit.weights(j) * 1e6).toLong)
      }.toDF("idx", "feature", "weight_q").orderBy("idx")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(0 AS INTEGER), 'bias', CAST(168208 AS BIGINT)),
      (CAST(1 AS INTEGER), 'len', CAST(2780111 AS BIGINT)),
      (CAST(2 AS INTEGER), 'stopword_ratio', CAST(-37964 AS BIGINT)),
      (CAST(3 AS INTEGER), 'punct_ratio', CAST(0 AS BIGINT)),
      (CAST(4 AS INTEGER), 'n_tokens', CAST(2805622 AS BIGINT)),
      (CAST(5 AS INTEGER), 'mean_word_len', CAST(-89604 AS BIGINT)))
      AS t(idx, feature, weight_q) ORDER BY idx"""))

  /** One quality-model fit per (dir) per JVM, shared by the gate —
    * the [[QueriesRelational.stagedArtifact]] discipline applied to a
    * model artifact: training (30 driver-sequenced GD scans) is priced
    * by `quality_classifier` INLINE on every attempt; the gate
    * certifies the TRAINED model's invariants and should pay its own
    * checks, not a second training run (the round-15
    * `graph_kcore_gate` lesson). The fit is a pure function of the
    * corpus (deterministic quantized gradients), so whichever row's
    * attempt lands first memoizes the same weights the inline row
    * froze into its oracle. */
  private val fits = Scratch.memo[String, QualityModel.Fit]()

  /** The training invariants, gated to a constant-0 row: (a) the loss
    * trajectory DECREASES end-to-end (GD on a separable-ish concept
    * must descend; a sign error, a wrong quantization scale, or a
    * divergent lr all break it); (b) the learned model classifies the
    * training concept at ≥ 90% accuracy — far above the 52% majority
    * baseline, so a model that silently collapsed to the bias fails;
    * (c) every weight is finite. Serves the per-JVM [[fits]] memo
    * (training priced by `quality_classifier`; refit on first use
    * after [[Scratch.cleanup]]); the timed body is the accuracy scan +
    * the invariant checks — the certificate. */
  private[graft] val qualityClassifierGate = Q("quality_classifier_gate",
    (s, dir) => {
      val labeled = t(s, dir, "documents")
        .select(QualityModel.features(col("text")).as("xs"),
          when(col("n_chars") >= 300, 1.0).otherwise(0.0).as("y"))
      val std = QualityModel.standardize(labeled)
      val fit = fits(dir) {
        QualityModel.trainLogReg(std, iters = 30, lr = 2.0)
      }
      val acc = QualityModel.accuracy(std, fit.weights)
      val bad = (if (fit.losses.last < fit.losses.head) 0 else 1) +
        (if (acc >= 0.90) 0 else 1) +
        (if (fit.weights.forall(w => !w.isNaN && !w.isInfinite)) 0 else 1)
      s.sql(s"SELECT CAST($bad AS BIGINT) AS n_violations")
    },
    Some("SELECT CAST(0 AS BIGINT) AS n_violations"))

  /** FULL BPE TOKENIZER TRAINING ([[graft.llmops.Bpe.train]], 10 merge
    * rounds over the corpus vocabulary): the learned merge table, in
    * order. The corpus collapses once to (token, freq); every round is
    * a vocab-sized freq-weighted pair aggregate + 1-row argmax collect
    * + scan-side greedy fold — corpus bytes never re-enter after the
    * first shuffle (the `graph_pagerank` driver-sequenced posture,
    * localCheckpoint barriers between rounds). Frozen sf0.01 oracle
    * (engine-specific deterministic output, the xxhash64-family
    * precedent); the semantic invariants live in [[bpeTrainGate]]. */
  private[graft] val bpeTrainMerges = Q("bpe_train_merges",
    (s, dir) => {
      val (merges, _) = Bpe.train(t(s, dir, "documents"), "text", 10)
      import s.implicits._
      merges.map(m => (m.round, m.left, m.right, m.left + m.right,
        m.weight))
        .toDF("round", "left", "right", "merged", "weight")
        .orderBy("round")
    },
    Some("""SELECT * FROM (VALUES
      (CAST(1 AS INTEGER), 'e', 'r', 'er', CAST(4568 AS BIGINT)),
      (CAST(2 AS INTEGER), 'i', 'n', 'in', CAST(2760 AS BIGINT)),
      (CAST(3 AS INTEGER), 'o', 'w', 'ow', CAST(2747 AS BIGINT)),
      (CAST(4 AS INTEGER), 'o', 'r', 'or', CAST(2696 AS BIGINT)),
      (CAST(5 AS INTEGER), 's', 't', 'st', CAST(2676 AS BIGINT)),
      (CAST(6 AS INTEGER), 'm', 'er', 'mer', CAST(1852 AS BIGINT)),
      (CAST(7 AS INTEGER), 'a', 't', 'at', CAST(1845 AS BIGINT)),
      (CAST(8 AS INTEGER), 'l', 'u', 'lu', CAST(1831 AS BIGINT)),
      (CAST(9 AS INTEGER), 'a', 'r', 'ar', CAST(1758 AS BIGINT)),
      (CAST(10 AS INTEGER), 'p', 'ar', 'par', CAST(1758 AS BIGINT)))
      AS t("round", "left", "right", merged, weight)
      ORDER BY 1"""))

  /** The BPE training invariants, audited per round and gated to a
    * constant-0 row: (a) winning weights are NON-INCREASING across
    * rounds — a merge can only create pairs bounded by its own count
    * while consuming others, so a rising argmax means the recount is
    * wrong; (b) the conservation law: applying a merge must shrink
    * Σ freq·|syms| by EXACTLY its counted weight when left ≠ right
    * (such occurrences cannot overlap), and by 0 < applied ≤ weight
    * for self-pairs (adjacent counting sees overlaps inside runs —
    * "aaa" counts 2 but the greedy fold consumes 1, the reference BPE
    * behavior). A wrong fold, a double-merge, or a stale-vocab
    * recount each break the applicable case. */
  private[graft] val bpeTrainGate = Q("bpe_train_gate",
    (s, dir) => {
      val (merges, _) = Bpe.train(t(s, dir, "documents"), "text", 10,
        audit = true)
      val monotone = merges.sliding(2).count {
        case Seq(x, y) => y.weight > x.weight
        case _ => false
      }
      val conserve = merges.count { m =>
        val applied = m.symsBefore - m.symsAfter
        if (m.left != m.right) applied != m.weight
        else applied <= 0 || applied > m.weight
      }
      val nonEmpty = if (merges.size == 10) 0 else 1
      s.sql(s"SELECT CAST(${monotone + conserve + nonEmpty} AS BIGINT)" +
        " AS n_violations")
    },
    Some("SELECT CAST(0 AS BIGINT) AS n_violations"))

  /** The hashing trick (signed feature hashing, Weinberger et al.
    * 2009): project each document's bag-of-words into a FIXED
    * 64-bucket space via bucket = md5(term) mod B with a ±1 sign bit
    * from an independent hash digit — the featurizer that needs NO
    * vocabulary table, no fit step, and no shuffle beyond the output
    * aggregate, which is why it's the default for 100 TB text → model
    * pipelines (the sign makes collision noise zero-mean instead of
    * additive). Everything is scan-side column math on exact integers:
    * per-(doc, bucket) values are signed term-frequency sums, the
    * md5-hex → int bridge is the established [[sampleHashSplit]]
    * parity idiom, and the demo slice (doc_id < 50) bounds the output
    * while the hash math is corpus-size-free. */
  private[graft] val featureHashing = Q("feature_hashing",
    (s, dir) => {
      val terms = t(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val bucket = (conv(substring(md5(col("term")), 1, 4), 16, 10)
        .cast("long") % 64).as("bucket")
      val sign = (conv(substring(md5(col("term")), 5, 1), 16, 10)
        .cast("long") % 2 * 2 - 1).as("sign")
      terms.select(col("doc_id"), col("term"), bucket, sign)
        .groupBy(col("doc_id"), col("bucket"))
        .agg(sum(col("sign")).as("value"),
          count_distinct(col("term")).as("n_terms"))
        .orderBy("doc_id", "bucket")
    },
    Some(raw"""WITH terms AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
          '\s+')) AS term
        FROM documents
        WHERE doc_id < 50 AND text IS NOT NULL AND trim(text) != ''),
      t2 AS (SELECT doc_id, term,
          CAST('0x' || substring(md5(term), 1, 4) AS BIGINT) % 64
            AS bucket,
          (CAST('0x' || substring(md5(term), 5, 1) AS BIGINT) % 2)
            * 2 - 1 AS sign
        FROM terms WHERE term != '')
      SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS value,
        CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
      FROM t2 GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** BPE ENCODING — the serving half of the tokenizer: re-tokenize the
    * corpus with the merges [[bpeTrainMerges]] learned, via
    * [[graft.llmops.Bpe.encodeColumn]] (rank-ordered greedy folds,
    * pure scan-side column expressions — the merge table is
    * driver-held and bounded by vocab size, so encoding shuffles
    * NOTHING at any corpus scale; this is the map-side step a 100 TB
    * tokenization job runs per document). Invariant-gated to a
    * constant-0 row, the engine-specific-operator convention:
    * (a) LOSSLESSNESS — concatenating each token's encoded symbols
    * must reproduce the token byte-for-byte, for EVERY distinct corpus
    * token (a fold that drops, duplicates, or reorders a symbol
    * breaks it); (b) TRAIN/SERVE CONSISTENCY — encoding a token from
    * its raw characters must land on exactly the symbol array the
    * training loop's incremental merge application produced for that
    * token (rank-ordered replay = training's state sequence; an
    * encoder that applied merges in the wrong order, or re-scanned
    * already-merged output differently, diverges here). */
  private[graft] val bpeEncode = Q("bpe_encode",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val (merges, trained) = Bpe.train(docs, "text", 10)
      val enc = trained.select(col("tok"), col("syms").as("trained"),
        Bpe.encodeColumn(Bpe.charSplit(col("tok")), merges)
          .as("encoded"))
      enc.agg(
        sum(when(concat_ws("", col("encoded")) =!= col("tok"), 1L)
          .otherwise(0L)).as("n_roundtrip_violations"),
        sum(when(not(col("encoded") === col("trained")), 1L)
          .otherwise(0L)).as("n_trainserve_mismatches"))
    },
    Some("""SELECT CAST(0 AS BIGINT) AS n_roundtrip_violations,
      CAST(0 AS BIGINT) AS n_trainserve_mismatches"""))

  /** Tokenizer FERTILITY per source — mean BPE pieces per word under
    * the trained merges, the metric tokenizer owners track per corpus
    * source (a source whose fertility is high is poorly served by the
    * vocabulary: more sequence length per word, more compute per
    * byte). The encode side rides the trained vocabulary's final
    * symbol arrays (already computed once per distinct token —
    * fertility never re-encodes the corpus); the per-source word
    * frequencies join the piece counts on the (Heaps-law-bounded)
    * token key, then one aggregate per source. Exact integer
    * piece/word totals; fertility is the single trailing division.
    * Frozen sf0.01 oracle (engine-specific deterministic output — the
    * [[bpeTrainMerges]] precedent; the semantic invariants live in
    * [[bpeEncode]]). */
  private[graft] val bpeFertility = Q("bpe_fertility",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, trained) = Bpe.train(docs, "text", 10)
      val pieces = trained.select(col("tok"),
        size(col("syms")).cast("long").as("pieces"))
      val bySrc = docs
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("freq"))
      bySrc.join(broadcast(pieces), Seq("tok"))
        .groupBy(col("source"))
        .agg(sum(col("freq") * col("pieces")).as("pieces_total"),
          sum(col("freq")).as("words_total"))
        .select(col("source"), col("pieces_total"), col("words_total"),
          (col("pieces_total").cast("double") /
            col("words_total").cast("double")).as("fertility"))
        .orderBy("source")
    },
    Some("""SELECT source, pieces_total, words_total,
      CAST(pieces_total AS DOUBLE) / CAST(words_total AS DOUBLE)
        AS fertility
      FROM (VALUES
      ('src0', CAST(5216 AS BIGINT), CAST(1435 AS BIGINT)),
      ('src1', CAST(5620 AS BIGINT), CAST(1540 AS BIGINT)),
      ('src10', CAST(4677 AS BIGINT), CAST(1303 AS BIGINT)),
      ('src11', CAST(5507 AS BIGINT), CAST(1522 AS BIGINT)),
      ('src12', CAST(4541 AS BIGINT), CAST(1272 AS BIGINT)),
      ('src13', CAST(5556 AS BIGINT), CAST(1553 AS BIGINT)),
      ('src14', CAST(4737 AS BIGINT), CAST(1318 AS BIGINT)),
      ('src15', CAST(4641 AS BIGINT), CAST(1298 AS BIGINT)),
      ('src16', CAST(4928 AS BIGINT), CAST(1351 AS BIGINT)),
      ('src17', CAST(4872 AS BIGINT), CAST(1373 AS BIGINT)),
      ('src18', CAST(4977 AS BIGINT), CAST(1364 AS BIGINT)),
      ('src19', CAST(4134 AS BIGINT), CAST(1147 AS BIGINT)),
      ('src2', CAST(5087 AS BIGINT), CAST(1407 AS BIGINT)),
      ('src3', CAST(5001 AS BIGINT), CAST(1384 AS BIGINT)),
      ('src4', CAST(4643 AS BIGINT), CAST(1294 AS BIGINT)),
      ('src5', CAST(4783 AS BIGINT), CAST(1329 AS BIGINT)),
      ('src6', CAST(4589 AS BIGINT), CAST(1266 AS BIGINT)),
      ('src7', CAST(5441 AS BIGINT), CAST(1507 AS BIGINT)),
      ('src8', CAST(4147 AS BIGINT), CAST(1136 AS BIGINT)),
      ('src9', CAST(4921 AS BIGINT), CAST(1366 AS BIGINT)))
      AS t(source, pieces_total, words_total) ORDER BY source"""))

}
