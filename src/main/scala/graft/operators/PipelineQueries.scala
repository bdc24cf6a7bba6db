package graft.operators

import graft.{Det, Tables}
import graft.functions.{Dedup, MinHashLSH, Sampling, SimHash, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §2.2.J (extension of SURVEY §2.2.I) — the training-data-pipeline
  * operators promoted to hash-checked declared queries: every dedup tier,
  * text quality/fingerprinting, and full-text search run through the same
  * DuckDB-oracle gate as the relational surface. Each body delegates to the
  * reusable `graft.functions` operators.
  *
  * Determinism notes: all hashing is md5 (identical hex in both engines);
  * similarity filters are applied to ROUNDED values so boundary pairs
  * behave identically; every query ends in a total order.
  */
object PipelineQueries {

  /** Bucket cap for the declared LSH queries (q85, q94) — buckets larger
    * than this are dropped before pairing (the standard LSH skew guard: a
    * bucket of size m emits m²/2 pairs, and a bucket holding a large
    * fraction of the corpus has no discriminating power anyway). The SAME
    * cap is replayed in the DuckDB oracle via a window count over the band
    * key, so the hash-checked query is the exact pipeline you would run at
    * 100 TB.
    */
  val LshMaxBucket = 200

  /** MinHash-LSH near-dup pipeline: banded candidates (k=8, 4 bands of 2),
    * buckets capped at [[LshMaxBucket]], verified by exact Jaccard ≥ 0.9.
    * The declared output is the LSH pipeline's output — band collisions and
    * the bucket cap are part of the semantics, and the oracle replays the
    * identical md5 minhash/banding/cap in SQL.
    */
  def q85_dedup_minhash_lsh(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val cand = MinHashLSH.candidatePairs(docs, "doc_id", "text",
      k = 8, bands = 4, maxBucket = LshMaxBucket)._1
    verifiedPairs(docs, cand, num = 9, den = 10, blockCols = Nil)
      .select(col("id_a"), col("id_b"), Det.r4(col("jaccard_raw")).as("jaccard"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The exact-verify step of the declared LSH queries (q85, q94): keeps
    * the raw (multi-band) candidate pairs whose token-id Jaccard is at
    * least `num/den`, as `blockCols`, id_a, id_b, jaccard_raw. Dedup runs
    * AFTER this filter in the callers — the filtered set is tiny, the
    * unfiltered candidate multiset is not.
    */
  private def verifiedPairs(docs: DataFrame, cand: DataFrame, num: Int,
                            den: Int, blockCols: Seq[String]): DataFrame = {
    // verification intersect runs on interned (xxhash64) token ids — same
    // set sizes w.h.p., far cheaper per candidate pair
    // join on doc_id through ALIASES, not per-side renamed copies
    // (round 13): the rename gave the two broadcast builds canonically
    // different children, so the tokenIds scan ran twice; identical
    // children make the second build a ReusedExchange
    val tok = docs.select(col("doc_id"), Dedup.tokenIds(col("text")).as("tok"))
    cand
      .join(tok.as("ta"), col("id_a") === col("ta.doc_id"))
      .join(tok.as("tb"), col("id_b") === col("tb.doc_id"))
      .select(blockCols.map(col) ++ Seq(col("id_a"), col("id_b"),
        col("ta.tok").as("tok_a"), col("tb.tok").as("tok_b")): _*)
      // exact length prefilter ahead of the O(|tok|) verify merge
      // (round 12, guide §1.2): J ≥ num/den ⟹ min/max ≥ num/den ⟹
      // den·min ≥ num·max — integer compare, drops no qualifying pair;
      // the two filters combine into the verify join's condition with
      // the cheap conjunct first (CombineFilters keeps source order)
      .filter(lit(den) * least(size(col("tok_a")), size(col("tok_b"))) >=
        lit(num) * greatest(size(col("tok_a")), size(col("tok_b"))))
      .withColumn("jaccard_raw", Dedup.jaccardSortedIds(col("tok_a"), col("tok_b")))
      .filter(col("jaccard_raw") >= num.toDouble / den)
      .select(blockCols.map(col) ++ Seq(col("id_a"), col("id_b"),
        col("jaccard_raw")): _*)
  }

  /** The q94 verified pair set WITHOUT the output rounding/sort — the
    * form the cluster consumers (q100/q108/q109) feed to connected
    * components, which re-shuffle immediately (a sort below their
    * exchange would be wasted work). */
  private[operators] def q94Pairs(spark: SparkSession,
                                  sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val cand = MinHashLSH.candidatePairs(docs, "doc_id", "text",
      k = 8, bands = 4, maxBucket = LshMaxBucket, blockCols = Seq("lang"))._1
    verifiedPairs(docs, cand, num = 4, den = 5, blockCols = Seq("lang"))
  }

  /** Lang-blocked MinHash-LSH near-dup — the scale-safe twin of the exact
    * q81: the band key folds in `lang` (docs only collide within their
    * language), buckets capped at [[LshMaxBucket]], candidates verified by
    * exact Jaccard ≥ 0.8. At fixture scale this recovers ~99.9% of q81's
    * exact pairs; unlike q81 its cost is bounded by bucket size, not by
    * block cardinality, so the SAME plan survives a 100× corpus (SCALE.md).
    */
  def q94_dedup_lsh_lang(spark: SparkSession, sfDir: String): DataFrame =
    q94Pairs(spark, sfDir)
      .select(col("lang"), col("id_a"), col("id_b"),
        Det.r4(col("jaccard_raw")).as("jaccard"))
      .distinct()
      .orderBy(col("lang"), col("id_a"), col("id_b"))

  /** Word-3-gram Jaccard near-dups within lang — catches local rewordings
    * the token-set measure (q81) scores too high.
    */
  def q86_dedup_ngram(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramNearDups(Tables.documents(spark, sfDir), "doc_id", "text",
      "lang", n = 3, threshold = 0.4)
      .withColumnRenamed("block", "lang")
      .orderBy(col("lang"), col("id_a"), col("id_b"))

  /** Embedding-cosine near-dup pairs, blocked by the coarse cluster label
    * (the IVF cell) — semantic dedup tier.
    */
  def q87_dedup_embcos(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.embeddingNearDups(
      Tables.embeddings(spark, sfDir)
        .filter(Det.saneEmb(col("embedding"))), "vec_id",
      "embedding", "label", threshold = 0.3)
      .withColumnRenamed("block", "label")
      .orderBy(col("label"), col("id_a"), col("id_b"))

  /** SimHash near-dup tier, hash-checked ([[SimHash.nearDupPairs]]):
    * 60-bit md5-based fingerprints ([[graft.expressions.SimHash60]]),
    * 4 bands of 15 bits (sound for Hamming ≤ 3 by pigeonhole), exact
    * Hamming verify. The oracle rebuilds the identical fingerprints from
    * md5 hex in SQL — pure integer/bit arithmetic, no float anywhere.
    *
    * Band buckets are capped at [[LshMaxBucket]] exactly like q85/q94
    * (round 4): a popular fingerprint band — the norm in exact-dup-heavy
    * corpora at 100 TB — would otherwise go quadratic. The cap is replayed
    * in the oracle's QUALIFY, so the hash-checked query is the bounded
    * production plan. (At fixture scale the largest bucket is 136, so the
    * cap is semantically inert here — measured in DuckDB before pinning.)
    */
  def q96_dedup_simhash(spark: SparkSession, sfDir: String): DataFrame =
    SimHash.nearDupPairs(Tables.documents(spark, sfDir), "doc_id", "text",
        maxBucket = LshMaxBucket)
      .orderBy(col("id_a"), col("id_b"))

  /** The WHOLE curation funnel as one hash-checked query (round 3): quality
    * gate ≥ 0.5 → exact dedup (min doc_id per distinct text) → capped-LSH
    * near-dedup (k=8, 4 bands, maxBucket=[[LshMaxBucket]], verify ≥ 0.9,
    * larger id loses) → annotate. The oracle replays every stage in SQL —
    * the ORCHESTRATION is verified, not just its pieces. (The oracle dedups
    * by text directly; the Spark digest groupBy is equivalent unless md5
    * collides. Quality is exact integer basis points — no float drift.)
    *
    * Cache lifetime: the returned frame carries the pipeline's LAZY
    * exact-dedup prefix cache (filled during the caller's one action,
    * shared by near-dedup's three consumers). This query discards the
    * pipeline's `release()` handle, so the filled cache lives until a
    * session-level sweep (the bench/verify harnesses run one between
    * queries) or session end; a long-lived interactive session should
    * call [[graft.operators.CurationPipeline.run]] directly and use
    * `Result.release` after materializing.
    */
  def q97_curation_pipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = CurationPipeline.Config(maxBucket = LshMaxBucket)
    CurationPipeline.run(Tables.documents(spark, sfDir), cfg,
        collectStats = false)
      .curated
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Per-document quality metrics + composite score. */
  def q88_text_quality(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = Seq("join", "filter", "scan")
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      TextFunctions.tokenCountWs(col("text")).cast("long").as("n_ws"),
      TextFunctions.tokenCountRegex(col("text")).cast("long").as("n_re"),
      Det.r4(TextFunctions.distinctRatio(col("text"))).as("distinct_ratio"),
      Det.r4(TextFunctions.avgTokenLen(col("text"))).as("avg_tok_len"),
      Det.r4(TextFunctions.stopwordRatio(col("text"), stops)).as("stop_ratio"),
      TextFunctions.qualityScore(col("text"), stops).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Incremental (cross-corpus) near-dedup (round 4): sources src0-9 play
    * the existing training corpus, src10-19 the incoming crawl batch; a
    * new doc is dropped iff some same-lang corpus doc has word-3-gram
    * Jaccard ≥ 0.4 with it ([[Dedup.incrementalNearDedup]] — the exact
    * PPJoin prefix filter of q86 restricted to corpus×new pairs). At
    * 100 TB the corpus-side prefix index is materialized once and reused
    * per batch, so per-batch cost scales with the batch, not the corpus.
    */
  def q75_dedup_incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // try_cast: a source whose suffix isn't numeric (an unregistered
    // feed) is NULL here and fails BOTH role filters below — it joins
    // neither the corpus nor the batch, rather than aborting the job
    // with an ANSI CAST_INVALID_INPUT (oracle mirrors via TRY_CAST)
    val srcNum = expr("try_cast(substring(source, 4) AS int)")
    val corpus = docs.filter(srcNum < 10)
    val newBatch = docs.filter(srcNum >= 10)
    Dedup.incrementalNearDedup(corpus, newBatch, "doc_id", "text", "lang",
        n = 3, threshold = 0.4)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split (round 4): 90/5/5 by content-hash
    * of doc_id ([[Sampling.hashSplit]]) — a pure per-row projection, so a
    * doc's split never changes across runs, layouts, or corpus growth (the
    * property leakage audits rely on; `rand(seed)`-based splits break it
    * on any repartition).
    */
  def q73_hash_split(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      Sampling.hashSplit(col("doc_id"), trainFrac = 0.9, valFrac = 0.05)
        .as("split"))
      .orderBy(col("doc_id"))

  /** Data-mixing recipe (round 4): per-source sampling rates turn corpus
    * proportions into training proportions ([[Sampling.recipeSample]]) —
    * srcs 0-3 kept whole, 4-7 at 50%, 8-11 at 25%, the rest at 10%.
    * Scan-speed filter; no shuffle before the output sort.
    */
  def q74_data_recipe(spark: SparkSession, sfDir: String): DataFrame = {
    val rates: Map[String, Double] =
      ((0 to 3).map(i => s"src$i" -> 1.0) ++
        (4 to 7).map(i => s"src$i" -> 0.5) ++
        (8 to 11).map(i => s"src$i" -> 0.25)).toMap
    Tables.documents(spark, sfDir)
      .filter(Sampling.recipeSample(col("source"), col("doc_id"), rates,
        defaultRate = 0.1))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-quality signals (round 4; the Gopher-style filters a
    * training corpus runs after the q88 surface stats): per document, the
    * duplicate word-3-gram fraction and the most-frequent-token fraction,
    * both as integer basis points (the float-boundary-proof convention
    * q88 established).
    *
    * Scale shape: the n-gram stats are a pure per-row projection (no
    * shuffle); the top-token stats are explode → two-phase hash agg —
    * partial aggregation absorbs the token fan-out map-side, so the
    * shuffle carries (doc_id, tok) partial counts, not raw tokens.
    */
  def q99_quality_repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs
      .select(col("doc_id"),
        TextFunctions.wordNgramsAll(col("text"), 3).as("g"))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .withColumn("dup_bp",
        when(col("n_grams") > 0,
          expr("((n_grams - n_distinct) * 10000) div n_grams"))
          .otherwise(lit(0L)).cast("long"))
    val top = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("maxc"), sum(col("c")).as("total"))
    base.join(top, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_distinct"), col("dup_bp"),
        expr("(maxc * 10000) div total").cast("long").as("top_tok_bp"))
      .orderBy(col("doc_id"))
  }

  /** Min-shingle document fingerprint (winnowing-style): the lexicographic
    * min md5 over word-3-grams — robust to local edits away from the
    * minimal shingle, cross-engine stable (md5 hex).
    */
  def q89_doc_fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      array_min(transform(Dedup.ngrams(col("text"), 3), g => md5(g))).as("fp"))
      .orderBy(col("doc_id"))

  /** Conjunctive full-text search (the SoQL `$q` analog, SURVEY §2.3 —
    * promoted to hash-checked now that the semantics are token-exact).
    */
  def q90_fulltext_search(spark: SparkSession, sfDir: String): DataFrame =
    TextFunctions.fullTextSearch(Tables.documents(spark, sfDir), "text",
      "join filter")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Ranked full-text search (round 3; closes the `$q` relevance gap):
    * conjunctive match on 'join filter' ordered by the summed TF-IDF of the
    * query terms, doc_id tie-break. Two query terms ⇒ the score is a sum of
    * exactly two doubles (IEEE addition is commutative, so no
    * association-order hazard); rounded to 6 dp before the ordering on both
    * sides.
    */
  def q95_fulltext_ranked(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    TextFunctions.fullTextSearchRanked(docs, "doc_id", "text", "join filter")
      .select(col("doc_id"), col("lang"), Det.r6(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** BM25-ranked retrieval (q130): [[graft.functions.TextFunctions.bm25Ranked]]
    * declared over the documents corpus — term-frequency saturation +
    * length normalization, the ranking production search actually uses
    * (q95's plain TF-IDF is the comparison point). Two query terms keep
    * the per-doc score a ≤2-addend sum, so double addition order cannot
    * diverge between engines; corpus avgdl is a sum of integer token
    * counts (exact in doubles) over a count — both engines derive
    * bit-identical stats, and the r6 rounding + (score, doc_id) sort make
    * the output hash-stable, the q95 discipline.
    */
  def q130_bm25_ranked(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    TextFunctions.bm25Ranked(docs, "doc_id", "text", "scan merge")
      .select(col("doc_id"), col("lang"), Det.r6(col("score")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  /** Inverted-index materialization (q141): per query term, its document
    * frequency and an md5 digest of the SORTED posting list — the index
    * structure q90/q95/q130 would consult instead of re-scanning text at
    * query time. The digest is the hash-check ENCODING of the full
    * posting set (q110's compact-set pattern); a production build writes
    * the postings themselves, bucketed by term, so lookups are
    * partition-pruned point reads. Distinct (term, doc) dedup happens in
    * the same two-phase agg as the df count — one scan, one shuffle on
    * term.
    */
  def q141_inverted_index(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Seq("batch", "filter", "join", "merge", "scan")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(col("term").isInCollection(terms))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        md5(concat_ws(",", expr(
          "transform(sort_array(collect_list(doc_id)), x -> cast(x AS string))")))
          .as("posting_digest"))
      .orderBy(col("term"))
  }

  /** q172: subword (BPE-style) token statistics per language — the unit
    * real packing/mix math runs on. Whitespace words undercount model
    * tokens and skew per language; [[graft.expressions.BpeTokenCount]]
    * counts greedy longest-prefix subword segments over a fixed shipped
    * merge vocabulary (deterministic tokenizer inference, no training
    * step). The oracle replays the identical segmentation with a
    * recursive CTE over the DISTINCT word list (tokenization is a pure
    * function of the word, so the recursion is vocabulary-sized, not
    * corpus-sized) from the same vocab literal — single source of truth.
    * Emits per lang: docs, subword tokens, whitespace tokens, and the
    * subword/whitespace ratio in integer basis points.
    *
    * Scale: one codegen'd scan-speed pass + a |langs|-row two-phase agg —
    * token counting adds zero shuffles to the corpus.
    */
  def q172_bpe_token_stats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"),
        graft.expressions.BpeTokenCount.bpeTokenCount(col("text")).as("btok"),
        size(split(col("text"), " ")).cast("long").as("wtok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("btok")).as("bpe_tokens"),
        sum(col("wtok")).as("ws_tokens"))
      .select(col("lang"), col("n_docs"), col("bpe_tokens"), col("ws_tokens"),
        expr("bpe_tokens * 10000 div ws_tokens").as("ratio_bp"))
      .orderBy(col("lang"))

  /** Language ID, fully hash-checked: vocabulary profiles (top-20 terms per
    * lang by (count desc, term asc)) built from the corpus in one pass and
    * broadcast; each doc scored by profile overlap; argmax with (overlap
    * desc, lang asc) tie-break. The oracle rebuilds the identical profiles
    * and scoring in SQL. (Fixture note: the corpus shares one vocabulary
    * across langs, so predictions are dominated by the tie-break — the
    * determinism and the pipeline shape are what is being verified.)
    */
  def q91_text_langid(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // delegates to the library operator — the declared query IS the
    // unit-tested implementation, with doc_id as the stable row key
    TextFunctions.langId(docs, docs, "text", "lang",
        profileSize = 20, idCol = Some("doc_id"))
      .select(col("doc_id"), col("pred_lang"),
        col("lang_overlap").cast("long").as("overlap"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF: tf(term, doc) × ln(N / df(term)), top-3 terms per doc by
    * (score desc, term asc). Two aggregation passes (term counts per doc,
    * document frequencies) joined back on `term` — no per-doc loops; the
    * standard relevance primitive of a text pipeline, hash-checked.
    *
    * The docFreq side carries NO broadcast hint (round 4): its cardinality
    * is the vocabulary, which at web scale is 10⁸–10⁹ terms — a forced
    * broadcast OOMs the driver. AQE picks a broadcast join when the table
    * is actually small (it is at fixture scale) and falls back to a
    * shuffle join on `term` when it is not; both sides of that join are
    * already partitioned by `term`'s hash, so the shuffle is one exchange.
    * (Contrast q95, which prunes df to the ≤|query terms| rows first —
    * there the broadcast is provably bounded and stays.)
    */
  def q92_text_tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    // N as a 1-row broadcast aggregate, not a driver-side count(): the
    // query stays fully lazy and cluster-side
    val nDf = docs.agg(count(lit(1)).cast("double").as("n_total"))
    val termCounts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = termCounts
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    termCounts.join(docFreq, "term")
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf",
        Det.r6(col("tf") * log(col("n_total") / col("df"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Term co-occurrence: top-5 unordered token pairs per lang by document
    * co-occurrence count (the collocation/PMI numerator). Pairs come from
    * each doc's distinct-token set — quadratic in tokens-per-doc (bounded,
    * ~30), linear in docs.
    */
  def q93_text_cooccur(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        array_sort(array_distinct(split(col("text"), " "))).as("t"))
    val pairs = toks
      .select(col("lang"), col("doc_id"), explode(col("t")).as("a"), col("t"))
      .select(col("lang"), col("doc_id"), col("a"), explode(col("t")).as("b"))
      .filter(col("a") < col("b"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_docs").desc, col("a").asc, col("b").asc)
    pairs
      .groupBy(col("lang"), col("a"), col("b"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .orderBy(col("lang"), col("rank"))
  }

  private val tokCte =
    "SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok FROM documents"

  private def mh(i: Int) =
    s"list_aggregate(list_transform(tok, t -> md5('$i|' || t)), 'min')"

  /** The exact-integer-basis-points quality score of q88/TextFunctions
    * .qualityScore, shared by the q88 and q97 oracles. */
  private[operators] val qualityExpr =
    """CAST(
      |    CAST(round(least(length(text) / 500.0, 1.0) * 10000) AS BIGINT) * 3 +
      |    CAST(round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
      |      len(string_split(text, ' ')) * 10000) AS BIGINT) * 4 +
      |    (10000 - CAST(round(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) /
      |      nullif(length(text), 0) * 10000) AS BIGINT)) * 2 +
      |    (10000 - CAST(round(CAST(len(list_filter(string_split(text, ' '),
      |      t -> t IN ('join', 'filter', 'scan'))) AS DOUBLE) /
      |      len(string_split(text, ' ')) * 10000) AS BIGINT))
      |  AS DOUBLE) / 100000.0""".stripMargin

  private val gramsExpr =
    "list_distinct(list_transform(" +
      "range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] " +
      "|| ' ' || string_split(text, ' ')[i+2]))"

  /** Shared DuckDB CTE chain replaying [[graft.expressions.BpeTokenCount]]:
    * the fixed vocab as VALUES, word instances (`instCols` picks the
    * carried columns), then greedy longest-prefix segmentation as a
    * recursive CTE over the DISTINCT word list — `tok(word, ntok)` at the
    * end. Tokenization is a pure function of the word, so the recursion
    * is vocabulary-sized. Callers open with `WITH RECURSIVE` and join
    * `inst`×`tok` on word. Used by q172 here and q102 in CorpusQueries.
    */
  private[operators] def bpeCtes(instCols: String): String =
    s"""vocab(v) AS (VALUES ${graft.expressions.BpeTokenCount.oracleVocabValues}),
       |inst AS (
       |  SELECT $instCols, lower(w) AS word
       |  FROM (SELECT *, unnest(regexp_split_to_array(text, '[^A-Za-z0-9]+')) AS w
       |        FROM documents) WHERE w <> ''),
       |words AS (SELECT word FROM inst GROUP BY word),
       |seg AS (
       |  SELECT word, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS cnt
       |  FROM words
       |  UNION ALL
       |  SELECT s.word,
       |    s.pos + coalesce((SELECT max(length(v.v)) FROM vocab v
       |      WHERE substr(s.word, CAST(s.pos AS INT), length(v.v)) = v.v), 1),
       |    s.cnt + 1
       |  FROM seg s WHERE s.pos <= length(s.word)),
       |tok AS (SELECT word, cnt AS ntok FROM seg WHERE pos > length(word))""".stripMargin

  /** Language-ID confusion matrix (q226): the declared q91 classifier
    * evaluated against the corpus' true labels — per (true lang,
    * predicted lang) cell counts and the row share in bp (diagonal =
    * per-lang recall). The evaluation harness for a DECLARED operator,
    * same pattern as q200 (ANN recall for the q98 read path) and q212
    * (IR metrics for the ranked search): the operator's output is the
    * system under test, the corpus labels are the ground truth, and the
    * whole evaluation is itself oracle-replayed.
    *
    * Exactness: pure counts off [[graft.functions.TextFunctions.langId]]
    * (profile overlap, deterministic lexicographic tie-break — the q91
    * rule, replayed verbatim in the oracle CTEs); shares floor once per
    * row against window-summed lang totals.
    *
    * Scale shape: q91's shape (profile agg → broadcast profiles →
    * argmax) followed by a |langs|²-bounded rollup; the share window
    * reads that bounded cell frame.
    */
  def q226_lang_confusion(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    TextFunctions.langId(docs, docs, "text", "lang",
        profileSize = 20, idCol = Some("doc_id"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_bp",
        expr("n * 10000 div sum(n) over (partition by lang)"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Retrieval-evaluation harness (q212): MRR@10 and nDCG@10 for ranked
    * full-text search, scored per query over a deterministic 10-query
    * eval set derived FROM the corpus — the IR-metrics readout a search
    * deployment runs before shipping a ranker change. Completes the
    * ML-evaluation suite: q188 grades a targeting ranking, q191 a
    * classifier ranking, q200 ANN recall — this grades TEXT retrieval.
    *
    * Query set: vocabulary terms ranked by (df desc, term asc); the top
    * 20 pair off into 10 two-term queries (query i = ranks 2i+1, 2i+2).
    * Candidates = OR-match (≥1 term), relevant = AND-match (both) —
    * q90's conjunctive semantics as graded ground truth over q95's
    * TF-IDF ranking (tf·ln(N/df), a 2-term commutative sum — the q95
    * association-hazard-free form; ranking ties break on doc_id).
    *
    * Exactness: every 1/log₂(rank+1) discount is one of TEN constants,
    * inlined as rounded integer milli literals in BOTH engines — no
    * runtime float in the metric; mrr = 1000 div first-relevant-rank;
    * ndcg_bp = dcg·10⁴ div idcg (idcg = prefix-sum literal at
    * min(n_rel, 10); NULL when a query has no relevant doc).
    *
    * Scale shape: df agg → global top-20 via TakeOrderedAndProject (no
    * vocab-sized window); the 20-term query frame broadcasts into the
    * token scan (q101's eval-broadcast argument — query sets are small
    * by construction); per-query ranking windows run over matched docs
    * only (q95's rule); metric aggs see ≤ |candidates| rows.
    */
  def q212_retrieval_eval(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
    val n = docs.agg(count(lit(1)).cast("double").as("nn"))
    val dft = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val top = dft.orderBy(col("df").desc, col("term").asc).limit(20)
    val wTop = Window.orderBy(col("df").desc, col("term").asc)
    val queries = top.withColumn("r", row_number().over(wTop).cast("long"))
      .withColumn("qid", expr("(r - 1) div 2"))
    val qmeta = queries.groupBy(col("qid"))
      .agg(min(when(col("r") % 2 === 1, col("term"))).as("term_a"),
        min(when(col("r") % 2 === 0, col("term"))).as("term_b"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(broadcast(queries.select(col("qid"), col("term"), col("df"))),
        "term")
      .groupBy(col("qid"), col("doc_id"), col("term"), col("df"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf.crossJoin(broadcast(n))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("tf").cast("double")
          * log(col("nn") / col("df").cast("double"))).as("score"),
        count(lit(1)).as("nt"))
    val wQ = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val disc = "CASE rk WHEN 1 THEN 1000 WHEN 2 THEN 631 WHEN 3 THEN 500" +
      " WHEN 4 THEN 431 WHEN 5 THEN 387 WHEN 6 THEN 356 WHEN 7 THEN 333" +
      " WHEN 8 THEN 315 WHEN 9 THEN 301 WHEN 10 THEN 289 ELSE 0 END"
    val idcg = "CASE least(n_rel, 10L) WHEN 0 THEN 0 WHEN 1 THEN 1000" +
      " WHEN 2 THEN 1631 WHEN 3 THEN 2131 WHEN 4 THEN 2562" +
      " WHEN 5 THEN 2949 WHEN 6 THEN 3305 WHEN 7 THEN 3638" +
      " WHEN 8 THEN 3953 WHEN 9 THEN 4254 ELSE 4543 END"
    scored
      .withColumn("rk", row_number().over(wQ).cast("long"))
      .withColumn("rel", (col("nt") === 2).cast("long"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_cand"), sum(col("rel")).as("n_rel"),
        min(when(col("rel") === 1 && col("rk") <= 10, col("rk")))
          .as("first_rel"),
        sum(when(col("rk") <= 10 && col("rel") === 1, expr(disc))
          .otherwise(0L)).as("dcg_milli"))
      .join(broadcast(qmeta), "qid")
      .select(col("qid"), col("term_a"), col("term_b"), col("n_cand"),
        col("n_rel"),
        coalesce(expr("1000 div first_rel"), lit(0L)).as("mrr_milli"),
        col("dcg_milli"),
        expr(s"dcg_milli * 10000 div nullif($idcg, 0)").as("ndcg_bp"))
      .orderBy(col("qid"))
  }

  val oracle: Map[String, String] = Map(
    "q226_lang_confusion" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    list_distinct(string_split(text, ' ')) AS t FROM documents),
        |  tc AS (SELECT lang, term, count(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS term
        |    FROM documents) GROUP BY 1, 2),
        |  prof AS (SELECT lang, list(term) AS profile FROM (
        |    SELECT lang, term, row_number() OVER (
        |      PARTITION BY lang ORDER BY cnt DESC, term ASC) AS rn FROM tc)
        |    WHERE rn <= 20 GROUP BY lang),
        |  scored AS (SELECT d.doc_id, d.lang AS true_lang,
        |    p.lang AS cand,
        |    len(list_intersect(d.t, p.profile)) AS ov
        |    FROM tok d CROSS JOIN prof p),
        |  best AS (SELECT doc_id, true_lang, cand, ov, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY ov DESC, cand ASC) AS rn
        |    FROM scored),
        |  g AS (SELECT true_lang AS lang, cand AS pred_lang, count(*) AS n
        |    FROM best WHERE rn = 1 GROUP BY 1, 2)
        |SELECT lang, pred_lang, n,
        |  CAST(n * 10000 // sum(n) OVER (PARTITION BY lang) AS BIGINT)
        |    AS share_bp
        |FROM g ORDER BY lang, pred_lang""".stripMargin,
    "q212_retrieval_eval" ->
      """WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents),
        |dft AS (SELECT term, count(*) AS df FROM (
        |    SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
        |      AS term FROM documents) GROUP BY term),
        |q AS (SELECT term, df,
        |    CAST(row_number() OVER (ORDER BY df DESC, term) AS BIGINT) AS r
        |  FROM dft QUALIFY r <= 20),
        |qs AS (SELECT term, df, r, (r - 1) // 2 AS qid FROM q),
        |qm AS (SELECT qid,
        |    min(CASE WHEN r % 2 = 1 THEN term END) AS term_a,
        |    min(CASE WHEN r % 2 = 0 THEN term END) AS term_b
        |  FROM qs GROUP BY qid),
        |tf AS (SELECT qs.qid, t.doc_id, t.term, qs.df, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  JOIN qs ON t.term = qs.term
        |  GROUP BY qs.qid, t.doc_id, t.term, qs.df),
        |sc AS (SELECT qid, doc_id,
        |    sum(CAST(tf AS DOUBLE) * ln(nn / CAST(df AS DOUBLE))) AS score,
        |    count(*) AS nt
        |  FROM tf, n GROUP BY qid, doc_id),
        |rk AS (SELECT qid, doc_id, nt,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS rk
        |  FROM sc),
        |ag AS (SELECT qid, count(*) AS n_cand,
        |    CAST(sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
        |    min(CASE WHEN nt = 2 AND rk <= 10 THEN rk END) AS first_rel,
        |    CAST(sum(CASE WHEN rk <= 10 AND nt = 2 THEN
        |      CASE rk WHEN 1 THEN 1000 WHEN 2 THEN 631 WHEN 3 THEN 500
        |        WHEN 4 THEN 431 WHEN 5 THEN 387 WHEN 6 THEN 356
        |        WHEN 7 THEN 333 WHEN 8 THEN 315 WHEN 9 THEN 301
        |        WHEN 10 THEN 289 ELSE 0 END ELSE 0 END) AS BIGINT)
        |      AS dcg_milli
        |  FROM rk GROUP BY qid)
        |SELECT ag.qid, qm.term_a, qm.term_b, ag.n_cand, ag.n_rel,
        |  coalesce(1000 // first_rel, 0) AS mrr_milli, ag.dcg_milli,
        |  ag.dcg_milli * 10000 // nullif(CASE LEAST(n_rel, 10)
        |    WHEN 0 THEN 0 WHEN 1 THEN 1000 WHEN 2 THEN 1631
        |    WHEN 3 THEN 2131 WHEN 4 THEN 2562 WHEN 5 THEN 2949
        |    WHEN 6 THEN 3305 WHEN 7 THEN 3638 WHEN 8 THEN 3953
        |    WHEN 9 THEN 4254 ELSE 4543 END, 0) AS ndcg_bp
        |FROM ag JOIN qm ON ag.qid = qm.qid ORDER BY ag.qid""".stripMargin,
    "q172_bpe_token_stats" ->
      s"""WITH RECURSIVE ${bpeCtes("lang")},
         |bpe AS (SELECT i.lang, CAST(sum(t.ntok) AS BIGINT) AS bpe_tokens
         |  FROM inst i JOIN tok t USING (word) GROUP BY i.lang),
         |base AS (SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
         |  FROM documents GROUP BY lang)
         |SELECT b.lang, b.n_docs, p.bpe_tokens, b.ws_tokens,
         |  CAST(p.bpe_tokens * 10000 // b.ws_tokens AS BIGINT) AS ratio_bp
         |FROM base b JOIN bpe p USING (lang) ORDER BY lang""".stripMargin,
    "q85_dedup_minhash_lsh" ->
      s"""WITH d AS ($tokCte),
         |sig AS (SELECT doc_id, tok,
         |  ['0|' || ${mh(0)} || '|' || ${mh(1)},
         |   '1|' || ${mh(2)} || '|' || ${mh(3)},
         |   '2|' || ${mh(4)} || '|' || ${mh(5)},
         |   '3|' || ${mh(6)} || '|' || ${mh(7)}] AS bands FROM d),
         |bb0 AS (SELECT doc_id, unnest(bands) AS band FROM sig),
         |bb AS (SELECT doc_id, band FROM bb0
         |  QUALIFY count(*) OVER (PARTITION BY band) <= 200),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bb a JOIN bb b ON a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT c.id_a, c.id_b,
         |  round(CAST(len(list_intersect(da.tok, db.tok)) AS DOUBLE) /
         |    (len(da.tok) + len(db.tok) - len(list_intersect(da.tok, db.tok))), 4) AS jaccard
         |FROM cand c JOIN d da ON da.doc_id = c.id_a JOIN d db ON db.doc_id = c.id_b
         |WHERE CAST(len(list_intersect(da.tok, db.tok)) AS DOUBLE) /
         |    (len(da.tok) + len(db.tok) - len(list_intersect(da.tok, db.tok))) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin,
    "q94_dedup_lsh_lang" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |  list_distinct(string_split(text, ' ')) AS tok FROM documents),
         |sig AS (SELECT doc_id, lang, tok,
         |  ['0|' || ${mh(0)} || '|' || ${mh(1)},
         |   '1|' || ${mh(2)} || '|' || ${mh(3)},
         |   '2|' || ${mh(4)} || '|' || ${mh(5)},
         |   '3|' || ${mh(6)} || '|' || ${mh(7)}] AS bands FROM d),
         |bb0 AS (SELECT doc_id, lang, unnest(bands) AS band FROM sig),
         |bb AS (SELECT doc_id, lang, band FROM bb0
         |  QUALIFY count(*) OVER (PARTITION BY lang, band) <= 200),
         |cand AS (SELECT DISTINCT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bb a JOIN bb b
         |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT c.lang AS lang, c.id_a, c.id_b,
         |  round(CAST(len(list_intersect(da.tok, db.tok)) AS DOUBLE) /
         |    (len(da.tok) + len(db.tok) - len(list_intersect(da.tok, db.tok))), 4) AS jaccard
         |FROM cand c JOIN d da ON da.doc_id = c.id_a JOIN d db ON db.doc_id = c.id_b
         |WHERE CAST(len(list_intersect(da.tok, db.tok)) AS DOUBLE) /
         |    (len(da.tok) + len(db.tok) - len(list_intersect(da.tok, db.tok))) >= 0.8
         |ORDER BY c.lang, c.id_a, c.id_b""".stripMargin,
    // Inverted-index replay (round 8): the previous per-pair
    // list_intersect over all pairs within a lang exceeded a 30-minute
    // DuckDB budget at sf1. This replays the SAME result as ONE grouped
    // self-join on the exploded gram table: count(*) per (id_a, id_b)
    // IS |∩| exactly (grams are list_distinct per doc), J filters on
    // ov/(sza+szb-ov), and pairs sharing no gram have J = 0 < 0.4 so the
    // inner join loses nothing. The 5·min >= 2·max size guard (J <=
    // min/max) prunes groups cheaply and exactly. Two CTE levels, one
    // two-sided join — nothing for the optimizer to misorder (a staged
    // 3-way candidate→verify variant planned a gram×gram cross first and
    // ran 2-threaded for 30+ min; this shape is hash-join + aggregate
    // end to end: 10 s at sf1, 50k docs).
    "q86_dedup_ngram" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, lang, $gramsExpr AS g FROM documents),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, lang, len(g) AS sz, unnest(g) AS gram
         |  FROM d WHERE len(g) > 0),
         |inter AS MATERIALIZED (
         |  SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.sz AS sza, b.sz AS szb, count(*) AS ov
         |  FROM tok a JOIN tok b
         |    ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
         |  WHERE 5 * least(a.sz, b.sz) >= 2 * greatest(a.sz, b.sz)
         |  GROUP BY 1, 2, 3, 4, 5)
         |SELECT lang, id_a, id_b,
         |  round(CAST(ov AS DOUBLE) / (sza + szb - ov), 4) AS jaccard
         |FROM inter
         |WHERE CAST(ov AS DOUBLE) / (sza + szb - ov) >= 0.4
         |ORDER BY lang, id_a, id_b""".stripMargin,
    // Norms precomputed once per vector (round 10): the inline form
    // recomputed both norms per PAIR — 3 dot products instead of 1 —
    // which is what kept this replay out of the sf1 gate. Equality with
    // the inline form verified value-for-value at sf0.1 (sqrt of the
    // same exact-double self-dot — no rounding drift), and the replay
    // now runs at sf1 (~2M pairs/label block).
    "q87_dedup_embcos" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, label, v,
        |    sqrt(list_dot_product(v, v)) AS nrm
        |  FROM (SELECT vec_id, label,
        |      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |    FROM embeddings WHERE ${Det.saneEmbSql()}))
        |SELECT label, id_a, id_b, cos_sim FROM (
        |  SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos_sim >= 0.3
        |ORDER BY label, id_a, id_b""".stripMargin,
    "q88_text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS n_re,
         |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
         |    len(string_split(text, ' ')), 4) AS distinct_ratio,
         |  round(CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)), 'sum') AS DOUBLE) /
         |    len(string_split(text, ' ')), 4) AS avg_tok_len,
         |  round(CAST(len(list_filter(string_split(text, ' '),
         |    t -> t IN ('join', 'filter', 'scan'))) AS DOUBLE) /
         |    len(string_split(text, ' ')), 4) AS stop_ratio,
         |  $qualityExpr AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    // same inverted-index staging as the q86 oracle (see that comment),
    // with the grouped self-join restricted to new-batch × corpus
    "q75_dedup_incremental" ->
      s"""WITH d AS MATERIALIZED (
         |  SELECT doc_id, lang, source,
         |    CASE WHEN TRY_CAST(substr(source, 4) AS INT) < 10 THEN 'c'
         |         WHEN TRY_CAST(substr(source, 4) AS INT) >= 10 THEN 'n'
         |    END AS grp, $gramsExpr AS g FROM documents),
         |newb AS MATERIALIZED (
         |  SELECT doc_id, lang, source FROM d WHERE grp = 'n'),
         |tok AS MATERIALIZED (
         |  SELECT doc_id, lang, grp, len(g) AS sz, unnest(g) AS gram
         |  FROM d WHERE len(g) > 0),
         |hits AS MATERIALIZED (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT n.doc_id, n.sz AS szn, c.sz AS szc, count(*) AS ov
         |    FROM tok n JOIN tok c
         |      ON n.gram = c.gram AND n.lang = c.lang
         |    WHERE n.grp = 'n' AND c.grp = 'c'
         |      AND 5 * least(n.sz, c.sz) >= 2 * greatest(n.sz, c.sz)
         |    GROUP BY 1, 2, 3, c.doc_id)
         |  WHERE CAST(ov AS DOUBLE) / (szn + szc - ov) >= 0.4)
         |SELECT doc_id, lang, source FROM newb
         |WHERE doc_id NOT IN (SELECT doc_id FROM hits)
         |ORDER BY doc_id""".stripMargin,
    "q73_hash_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q74_data_recipe" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE CASE
        |  WHEN source IN ('src0','src1','src2','src3') THEN true
        |  WHEN source IN ('src4','src5','src6','src7')
        |    THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
        |  WHEN source IN ('src8','src9','src10','src11')
        |    THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |  ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '199a' END
        |ORDER BY doc_id""".stripMargin,
    "q99_quality_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok_counts AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2),
        |top AS (
        |  SELECT doc_id, max(c) AS maxc, sum(c) AS total
        |  FROM tok_counts GROUP BY 1),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3
        |      THEN list_transform(range(1, len(t) - 1),
        |             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        |      ELSE [] END AS g
        |  FROM toks)
        |SELECT g.doc_id,
        |  CAST(len(g.g) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(g.g)) AS BIGINT) AS n_distinct,
        |  CAST(CASE WHEN len(g.g) > 0
        |    THEN ((len(g.g) - len(list_distinct(g.g))) * 10000) // len(g.g)
        |    ELSE 0 END AS BIGINT) AS dup_bp,
        |  CAST((top.maxc * 10000) // top.total AS BIGINT) AS top_tok_bp
        |FROM grams g JOIN top ON g.doc_id = top.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    "q96_dedup_simhash" ->
      """WITH d AS (SELECT doc_id,
        |  list_transform(list_distinct(string_split(text, ' ')),
        |    t -> list_aggregate(list_transform(range(1, 16),
        |      i -> (CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) AS BIGINT) - 1)
        |        * (1::BIGINT << (4 * (15 - i)))), 'sum')) AS h
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  list_aggregate(list_transform(range(0, 60),
        |    b -> CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) >= len(h)
        |      THEN (1::BIGINT << b) ELSE 0::BIGINT END), 'sum') AS fp
        |  FROM d),
        |bb0 AS (SELECT doc_id, fp, unnest([
        |   0::BIGINT * 32768 + ((fp >> 0) & 32767),
        |   1::BIGINT * 32768 + ((fp >> 15) & 32767),
        |   2::BIGINT * 32768 + ((fp >> 30) & 32767),
        |   3::BIGINT * 32768 + ((fp >> 45) & 32767)]) AS band FROM s),
        |bb AS (SELECT doc_id, fp, band FROM bb0
        |  QUALIFY count(*) OVER (PARTITION BY band) <= 200),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.fp AS fa, b.fp AS fb
        |  FROM bb a JOIN bb b ON a.band = b.band AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS dist
        |FROM cand WHERE bit_count(xor(fa, fb)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q97_curation_pipeline" ->
      s"""WITH q AS (SELECT doc_id, text, $qualityExpr AS quality FROM documents),
         |gated AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.5),
         |ex AS (SELECT doc_id, text, quality FROM gated
         |  QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         |d AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok FROM ex),
         |sig AS (SELECT doc_id, tok,
         |  ['0|' || ${mh(0)} || '|' || ${mh(1)},
         |   '1|' || ${mh(2)} || '|' || ${mh(3)},
         |   '2|' || ${mh(4)} || '|' || ${mh(5)},
         |   '3|' || ${mh(6)} || '|' || ${mh(7)}] AS bands FROM d),
         |bb0 AS (SELECT doc_id, unnest(bands) AS band FROM sig),
         |bb AS (SELECT doc_id, band FROM bb0
         |  QUALIFY count(*) OVER (PARTITION BY band) <= 200),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bb a JOIN bb b ON a.band = b.band AND a.doc_id < b.doc_id),
         |losers AS (SELECT DISTINCT c.id_b FROM cand c
         |  JOIN d da ON da.doc_id = c.id_a JOIN d db ON db.doc_id = c.id_b
         |  WHERE CAST(len(list_intersect(da.tok, db.tok)) AS DOUBLE) /
         |    (len(da.tok) + len(db.tok) - len(list_intersect(da.tok, db.tok))) >= 0.9)
         |SELECT e.doc_id,
         |  CAST(len(string_split(e.text, ' ')) AS BIGINT) AS n_tokens,
         |  e.quality
         |FROM ex e WHERE e.doc_id NOT IN (SELECT id_b FROM losers)
         |ORDER BY e.doc_id""".stripMargin,
    "q89_doc_fingerprint" ->
      s"""SELECT doc_id,
         |  list_aggregate(list_transform($gramsExpr, g -> md5(g)), 'min') AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q90_fulltext_search" ->
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(string_split(text, ' '), 'join')
        |  AND list_contains(string_split(text, ' '), 'filter')
        |ORDER BY doc_id""".stripMargin,
    "q141_inverted_index" ->
      """SELECT term, count(*) AS df,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |    AS posting_digest
        |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
        |    AS term FROM documents)
        |WHERE term IN ('batch', 'filter', 'join', 'merge', 'scan')
        |GROUP BY term ORDER BY term""".stripMargin,
    "q130_bm25_ranked" ->
      """WITH m AS (SELECT doc_id, lang, text FROM documents
        |    WHERE list_contains(string_split(text, ' '), 'scan')
        |      AND list_contains(string_split(text, ' '), 'merge')),
        |  st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |      avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
        |    FROM documents),
        |  dfx AS (SELECT term, count(*) AS df FROM (
        |      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |      FROM documents)
        |    WHERE term IN ('scan', 'merge') GROUP BY term),
        |  tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
        |      max(dl) AS dl FROM (
        |      SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
        |        unnest(string_split(text, ' ')) AS term FROM m)
        |    WHERE term IN ('scan', 'merge') GROUP BY 1, 2),
        |  sc AS (SELECT tf.doc_id,
        |      sum((ln(1 + (st.n - dfx.df + 0.5) / (dfx.df + 0.5))
        |          * (tf.tf * 2.2))
        |        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS score
        |    FROM tf JOIN dfx USING (term) CROSS JOIN st GROUP BY 1)
        |SELECT m.doc_id, m.lang, round(sc.score, 6) AS score
        |FROM m JOIN sc ON m.doc_id = sc.doc_id
        |ORDER BY round(sc.score, 6) DESC, m.doc_id""".stripMargin,
    "q95_fulltext_ranked" ->
      """WITH m AS (SELECT doc_id, lang, text FROM documents
        |    WHERE list_contains(string_split(text, ' '), 'join')
        |      AND list_contains(string_split(text, ' '), 'filter')),
        |  nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |  dfx AS (SELECT term, count(*) AS df FROM (
        |      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |      FROM documents)
        |    WHERE term IN ('join', 'filter') GROUP BY term),
        |  tf AS (SELECT doc_id, term, count(*) AS tf FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM m)
        |    WHERE term IN ('join', 'filter') GROUP BY 1, 2),
        |  sc AS (SELECT tf.doc_id, sum(tf.tf * ln(nn.n / dfx.df)) AS score
        |    FROM tf JOIN dfx USING (term) CROSS JOIN nn GROUP BY 1)
        |SELECT m.doc_id, m.lang, round(sc.score, 6) AS score
        |FROM m JOIN sc ON m.doc_id = sc.doc_id
        |ORDER BY round(sc.score, 6) DESC, m.doc_id""".stripMargin,
    "q92_text_tfidf" ->
      """WITH tc AS (SELECT doc_id, term, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |    GROUP BY 1, 2),
        |  dfq AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
        |  nn AS (SELECT count(*) AS n FROM documents),
        |  scored AS (SELECT tc.doc_id, tc.term, tc.tf, dfq.df,
        |    round(tc.tf * ln(CAST(nn.n AS DOUBLE) / dfq.df), 6) AS tfidf
        |    FROM tc JOIN dfq ON tc.term = dfq.term CROSS JOIN nn),
        |  ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
        |    FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q93_text_cooccur" ->
      """WITH t AS (SELECT lang, doc_id,
        |    list_sort(list_distinct(string_split(text, ' '))) AS tk FROM documents),
        |  e1 AS (SELECT lang, doc_id, unnest(tk) AS a, tk FROM t),
        |  e2 AS (SELECT lang, doc_id, a, unnest(tk) AS b FROM e1),
        |  pr AS (SELECT lang, a, b, count(*) AS n_docs FROM e2
        |    WHERE a < b GROUP BY 1, 2, 3),
        |  r AS (SELECT *, row_number() OVER (
        |    PARTITION BY lang ORDER BY n_docs DESC, a ASC, b ASC) AS rank
        |    FROM pr)
        |SELECT lang, a, b, n_docs, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q91_text_langid" ->
      """WITH tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS t
        |    FROM documents),
        |  tc AS (SELECT lang, term, count(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
        |    GROUP BY 1, 2),
        |  prof AS (SELECT lang, list(term) AS profile FROM (
        |    SELECT lang, term, row_number() OVER (
        |      PARTITION BY lang ORDER BY cnt DESC, term ASC) AS rn FROM tc)
        |    WHERE rn <= 20 GROUP BY lang),
        |  scored AS (SELECT d.doc_id, p.lang,
        |    len(list_intersect(d.t, p.profile)) AS ov
        |    FROM tok d CROSS JOIN prof p),
        |  best AS (SELECT doc_id, lang, ov, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY ov DESC, lang ASC) AS rn FROM scored)
        |SELECT doc_id, lang AS pred_lang, CAST(ov AS BIGINT) AS overlap
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,
  )
}
