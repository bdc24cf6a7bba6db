package graft.operators

import graft.Tables
import graft.expressions.WordNgrams
import graft.functions.{Components, Dedup, Sampling, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 corpus-preparation tier: the operations that sit between a
  * deduplicated corpus and a training run — duplicate clustering,
  * benchmark-contamination screening, sequence packing, normalization,
  * deterministic sharding, and the corpus-mix report. All hash-checked
  * against DuckDB oracles like the rest of the declared surface.
  */
object CorpusQueries {

  /** The q94 cluster assignment (LSH pairs → connected components),
    * computed ONCE per (session, sf dir, corpus content) and memoized via
    * [[graft.functions.TextCache.form]]: q100/q108/q109 all start from this
    * exact frame, and the LSH+verify+CC pass is the most expensive
    * derivation in the engine while its output is a few thousand
    * (id, component) rows — the documented cache crossover case. At 100 TB
    * this is the standard materialize-the-cluster-map step: a real
    * pipeline writes the assignment to columnar storage once and every
    * dedup consumer (cluster report, canonical write, keep-best write)
    * reads the map instead of re-clustering the corpus.
    */
  private def q94Clusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.TextCache.form(spark, sfDir, "cc94")(
      Components.connectedComponents(
        PipelineQueries.q94Pairs(spark, sfDir)
          .select(col("id_a"), col("id_b")),
        "id_a", "id_b"))

  /** Near-duplicate CLUSTERS: connected components over the q94 capped-LSH
    * pair graph (the production dedup tier), so a pipeline keeps one
    * canonical doc per cluster instead of dropping both ends of each pair.
    * Output: every clustered doc with its component id (= min doc_id in
    * the cluster — deterministic) and the cluster size.
    *
    * Scale: the pair graph is bucket-bounded by construction (q94's
    * maxBucket cap), and min-label propagation converges in
    * diameter-many rounds — see [[graft.functions.Components]].
    */
  def q100_dedup_components(spark: SparkSession, sfDir: String): DataFrame = {
    val cc = q94Clusters(spark, sfDir)
    val sizes = cc.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
    cc.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component"), col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** Dedup yield report (q203): the cluster-size histogram of the shared
    * q94 near-dup cluster map — per cluster size: how many clusters, how
    * many docs they hold, and how many docs a keep-one-per-cluster
    * policy would drop. This is the one-page summary every dedup
    * pipeline prints before anyone approves the drop (q100 lists the
    * members, q109 performs the keep — this reports the YIELD), and the
    * number that decides whether near-dedup is worth its cost on a new
    * corpus source.
    *
    * Scale shape: consumes the memoized cluster assignment
    * (`TextCache.form("cc94")` — the materialize-once artifact), then
    * two bounded two-phase aggs: per-component sizes (≤ clustered docs)
    * and the size histogram (≤ max cluster size rows).
    */
  def q203_dedup_report(spark: SparkSession, sfDir: String): DataFrame =
    q94Clusters(spark, sfDir)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1L) * col("n_clusters")).as("n_drop"))
      .orderBy(col("cluster_size"))

  /** Benchmark-contamination screen: flag training docs sharing word-3-gram
    * shingles with a held-out evaluation set (here: doc_id % 97 == 0 — the
    * fixture stand-in for a benchmark suite). Emits per-doc overlap counts
    * and the contamination rate in integer basis points (no float
    * boundary).
    *
    * Scale: the eval side is a benchmark suite — thousands of docs, not a
    * corpus — so its distinct-gram set is broadcast by construction; the
    * training side streams through one scan + one partial-agg pair. This
    * is the one join in the pipeline where a forced broadcast is
    * structurally safe at 100 TB.
    */
  def q101_contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val dg = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(Dedup.ngrams(col("text"), 3)).as("gram"))
    val evalGrams = dg.filter(col("doc_id") % 97 === 0)
      .select(col("gram")).distinct()
    // one pass over the training side: a LEFT join against the broadcast
    // eval-gram set tags hits, so total and hit counts come out of the
    // same aggregation (the gram explode is evaluated twice — eval set +
    // main — not three times)
    dg.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams.withColumn("__hit", lit(1))),
        Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_hit"))
      .filter(col("n_hit") >= 1)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        expr("(n_hit * 10000) div n_grams").cast("long").as("contam_bp"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (concat-and-chunk): per lang, documents are laid out
    * in doc_id order and cut into fixed 256-token training sequences; a
    * doc belongs to the sequence containing its START offset. Emits
    * per-sequence packing stats. One window (cumulative token count) + one
    * aggregation — the same single shuffle a sorted write-out already
    * pays, and the layout is reproducible from the key order alone.
    *
    * Round 6: token counts are SUBWORD counts
    * ([[graft.expressions.BpeTokenCount]], the q172 unit) — packing math
    * runs on the model's token unit, not whitespace words; the oracle
    * replays the segmentation via the shared recursive CTE
    * (PipelineQueries.bpeCtes).
    */
  def q102_seq_pack(spark: SparkSession, sfDir: String): DataFrame = {
    val seqLen = 256L
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        graft.expressions.BpeTokenCount.bpeTokenCount(col("text")).as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("seq_id",
        expr(s"(cum - n_tok) div $seqLen").cast("long"))
      .groupBy(col("lang"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("seq_id"))
  }

  /** q175: document chunking for retrieval/RAG preparation — each doc
    * split into fixed 32-token windows at stride 24 (8-token overlap, the
    * standard context-preserving chunking), one row per chunk with its
    * exact token count and an md5 content digest (the q110/q141
    * compact-set encoding — a production build writes the chunk text
    * itself, embedded and indexed downstream). Whitespace tokens on
    * purpose: chunk digests are content identity, not packing math (q102
    * owns the subword unit).
    *
    * Scale: pure per-row fan-out (~n/24 chunk rows per doc, linear in
    * corpus size), zero shuffles before the output sort; stride/size are
    * knobs, not constants baked into the shape.
    */
  def q175_doc_chunks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("chunk_idx",
        explode(expr("sequence(0, cast(ceil(n / 24.0) as int) - 1)")))
      .filter(col("chunk_idx") * 24 < col("n"))
      .withColumn("chunk", expr("slice(toks, 24 * chunk_idx + 1, 32)"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tok"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Text normalization surface: ASCII-fold to lowercase,
    * non-alphanumerics to spaces, whitespace collapsed, trimmed — pure
    * codegen'd string expressions at scan speed (the cheapest stage of a
    * curation funnel, so it runs first). Patterns stay in the RE2 ∩
    * java.util.regex common subset so the oracle replays them
    * byte-identically.
    *
    * Case folding is DELIBERATELY ASCII-only (translate A-Z→a-z, not
    * lower()): full-table lower() is engine-specific at the margins —
    * Java (Spark) applies the Unicode FULL mappings (İ → i + combining
    * dot U+0307, contextual final sigma ς) where utf8proc (DuckDB)
    * applies the SIMPLE mappings (İ → i, σ everywhere) — measured
    * divergence, see CORRECTNESS_adversarial_r07.txt. Since this
    * normalizer strips every non-[a-z0-9 ] char anyway, folding only
    * ASCII makes the whole pipeline a pure byte-level function with
    * one defined answer on every engine: non-ASCII letters are treated
    * as separators like any other symbol. A multilingual pipeline that
    * must KEEP such scripts needs an explicit normalization policy
    * (NFC + a pinned casefold table) — a policy choice this surface
    * deliberately does not hide inside an engine's locale tables.
    */
  def q103_text_normalize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(
          translate(col("text"),
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
          "[^a-z0-9 ]", " "), " +", " ")).as("norm_text"))
      .withColumn("n_tok",
        size(split(col("norm_text"), " ")).cast("long"))
      .orderBy(col("doc_id"))

  /** Deterministic shard assignment for training-data writes: shard =
    * md5(doc_id) mod 16 (the [[Sampling.hashHex]] unit — engine- and
    * layout-stable, so re-running the export reproduces byte-identical
    * shards). Emits per-shard balance stats; the same expression feeds
    * `DataFrameWriter.partitionBy` for the real write. Content-hash
    * sharding is also the global-shuffle step of a training pipeline: the
    * hash order is unrelated to the corpus order, so shards are i.i.d.
    * samples without a sort.
    */
  def q104_shard_assign(spark: SparkSession, sfDir: String): DataFrame = {
    val shard = (conv(Sampling.hashHex(col("doc_id")), 16, 10)
      .cast("long") % 16).as("shard")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"), shard)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))
  }

  /** Corpus-mix report: per-source volume, token share (integer basis
    * points), language breadth, mean doc length — the numbers a data
    * recipe ([[Sampling.recipeSample]], q74) is tuned against. The corpus
    * total is a 1-row aggregate broadcast into the per-source rollup
    * (the q92 pattern — never a collect).
    */
  def q105_domain_mix(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.documents(spark, sfDir)
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val tot = t.agg(sum(col("n_tok")).as("all_tok"))
    t.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens * 10000) div all_tok").cast("long").as("tok_share_bp"),
        col("n_langs"),
        expr("sum_chars div n_docs").cast("long").as("avg_chars"))
      .orderBy(col("source"))
  }

  /** Cross-document "line" dedup (boilerplate detection), CCNet/RefinedWeb
    * style, adapted to the fixture's unpunctuated token streams: a "line"
    * is a non-overlapping 8-token chunk, and a chunk seen in ≥3 distinct
    * docs is boilerplate. Emits per-doc chunk counts and the boilerplate
    * rate in integer basis points.
    *
    * Scale: chunk frequencies are an explode → two-phase hash agg (the
    * fan-out is absorbed map-side), and the boilerplate set joins back on
    * the chunk key WITHOUT a broadcast hint — like a vocabulary table, its
    * cardinality grows with the corpus, so AQE decides (the q92 rule).
    */
  def q106_line_dedup(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(
        graft.expressions.WordNgrams.wordChunks(col("text"), 8)).as("chunk"))
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3).select(col("chunk"))
    val n = chunks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_chunks"))
    val h = chunks.join(boiler, "chunk")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    n.join(h, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        expr("coalesce(n_boiler, 0L) * 10000 div n_chunks")
          .cast("long").as("boiler_bp"))
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature linear text classifier — the fasttext-shaped quality
    * filter every curation stack runs, with the trained weight vector
    * replaced by a deterministic stand-in (weight(tok) = md5-derived
    * integer in [-1000, 1000]) so the PLUMBING is hash-checkable: feature
    * hashing, per-token weight lookup as a pure expression (no weight
    * table to join or broadcast), integer accumulation (float sums would
    * be partition-order-dependent), threshold gate.
    *
    * Scale: explode → two-phase hash agg; weights are computed, not
    * stored, so there is no model-side state to ship except the real
    * model's weight array (which would ride along as a broadcast var or a
    * generated expression exactly like this one).
    */
  def q107_quality_classifier(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("wt",
        (conv(Sampling.hashHex(col("tok")), 16, 10).cast("long") % 2001)
          - 1000)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("wt")).as("score_units"),
        (sum(col("wt")) > 0).as("keep"))
      .orderBy(col("doc_id"))

  /** Canonical selection — the step that turns q100's clusters into a
    * deduplicated corpus: every cluster keeps exactly its min-id member,
    * unclustered docs pass through. This is the materialization a real
    * pipeline writes back out, so it's declared end-to-end (LSH pairs →
    * connected components → anti-join) rather than left implied.
    *
    * Scale: the drop list is (cluster members − canonicals) — bounded by
    * the clustered sliver of the corpus; the anti-join shuffles on doc_id
    * like any dedup write. See [[graft.functions.Components]] for the
    * cluster step's shape.
    */
  def q108_dedup_canonical(spark: SparkSession, sfDir: String): DataFrame = {
    val drop = q94Clusters(spark, sfDir)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    Tables.documents(spark, sfDir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Quality-aware canonical selection — q108's refinement: each near-dup
    * cluster keeps its HIGHEST-QUALITY member (q88's composite score;
    * doc_id breaks ties), not the arbitrary min id — dedup that preserves
    * the best copy is what a curation pipeline actually wants. Emits the
    * surviving (doc_id, lang, quality).
    *
    * Scale: clusters + one quality projection + an argmax window per
    * component (components are bucket-bounded near-dup groups) + the same
    * anti-join write shape as q108.
    */
  def q109_dedup_keep_best(spark: SparkSession, sfDir: String): DataFrame = {
    val stops = Seq("join", "filter", "scan")
    val docs = Tables.documents(spark, sfDir)
    val cc = q94Clusters(spark, sfDir)
    val quality = docs.select(col("doc_id"),
      TextFunctions.qualityScore(col("text"), stops).as("quality"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val losers = cc.join(quality, cc("id") === quality("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") > 1)
      .select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text"), stops).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
    * MOSS sketch): 60-bit md5 gram hashes, window-of-4 minima, sorted
    * distinct selections. Unlike q89's bottom-1 min-shingle, winnowing
    * guarantees POSITIONAL coverage — any shared run of ≥ n+w−1 = 6
    * tokens between two docs shares a fingerprint — making it the sketch
    * for partial-overlap detection (quotation/boilerplate spans). Emits
    * per-doc fingerprint count + an md5 digest of the sorted fingerprint
    * list (compact, hash-checkable encoding of the full set).
    *
    * Scale: one codegen'd pass per row ([[graft.expressions.WinnowIds]]),
    * no shuffle before the output sort — scan speed like q89/q103.
    */
  def q110_winnow_fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.expressions.WinnowIds.winnowIds(col("text"), 3, 4).as("fp"))
      .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
        // a doc with no windows (< n+w-1 tokens, or a space-free script)
        // has NO fingerprint — NULL digest, not md5('') (DuckDB's
        // array_to_string([]) is NULL where concat_ws gives ''; nullif
        // aligns the engines, and a real fingerprint list can never
        // serialize to '' since bigint strings are non-empty)
        md5(nullif(concat_ws(",",
          expr("transform(fp, x -> cast(x as string))")), lit("")))
          .as("fp_digest"))
      .orderBy(col("doc_id"))

  /** Bigram language-model fluency score (the CCNet/KenLM-style LM filter
    * shape, with the model trained on the corpus itself): P(w2|w1) =
    * C(w1 w2) / C(w1 ·) (MLE over corpus bigram counts — never zero for
    * a corpus doc's own bigrams, so no smoothing term), and each bigram
    * contributes round(ln P × 1000) integer MILLI-NATS. The per-doc score
    * is then an INTEGER sum — partition-order-independent — and the
    * per-bigram ln is rounded once at quantization (q92's ln already
    * established cross-engine ln agreement at 6-decimal rounding; this
    * rounds coarser). Low (very negative) avg milli-nats = surprising,
    * disfluent text — the filter signal.
    *
    * Scale: two count aggregations (two-phase, map-side partials absorb
    * the fan-out) + two joins keyed on bigram/prefix strings — both
    * vocabulary-cardinality tables, so NO broadcast hints (the q92 rule;
    * AQE decides). Output: (doc_id, n_bigrams, sum_mnat, avg_mnat).
    */
  def q111_lm_bigram_score(spark: SparkSession, sfDir: String): DataFrame = {
    val bg = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(
        graft.expressions.WordNgrams.wordNgramsAll(col("text"), 2)).as("bg"))
    val cb = bg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
    val cw = bg.select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c_w1"))
    bg.join(cb, "bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(cw, "w1")
      .withColumn("mnat",
        round(log(col("c_bg").cast("double") / col("c_w1").cast("double"))
          * 1000).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("mnat")).as("sum_mnat"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_mnat"),
        expr("sum_mnat div n_bigrams").cast("long").as("avg_mnat"))
      .orderBy(col("doc_id"))
  }

  /** Character-entropy quality signal (gibberish / base64-blob / repeated-
    * char detection): Shannon entropy of each doc's character
    * distribution. The order-hazard-free formulation: entropy =
    * (Σ_chars contrib) / n with contrib(c) = −count(c)·ln(count(c)/n),
    * and each per-character contribution is quantized to integer
    * milli-nats BEFORE the sum — an integer aggregation is
    * partition-order-independent, the same trick as q107/q111. Emits
    * (doc_id, n_chars_total, n_distinct_chars, sum_mnat, entropy_mnat =
    * sum div n). Natural text sits in a band; uniform-random or
    * single-char docs fall outside it.
    *
    * Scale: explode chars → two-phase (doc, char) count agg → two-phase
    * doc agg. Alphabet-bounded state per doc.
    *
    * Unicode caveat: Spark's `split(text, "")` yields UTF-16 code units,
    * DuckDB's `string_split(text, '')` code points — identical for BMP
    * text (all fixtures; supplementary-plane chars would split into
    * surrogate halves on the Spark side and shift the distribution
    * slightly, not break the query).
    */
  def q112_char_entropy(spark: SparkSession, sfDir: String): DataFrame =
    // One codegen'd histogram pass per doc ([[graft.expressions.CharCounts]],
    // round 5: replaces explode(split(text,"")) + a (doc,ch) groupBy + a
    // per-doc join — ~250 rows/doc through the agg hash path and two
    // shuffles, for a per-row computation). The entropy folds are
    // higher-order aggregates over the alphabet-bounded histogram; the
    // double math is term-for-term the expression the oracle replays
    // (round once per character BEFORE the integer sum — order-independent).
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.expressions.CharCounts.charCounts(col("text")).as("counts"))
      .select(col("doc_id"),
        expr("aggregate(counts, 0L, (a, x) -> a + x.c)").as("n_chars_total"),
        size(col("counts")).cast("long").as("n_distinct_chars"),
        col("counts"))
      .select(col("doc_id"), col("n_chars_total"), col("n_distinct_chars"),
        expr("aggregate(counts, 0L, (a, x) -> a + cast(round(" +
          "-cast(x.c as double) * ln(cast(x.c as double) / " +
          "cast(n_chars_total as double)) * 1000) as bigint))")
          .as("sum_mnat"))
      .select(col("doc_id"), col("n_chars_total"), col("n_distinct_chars"),
        col("sum_mnat"),
        expr("sum_mnat div n_chars_total").cast("long").as("entropy_mnat"))
      .orderBy(col("doc_id"))

  /** Per-source distribution divergence — the domain-shift number a data
    * recipe (q74/q105) is tuned against: KL(P_source ‖ P_corpus) over
    * token unigrams, KL = Σ_w (c_sw/n_s)·ln((c_sw·n)/(n_s·c_w)). Every
    * source token exists in the corpus, so no smoothing term; each
    * per-token term is quantized to integer MICRO-nats before the sum
    * (the q107/q111/q112 order-independence trick). Emits per source
    * (n_tokens, n_vocab, kl_unat); KL = 0 exactly when the source's token
    * mix matches the corpus.
    *
    * Scale: ONE explode scan; the corpus-side counts derive from the
    * (source, token) counts by re-aggregation (no second scan), totals
    * ride as a broadcast 1-row aggregate (q105 pattern), and the token
    * join carries no broadcast hint (vocabulary-cardinality, q92 rule).
    */
  def q113_source_divergence(spark: SparkSession, sfDir: String): DataFrame = {
    val csw = Tables.documents(spark, sfDir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
    val cw = csw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
    val ns = csw.groupBy(col("source")).agg(sum(col("c_sw")).as("n_s"))
    val n = cw.agg(sum(col("c_w")).as("n"))
    csw.join(cw, "w").join(ns, "source").crossJoin(broadcast(n))
      .withColumn("contrib",
        round(col("c_sw").cast("double")
          * log((col("c_sw").cast("double") * col("n"))
            / (col("n_s").cast("double") * col("c_w")))
          * 1000000.0 / col("n_s")).cast("long"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), count(lit(1)).as("n_vocab"),
        sum(col("contrib")).as("kl_unat"))
      .orderBy(col("source"))
  }

  /** Deterministic per-stratum EXACT-k subset — the balanced-eval-set /
    * per-language probe-corpus op that complements the rate-based
    * samplers (q73/q74): within each lang, keep the k=10 docs with the
    * smallest md5(doc_id) (content-hash order — layout- and
    * engine-independent; doc_id tie-break for hash collisions). Unlike
    * rate sampling, exact-k guarantees stratum size; the tradeoff is that
    * corpus growth can displace members (inherent to any exact-k rule).
    *
    * Scale: one window top-k per stratum — rank over (lang / hash) with
    * partial top-k pushdown via the filter; no global sort.
    */
  def q114_stratified_topk(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(Sampling.hashHex(col("doc_id"), 8).asc, col("doc_id").asc)
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("source"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .orderBy(col("lang"), col("rk"))
  }

  /** Prefix-duplicate detection — the crawl-truncation artifact class
    * that exact dedup misses (different digests) and near-dup can miss
    * (a short prefix of a long doc has low Jaccard): flag docs whose text
    * is a STRICT prefix of another doc's text. Key insight: in
    * lexicographic order, A is a prefix of SOME text iff A is a prefix of
    * its immediate distinct successor (all strings sorted between A and
    * an extension of A themselves start with A) — so one sorted window
    * with `lead` replaces an unbounded substring join.
    *
    * Scale shape (round 8 bucketing + round 9 materialize-once; replaces
    * first-char blocking, whose block cardinality was an alphabet
    * constant the data outgrows — one hot first byte became one
    * corpus-sized task): the distinct text set is bucketed into
    * shuffle-partitions-many contiguous sorted runs at literal cut points
    * (a knob, not a data property; [[graft.functions.Dedup.prefixBuckets]])
    * and WRITTEN ONCE as a (t, b) parquet artifact; the lead window runs
    * per bucket over the artifact, and the bucket boundaries are
    * STITCHED: each bucket's last row checks against the next non-empty
    * bucket's first text (a ≤#buckets-row frame aggregated from the SAME
    * artifact, broadcast). The flag set is invariant to where the cut
    * points fall. False positives are structurally impossible — flagging
    * requires exhibiting an actual extension text, and ANY extension
    * proves prefix-ness; the per-pair spec forces the no-miss direction
    * with prefix chains that straddle every boundary. Both consumers read
    * the stored bucket ids, so they agree by storage (round ≤8's
    * by-construction literal-cut agreement, made unconditional). Empty
    * texts (prefix of everything, no first char) are excluded by the
    * length guard, as before.
    *
    * Emits the flagged docs (doc_id, lang, n_chars); order by doc_id.
    */
  def q115_dedup_prefix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val buckets = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // The bucketed distinct text projection is a MATERIALIZE-ONCE
    // artifact ([[graft.functions.TextCache.form]] — the cc94 cluster-map
    // discipline): the corpus scan, the distinct aggregation, and the
    // bounded driver cut-point sample all happen once, at artifact-build
    // time. Every invocation after the first — and BOTH plan branches
    // below (the per-bucket lead window and the ≤buckets-row stitch
    // aggregate) — read the (t, b) parquet artifact instead of re-scanning
    // and re-aggregating the corpus (at 100 TB the stitch branch's old
    // second full-data pass produced ≤buckets rows). Stored bucket ids
    // agree across consumers by storage, closing the recompute-agreement
    // hazard class outright.
    val bucketed = graft.functions.TextCache
      .form(spark, sfDir, s"prefixb$buckets") {
        val raw = docs.filter(length(col("text")) > 0)
          .select(col("text").as("t"))
        // cut estimation samples the RAW projection (scan + TakeOrdered,
        // no aggregation exchange) so the distinct computes exactly once,
        // in the artifact write
        graft.functions.Dedup
          .prefixBuckets(raw.distinct(), buckets, cutSource = Some(raw))
      }
    val flagged = graft.functions.Dedup.prefixFlagsFromBuckets(bucketed)
      .select(col("t").as("text"))
    docs.join(flagged, "text")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-reweighted domain mix (the multilingual-LM / DoReMi-
    * family α-sampling, α = 0.5): sampling weights w_s ∝ p_s^α flatten
    * the corpus mix so under-represented sources are up-sampled — the
    * step that turns q105's mix REPORT into the mix a training run
    * actually draws from (q74 consumes the resulting rates). Every
    * cross-engine comparison point is integer-quantized first: the α-
    * weight as round(√p × 1e9), shares in ppm, the boost in milli-×
    * (√ and one double division are single IEEE ops — bit-identical in
    * both engines; the q111/q112 quantize-before-aggregate convention).
    *
    * Scale shape: ONE corpus scan — token counts are a two-phase agg
    * over a scan-speed projection (no explode — `size(split(…))` is one
    * codegen'd pass); totals come from an UNPARTITIONED window over the
    * already-aggregated |sources|-row frame (bounded cardinality, so the
    * single-partition window is safe — unlike the 4-scan shape the naive
    * crossJoin(agg) formulation re-evaluates into).
    */
  def q116_mix_temperature(spark: SparkSession, sfDir: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables.documents(spark, sfDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n_tokens"))
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      .withColumn("qs",
        round(sqrt(col("n_tokens").cast("double") / col("total")) * 1e9)
          .cast("long"))
      .withColumn("sumq", sum(col("qs")).over(wAll))
      .select(col("source"), col("n_tokens"),
        expr("n_tokens * 1000000L div total").as("share_before_ppm"),
        expr("qs * 1000000L div sumq").as("share_after_ppm"),
        // nullif: a source under one ppm of the corpus floors its
        // before-share to 0 — ANSI Spark would throw DIVIDE_BY_ZERO
        // where the oracle's `// 0` yields NULL; nullif matches NULL
        expr("((qs * 1000000L div sumq) * 1000L) div " +
          "nullif(n_tokens * 1000000L div total, 0L)").as("boost_milli"))
      .orderBy(col("source"))
  }

  /** Deterministic MLM span masking (BERT/T5-style corruption at 15%):
    * token i of doc d is masked iff md5("d:i") lands in the low 15% of
    * the hash space — a pure function of (doc_id, position), so the mask
    * is reproducible across runs, layouts, engines, and corpus growth
    * (the q73 content-hash-split property applied at token granularity;
    * `rand(seed)` masking breaks on any repartition). Emits the masked
    * text plus mask-count stats per doc.
    *
    * Scale shape: posexplode → codegen'd hash predicate → ONE groupBy
    * reassembly, with token order restored by `array_sort` on
    * (pos, token) structs instead of a second window; per-group state is
    * bounded by doc length, so there is no skew beyond the corpus's own
    * longest-doc bound.
    */
  def q117_span_mask(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("msk",
        conv(Sampling.hashHex(
            concat(col("doc_id").cast("string"), lit(":"),
              col("pos").cast("string"))), 16, 10)
          .cast("long") % 100 < 15)
      .withColumn("out",
        when(col("msk"), lit("<mask>")).otherwise(col("tok")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("msk"), 1L).otherwise(0L)).as("n_masked"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("pos"), col("out")))),
            x => x.getField("out"))).as("masked_text"))
      .orderBy(col("doc_id"))

  /** Every W-token window of every doc with its 0-based start position
    * and md5 digest — the shared frame under q177/q180's exact
    * repeated-span dedup (cf. Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": the production rule masks exact
    * ≥k-token substrings repeated across the corpus; fixed token
    * granularity makes the rule hash-checkable). ONE codegen'd scan pass:
    * [[graft.expressions.WordNgrams.wordNgramsAll]] emits positional
    * windows without materializing a token array, so window count ≈ token
    * count and the frame is linear in corpus size.
    */
  private def spanWindows(spark: SparkSession, sfDir: String): DataFrame =
    // NOT spread (round 13, measured): a spreadIfNarrow here made q193's
    // sibling shape faster but q177 1.06→1.26 s, q180 0.35→0.62 s and
    // q182 0.39→0.59 s SLOWER — these consumers' digest aggs partialize
    // inside the scan stage, and the added exchange plus 32-way
    // allocation contention on this host costs more than the serial
    // md5 pass. q193 (two md5 evaluations, bigger verify) spreads its
    // own inline frame instead.
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        posexplode(WordNgrams.wordNgramsAll(col("text"), SpanW))
          .as(Seq("start", "gram")))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        md5(col("gram").cast("binary")).as("dig"))
  // NOT TextCache'd: measured at sf0.1 (round 6), persisting this frame
  // (or its distinct) made every consumer SLOWER — q182 0.19→0.78 s,
  // q177 1.11→1.54 s, q193 3.1→4.5 s — the InMemoryTableScan/codegen-
  // boundary cost the TextCache scaladoc documents; the codegen'd
  // explode+md5 recompute wins at fixture scale. A 100 TB deployment
  // materializes the digest index bucketed-by-digest on columnar storage
  // instead (the cache crossover the scaladoc names).

  /** digests whose window occurs in ≥2 DISTINCT docs (cross-doc repeats;
    * within-doc repetition is q99's signal, not dedup's)
    */
  private def dupSpanDigests(wins: DataFrame): DataFrame =
    wins.groupBy(col("dig"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("dig"))

  /** window width for exact repeated-span dedup (tokens); fixture docs
    * run 10–99 tokens, so 8 keeps the duplicated-span gate non-vacuous
    * (1015 duplicated digests over 47 docs at sf0.01) while staying the
    * q106 chunk unit
    */
  private val SpanW = 8

  /** EXACT repeated-span dedup regions (the Lee et al. 2022 substring-
    * dedup rule at fixed W=8-token granularity): a token position is
    * duplicated iff it is covered by some 8-token window whose verbatim
    * text appears in at least one OTHER document; maximal runs of
    * duplicated positions become masked regions — one output row per
    * region with its 0-based token start and length. This is the span-
    * level member of the dedup ladder (doc: q80/q85/q94; chunk: q106;
    * prefix: q115; span: here) — the transform that cuts repeated
    * licenses/boilerplate out of otherwise-unique docs instead of
    * dropping the whole doc.
    *
    * Scale shape: windows ≈ tokens (one codegen'd scan); the digest
    * groupBy is the dedup shuffle (linear, two-phase); the semi-join back
    * is on the same digest partitioning; region coalescing is interval
    * union — a running `max(end)` window per doc over the HIT windows
    * only (far smaller than the corpus), never a per-position explode.
    * Regions merge when the next window starts within prev_max_end + 1
    * (adjacent coverage is one run of masked positions).
    */
  def q177_span_dedup(spark: SparkSession, sfDir: String): DataFrame = {
    val wins = spanWindows(spark, sfDir)
    val hit = wins.join(dupSpanDigests(wins), Seq("dig"), "left_semi")
      .select(col("doc_id"), col("start"),
        (col("start") + lit(SpanW.toLong - 1L)).as("end"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val wPrev = wDoc.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hit
      .withColumn("pmax", max(col("end")).over(wPrev))
      .withColumn("newr",
        when(col("pmax").isNull || col("start") > col("pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("r_idx", sum(col("newr")).over(wRun))
      .groupBy(col("doc_id"), col("r_idx"))
      .agg(min(col("start")).as("r_start"),
        (max(col("end")) - min(col("start")) + 1L).as("r_len"))
      .select(col("doc_id"), col("r_idx"), col("r_start"), col("r_len"))
      .orderBy(col("doc_id"), col("r_idx"))
  }

  /** Asymmetric span-containment dedup (q193): for every document pair
    * sharing at least one non-boilerplate duplicated 8-token window,
    * the CONTAINMENT in each direction — |W(a)∩W(b)| / |W(a)| over
    * distinct window digests — reported when either direction reaches
    * 50%. Jaccard (q85/q94) misses the quote-inside-article case: a
    * short doc fully embedded in a long one has low Jaccard but
    * containment ≈ 1 from the short side. This is the
    * direction-aware member of the dedup ladder (doc q80/q85/q94, span
    * q177, prefix q115), the rule that decides which COPY to keep:
    * drop the contained doc, keep the container.
    *
    * Candidate generation is EXACT for this metric: any pair at ≥1
    * shared window comes out of the duplicated-digest join, so no
    * LSH recall loss; digests appearing in more than 200 docs are
    * boilerplate and excluded from the shared-window BASIS (the q94
    * maxBucket knob in digest space — without it one viral license
    * paragraph pairs every doc against every other), while the
    * denominators count ALL of each doc's distinct windows.
    *
    * Scale shape: one codegen'd windows scan (shared [[spanWindows]]
    * frame), a digest-keyed two-phase count (the linear dedup shuffle),
    * and a digest-blocked self-join whose volume is Σ_dig nd² bounded
    * by the 200-doc cap — never all-pairs. Size joins are doc-keyed.
    */
  def q193_span_containment(spark: SparkSession, sfDir: String): DataFrame = {
    // (doc, dig) pairs are distinct BY CONSTRUCTION: array_distinct runs
    // per row inside codegen, so the cross-corpus distinct shuffle the
    // naive `spanWindows.distinct()` pays disappears — within-doc window
    // dedup never needed a shuffle, only cross-doc aggregation does
    val grams = array_distinct(
      WordNgrams.wordNgramsAll(col("text"), SpanW))
    // spread before the per-window md5 pass — the spanWindows rationale
    // (florid single-task stage, ~0.9 s at sf0.1); the sz branch below
    // stays unspread: size(grams) never hashes
    val w = graft.functions.Escalation.spreadIfNarrow(
      Tables.documents(spark, sfDir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(grams).as("gram"))
      .select(col("doc_id"), md5(col("gram").cast("binary")).as("dig"))
    // per-doc denominator straight off the scan — zero-shuffle projection
    val sz = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(grams).cast("long").as("nw"))
      .filter(col("nw") > 0)
    // pair generation as ONE digest agg + a bounded array self-product:
    // the doc list per duplicated digest is ≤200 entries (the cap), so
    // exploding list×list in place replaces the digest-blocked self-join
    // (which re-derived the windows frame on both sides and built a hash
    // relation) — same pair multiset, one corpus shuffle total (the
    // digest agg), no join until the small size lookups
    val pair = w.groupBy(col("dig"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")).between(2, 200))
      .select(explode(col("ds")).as("id_a"), col("ds"))
      .select(col("id_a"), explode(col("ds")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    pair
      .join(sz.select(col("doc_id").as("id_a"), col("nw").as("w_a")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("nw").as("w_b")), "id_b")
      .withColumn("cont_ab_bp", expr("n_shared * 10000 div w_a"))
      .withColumn("cont_ba_bp", expr("n_shared * 10000 div w_b"))
      .filter(col("cont_ab_bp") >= 5000 || col("cont_ba_bp") >= 5000)
      .select(col("id_a"), col("id_b"), col("w_a"), col("w_b"),
        col("n_shared"), col("cont_ab_bp"), col("cont_ba_bp"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-doc duplicated-span PROFILE (q177's doc-level rollup — the
    * RefinedWeb-style filter signal): how many of a doc's 8-token windows
    * are cross-doc duplicates, as share in basis points, plus the
    * keep/drop verdict at the 20% threshold. A pipeline runs THIS to
    * decide which docs need q177's surgery vs outright dropping.
    *
    * Scale shape: same two linear passes as q177 (windows scan + digest
    * agg), then one per-doc count agg — no window function at all.
    */
  def q180_dup_span_share(spark: SparkSession, sfDir: String): DataFrame = {
    val wins = spanWindows(spark, sfDir)
    val dup = dupSpanDigests(wins)
    wins.join(dup.withColumn("isdup", lit(1L)), Seq("dig"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup_win"))
      .withColumn("dup_bp", expr("n_dup_win * 10000L div n_win"))
      .withColumn("keep", col("dup_bp") < 2000L)
      .select(col("doc_id"), col("n_win"), col("n_dup_win"),
        col("dup_bp"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic per-language QUOTA sampling (the mix-selection step
    * that materializes q116's target shares): within each lang, docs are
    * ranked by content hash (stable across runs/layouts/growth — the q73
    * discipline) and kept while the running token sum stays within 20% of
    * the lang's token budget (the first doc always kept, so no lang goes
    * empty). Emits the per-lang selection report.
    *
    * Scale shape: the per-lang running sum is NOT one task per lang (the
    * q33-family trap — 5 langs would put 20% of the corpus in one sort).
    * It is two-phase scalable-prefix-sum, the [[graft.functions.ScalableRank]]
    * discipline applied to a cumulative SUM: docs land in 16 hash-prefix
    * sub-buckets per lang; per-(lang, bucket) token totals cumulate over
    * that bounded 80-row frame to give each bucket its global offset; the
    * corpus-sized window then runs per (lang, bucket) — max task size is
    * a 1/16 slice however big the lang — and `offset + local cumsum`
    * reproduces the exact global running sum because bucket order is the
    * hash order's prefix.
    */
  def q178_quota_sample(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        conv(Sampling.hashHex(col("doc_id"), 8), 16, 10)
          .cast("long").as("hk"))
      .withColumn("b", expr("hk div 268435456"))
    val perB = base.groupBy(col("lang"), col("b"))
      .agg(sum(col("n_tok")).as("tokb"), count(lit(1)).as("cb"))
    val wOff = Window.partitionBy(col("lang")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("lang"))
    val offs = perB
      .withColumn("tok_off", coalesce(sum(col("tokb")).over(wOff), lit(0L)))
      .withColumn("cnt_off", coalesce(sum(col("cb")).over(wOff), lit(0L)))
      .withColumn("tot", sum(col("tokb")).over(wTot))
      .select(col("lang"), col("b"), col("tok_off"), col("cnt_off"),
        col("tot"))
    val wLoc = Window.partitionBy(col("lang"), col("b"))
      .orderBy(col("hk"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLocRn = Window.partitionBy(col("lang"), col("b"))
      .orderBy(col("hk"), col("doc_id"))
    base.join(offs, Seq("lang", "b"))
      .withColumn("cum", col("tok_off") + sum(col("n_tok")).over(wLoc))
      .withColumn("rk", col("cnt_off") + row_number().over(wLocRn))
      .withColumn("keep",
        col("cum") <= expr("tot div 5") || col("rk") === 1L)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        max(col("tot")).as("tok_total"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tok_kept"))
      .withColumn("share_bp", expr("tok_kept * 10000L div tok_total"))
      .orderBy(col("lang"))
  }

  /** Duplicate rate per SOURCE (corpus-QA report over the q94 production
    * dedup tier): which sources ship the most near-duplicate documents —
    * the number a curation team watches per crawl/vendor. Reads the
    * memoized cluster assignment ([[q94Clusters]] — the same cached
    * LSH+verify+CC pass q100/q108/q109 share), joins it back to the
    * corpus, and reports per source: docs, clustered docs, docs that
    * would be DROPPED by canonical dedup (cluster members that are not
    * the min-id canonical), and the drop rate in basis points.
    *
    * Scale shape: the cluster map is cluster-members-sized (tiny vs the
    * corpus) and broadcast into one corpus scan + per-source agg.
    */
  def q179_dup_rate_by_source(spark: SparkSession, sfDir: String): DataFrame = {
    val cc = q94Clusters(spark, sfDir)
      .select(col("id").as("doc_id"), col("component"))
    Tables.documents(spark, sfDir)
      .join(broadcast(cc), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L))
          .as("n_clustered"),
        sum(when(col("component").isNotNull &&
            col("component") =!= col("doc_id"), 1L).otherwise(0L))
          .as("n_dropped"))
      .withColumn("drop_bp", expr("n_dropped * 10000L div n_docs"))
      .orderBy(col("source"))
  }

  /** DSIR-style importance weight (q181; Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc by
    * how target-like its hashed-bigram distribution is — the log-ratio
    * `Σ ln p̂_target(b) − ln p̂_raw(b)` over the doc's bigram occurrences,
    * with both unigram-of-bucket models estimated from the corpus itself
    * (target = the `en` slice, raw = everything) under add-one smoothing
    * over B = 1024 hash buckets. High score = looks like target data;
    * the importance-resampling selector then samples by it (q178/
    * [[graft.functions.Reservoir]] are the sampling side). This is the
    * production data-selection scorer next to q111's fluency filter.
    *
    * Exactness: the per-BUCKET log-ratio is rounded ONCE to integer
    * milli-nats (the q111 discipline — ln parity at 3 decimals is
    * established cross-engine), and per-doc scores are integer SUMS of
    * those bucket constants — partition-order-free. Bucketing uses the
    * 4-hex md5 prefix mod 1024, exactly uniform (65536 ≡ 0 mod 1024).
    *
    * Scale shape: one codegen'd bigram scan feeds a B-row two-phase agg
    * (both models in ONE pass — target counts are a conditional sum);
    * the 1024-row weight table broadcasts back onto the same scan. Only
    * the per-doc agg shuffles; nothing quadratic, nothing driver-side.
    */
  def q181_dsir_weight(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 1024
    val bg = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(WordNgrams.wordNgramsAll(col("text"), 2)).as("bg"))
      .withColumn("b",
        conv(Sampling.hashHex(col("bg")), 16, 10).cast("long") % B)
    val counts = bg.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    val tot = counts.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val w = counts.crossJoin(broadcast(tot))
      .withColumn("mnat", round(
        (log((col("ct") + 1).cast("double") /
            (col("tt") + B).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("tr") + B).cast("double"))) * 1000).cast("long"))
      .select(col("b"), col("mnat"))
    bg.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("mnat")).as("sum_mnat"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("sum_mnat"),
        expr("sum_mnat div n_bigrams").as("avg_mnat"))
      .orderBy(col("doc_id"))
  }

  /** N-gram novelty vs the already-crawled corpus (q182): what fraction
    * of a doc's DISTINCT 8-token windows appear here for the FIRST time
    * (doc_id = arrival order — the window's minimum doc_id is its first
    * seer)? Low novelty = the doc is mostly assembled from text the
    * corpus already has, even when no single source doc is a near-dup —
    * the incremental-crawl value signal that complements q180 (share of
    * windows duplicated ANYWHERE) with direction: q180 charges both
    * copies, novelty charges only the late one.
    *
    * Scale shape: the same linear windows scan as q177/q180, one
    * digest-keyed min agg (two-phase), one join back on the digest
    * partitioning, one per-doc agg. All linear; the W-token window set
    * is ≈ token count.
    */
  def q182_ngram_novelty(spark: SparkSession, sfDir: String): DataFrame = {
    // min-over-dig as a WINDOW on the deduped (doc, dig) frame: the
    // first-seer join-back formulation costs a 4th shuffle + a hash
    // relation; the window reuses the dig partitioning the min needs
    // anyway (3 linear shuffles total: distinct, dig window, doc agg)
    val wins = spanWindows(spark, sfDir)
      .select(col("doc_id"), col("dig")).distinct()
    wins
      .withColumn("fd", min(col("doc_id"))
        .over(Window.partitionBy(col("dig"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novel_bp", expr("n_novel * 10000L div n_win"))
      .orderBy(col("doc_id"))
  }

  /** Corpus diversity via distinct-n (q186): per language and n-gram
    * order 1..3, the unique-gram share — the distinct-n diversity metric
    * (Li et al. 2016) generation-quality and synthetic-data QA monitors
    * track: a corpus whose distinct-2/3 ratio collapses is repeating
    * itself (template spam, mode-collapsed generations) even when no doc
    * pair is a near-dup. Complements q99 (within-doc repetition) and
    * q180 (cross-doc duplication) at the corpus-per-lang granularity.
    *
    * Scale shape: one codegen'd gram scan per order feeding a two-phase
    * count + exact distinct (Spark plans countDistinct as the standard
    * two-agg expand — the dedup shuffle is linear in gram volume);
    * output is |langs|×3 rows. At extreme scale the exact distinct
    * swaps for [[graft.functions.Hll]] registers unchanged — the
    * documented approx trade.
    */
  def q186_distinct_ngrams(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir)
    // The documented Hll escalation is a real code path (round 9): past
    // graft.scale.distinct.escalateBytes (default NEVER — estimates
    // change the emitted values ~1.6% rsd at p=12, so the approx trade
    // is an explicit opt-in, like approx_count_distinct) the exact
    // distinct swaps to Hll register sketches; the estimate runs on the
    // |langs|-row post-agg frame. ScaleEscalationSpec pins the rsd band
    // vs the exact tier via a synthetic 1-byte threshold.
    def tier(n: Int): DataFrame = {
      val grams = base.select(col("lang"),
        explode(WordNgrams.wordNgramsAll(col("text"), n)).as("g"))
      val agged =
        if (graft.functions.Escalation.escalateDistinct(grams))
          grams.groupBy(col("lang"))
            .agg(count(lit(1)).as("total_grams"),
              graft.functions.Hll.sketch(col("g")).as("__sk"))
            .withColumn("uniq_grams",
              graft.functions.Hll.estimateCol(col("__sk")))
            .drop("__sk")
        else
          grams.groupBy(col("lang"))
            .agg(count(lit(1)).as("total_grams"),
              countDistinct(col("g")).as("uniq_grams"))
      agged.withColumn("n", lit(n.toLong))
    }
    tier(1).unionByName(tier(2)).unionByName(tier(3))
      .withColumn("distinct_bp", expr("uniq_grams * 10000L div total_grams"))
      .select(col("lang"), col("n"), col("total_grams"), col("uniq_grams"),
        col("distinct_bp"))
      .orderBy(col("lang"), col("n"))
  }

  private def mh(i: Int) =
    s"list_aggregate(list_transform(tok, t -> md5('$i|' || t)), 'min')"

  /** the q94 capped-LSH ≥0.8 pair set as DuckDB CTEs (shared with
    * PipelineQueries' q94 oracle by construction — same bands, same cap,
    * same verify) */
  private val q94PairsCtes =
    s"""d AS (SELECT doc_id, lang,
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
       |  ON a.lang = b.lang AND a.band = b.band AND a.doc_id < b.doc_id),
       |pairs AS (SELECT c.id_a, c.id_b FROM cand c
       |  JOIN d da ON da.doc_id = c.id_a JOIN d db ON db.doc_id = c.id_b
       |  WHERE CAST(len(list_intersect(da.tok, db.tok)) AS DOUBLE) /
       |    (len(da.tok) + len(db.tok) - len(list_intersect(da.tok, db.tok))) >= 0.8)""".stripMargin

  private val gramsExpr =
    "list_distinct(list_transform(" +
      "range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] " +
      "|| ' ' || string_split(text, ' ')[i+2]))"

  /** the q94 pair graph's connected components (transitive closure) as
    * DuckDB CTEs — shared by q100 and q108 */
  private val ccCtes =
    s"""$q94PairsCtes,
       |e AS (SELECT id_a AS s, id_b AS t FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |nodes AS (SELECT DISTINCT s AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.t FROM reach JOIN e ON reach.r = e.s),
       |cc AS (SELECT id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  /** Vocabulary-growth (Heaps) curve (q211): per lang, the cumulative
    * distinct-token count at each decile of the corpus in doc_id arrival
    * order — the saturation read corpus QA runs before deciding whether
    * more crawl buys new language or re-crawls the same text (a flattening
    * curve says marginal docs add no vocabulary; a straight line says the
    * source is far from exhausted). Complements q186 (diversity at a
    * snapshot) and q182 (novelty per doc) with the trajectory.
    *
    * The trick: cumulative-distinct is NOT distributable directly, but
    * "token counted at the doc where it FIRST appears" is — one
    * (lang, token) min-agg turns the running distinct into an ordinary
    * running SUM of per-doc first-seen counts, exact at every prefix.
    *
    * Exactness: pure integer counts; checkpoints ck = max(nd·k div 10, 1)
    * — engine-identical floors on positive operands; arrival order is the
    * unique doc_id, so ranks never tie.
    *
    * Scale shape: one explode scan → (lang, token) min-agg (the linear
    * vocab shuffle, unhinted — the q92 rule) → everything downstream runs
    * on the DOC frame (corpus-count-sized, not token-sized). The per-lang
    * rank window sorts docs within each lang partition — the doc frame is
    * ~3 orders smaller than the token stream; at extreme scale swap in
    * [[graft.functions.ScalableRank]] for the rank (q174's escalation),
    * the first-seen trick is unchanged.
    */
  def q211_vocab_growth(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val wRank = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    // The documented ScalableRank escalation is a real code path (round
    // 9): past graft.scale.rank.escalateBytes the per-lang rank swaps to
    // the bucketed two-phase form (max task ≈ idBucketWidth however
    // skewed the langs are). EXACT either way — ScaleEscalationSpec pins
    // branch equality over the fixtures via a synthetic 1-byte threshold.
    val base = docs.select(col("lang"), col("doc_id"))
    val d =
      if (graft.functions.Escalation.escalateRank(base))
        graft.functions.ScalableRank
          .rowNumbers(base, Seq("lang"), "doc_id", "doc_id")
          .select(col("lang"), col("doc_id"), col("rn"))
      else base.withColumn("rn", row_number().over(wRank).cast("long"))
    // fresh exprIds per branch (flang/klang/glang) — d, firstSeen, and ks
    // all descend from `docs`, and Spark's ambiguous-self-join check
    // rejects reused attribute ids across join sides
    val firstSeen = docs
      .select(col("lang").as("flang"), col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("flang"), col("w")).agg(min(col("doc_id")).as("fdoc"))
    val f = firstSeen
      .join(d, col("flang") === col("lang") && col("fdoc") === col("doc_id"))
      .groupBy(col("lang"), col("rn"))
      .agg(count(lit(1)).as("nf"))
      .select(col("lang").as("klang"), col("rn").as("krn"), col("nf"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = d.join(f, col("lang") === col("klang") &&
        col("rn") === col("krn"), "left")
      .withColumn("vocab",
        sum(coalesce(col("nf"), lit(0L))).over(wCum))
      .select(col("lang"), col("rn"), col("vocab"))
    val ks = docs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(
        spark.range(1L, 11L).select(col("id").as("decile"))))
      .select(col("lang").as("glang"), col("decile"),
        expr("greatest(nd * decile div 10, 1L)").as("n_docs_cut"))
    ks.join(c, col("n_docs_cut") === col("rn") &&
        col("glang") === col("lang"))
      .select(col("glang").as("lang"), col("decile"), col("n_docs_cut"),
        col("vocab"))
      .orderBy(col("lang"), col("decile"))
  }

  /** Calibration reliability bins (q213): q107's hashed-linear quality
    * score cut into 10 equal-COUNT bins (the standard reliability-diagram
    * binning — equal-width bins starve the tails), with the observed
    * positive rate per bin (positive = `lang = 'en'`, the deterministic
    * stand-in label the fixtures support). A monotone pos_bp ladder says
    * the score ranks; the gap between bin score and bin rate is the
    * calibration error an [[graft.functions.Isotonic]] fit removes —
    * this is the DECLARED, hash-checked companion of that unit-tier
    * calibrator (q188 grades by decile lift; this reads raw calibration).
    *
    * Exactness: bin = (rn−1)·10 div n from [[graft.functions.ScalableRank]]
    * ranks (exact, layout-independent); score sums stay exact integer
    * units (means are NOT floored per bin — negative numerators floor
    * differently across engines, the q162 rule; the consumer divides).
    *
    * Scale shape: one explode scan → per-doc agg; the global ranking is
    * ScalableRank's bucketed two-phase form (no corpus-sized single
    * window — max task ≈ idBucketWidth); the bin rollup is 10 groups.
    */
  def q213_calibration_bins(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .withColumn("wt",
        (conv(Sampling.hashHex(col("tok")), 16, 10).cast("long") % 2001)
          - 1000)
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("wt")).as("score_units"))
    graft.functions.ScalableRank
      .rowNumbers(s, Seq.empty, "score_units", "doc_id")
      .withColumn("bin", expr("(rn - 1) * 10 div n"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_pos"),
        sum(col("score_units")).as("sum_score_units"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        expr("n_pos * 10000 div n_docs").as("pos_bp"),
        col("sum_score_units"))
      .orderBy(col("bin"))
  }

  /** LIX readability (q216): Björnsson's läsbarhetsindex per doc —
    * words/sentences + 100·(words > 6 chars)/words — the one classic
    * readability formula that is EXACTLY integer-expressible (no
    * syllable estimation), emitted in centi units. The text-QA signal
    * q88's ratio panel doesn't cover: sentence-length and long-word
    * structure (LIX < 30 easy, > 60 very hard); a corpus slice whose
    * LIX collapses is word-salad or boilerplate even when stopword
    * ratios look sane.
    *
    * Exactness: sentences counted as period-count + 1 (min 1 — a
    * docs-without-periods guard by construction), words by the corpus'
    * whitespace convention, long words via a length predicate inside the
    * split array — all pure integer; both divisions floor once on
    * non-negative operands.
    *
    * Scale shape: a zero-shuffle codegen projection (plan-pinned: no
    * join, no window, no aggregate) — the scan-speed tier q103/q118
    * belong to; the only exchange is the output sort.
    */
  def q216_readability(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        (length(col("text"))
          - length(expr("replace(text, '.', '')")) + 1).cast("long")
          .as("n_sent"),
        expr("cast(size(filter(split(text, ' '), w -> length(w) > 6)) " +
          "as bigint)").as("n_long"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_sent"),
        col("n_long"),
        expr("n_words * 100 div n_sent + n_long * 10000 div " +
          "nullif(n_words, 0)").as("lix_centi"))
      .orderBy(col("doc_id"))

  /** Source rebalance plan (q220): the concrete per-source downsample
    * schedule that equalizes an imbalanced corpus toward the MEDIAN
    * source size — keep rate in bp (capped at 10⁴; below-target sources
    * keep everything) and the resulting doc count. q105 reports the
    * imbalance and q116 prices a temperature mix in weight space; this
    * emits the executable plan in DOC space — the number the q73/q74
    * hash-samplers are then configured with (rate = keep_bp as the
    * per-source threshold).
    *
    * Exactness: target = integer lower-median of source sizes (the
    * q166 crossing rule over the |sources| frame); keep_bp and n_kept
    * are single-floor BIGINT arithmetic — n_kept is the EXACT doc count
    * a keep_bp hash threshold admits in expectation, floored.
    *
    * Scale shape: one two-phase (source) count agg collapses the
    * corpus; the median window and the plan arithmetic run on the
    * |sources| frame (bounded — thousands at most, the q113 argument)
    * with a 1-row target broadcast.
    */
  def q220_rebalance_plan(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("n_docs").asc, col("source").asc)
    val tgt = s
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .agg(min(when(col("rn") * 2 >= col("n"), col("n_docs")))
        .as("target_n"))
    s.crossJoin(broadcast(tgt))
      .select(col("source"), col("n_docs"), col("target_n"),
        least(lit(10000L), expr("target_n * 10000 div n_docs"))
          .as("keep_bp"))
      .withColumn("n_kept", expr("n_docs * keep_bp div 10000"))
      .orderBy(col("source"))
  }

  val oracle: Map[String, String] = Map(
    "q220_rebalance_plan" ->
      """WITH s AS (SELECT source, count(*) AS n_docs FROM documents
        |  GROUP BY source),
        |r AS (SELECT source, n_docs,
        |    row_number() OVER (ORDER BY n_docs, source) AS rn,
        |    count(*) OVER () AS n FROM s),
        |t AS (SELECT CAST(min(CASE WHEN rn * 2 >= n THEN n_docs END)
        |    AS BIGINT) AS target_n FROM r)
        |SELECT source, n_docs, target_n,
        |  LEAST(10000, target_n * 10000 // n_docs) AS keep_bp,
        |  CAST(n_docs * LEAST(10000, target_n * 10000 // n_docs) // 10000
        |    AS BIGINT) AS n_kept
        |FROM s, t ORDER BY source""".stripMargin,
    "q213_calibration_bins" ->
      """WITH tk AS (SELECT doc_id, lang,
        |    unnest(string_split(text, ' ')) AS tok FROM documents),
        |w AS (SELECT doc_id, lang,
        |    CAST(CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER)
        |      % 2001 - 1000 AS BIGINT) AS wt FROM tk),
        |s AS (SELECT doc_id, lang, CAST(sum(wt) AS BIGINT) AS score_units
        |  FROM w GROUP BY doc_id, lang),
        |r AS (SELECT lang, score_units,
        |    CAST(row_number() OVER (ORDER BY score_units, doc_id)
        |      AS BIGINT) AS rn,
        |    count(*) OVER () AS n FROM s),
        |b AS (SELECT (rn - 1) * 10 // n AS bin, lang, score_units FROM r)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS pos_bp,
        |  CAST(sum(score_units) AS BIGINT) AS sum_score_units
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q216_readability" ->
      """SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(text) - len(replace(text, '.', '')) + 1 AS BIGINT)
        |    AS n_sent,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    w -> len(w) > 6)) AS BIGINT) AS n_long,
        |  CAST(len(string_split(text, ' ')) * 100
        |      // (len(text) - len(replace(text, '.', '')) + 1)
        |    + len(list_filter(string_split(text, ' '), w -> len(w) > 6))
        |      * 10000 // nullif(len(string_split(text, ' ')), 0)
        |    AS BIGINT) AS lix_centi
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q211_vocab_growth" ->
      """WITH d AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |t AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wf AS (SELECT lang, w, min(doc_id) AS fdoc FROM t GROUP BY lang, w),
        |f AS (SELECT d.lang, d.rn, count(*) AS nf FROM wf
        |  JOIN d ON wf.lang = d.lang AND wf.fdoc = d.doc_id
        |  GROUP BY d.lang, d.rn),
        |c AS (SELECT d.lang, d.rn,
        |    CAST(sum(coalesce(f.nf, 0)) OVER (PARTITION BY d.lang
        |      ORDER BY d.rn ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
        |  FROM d LEFT JOIN f ON d.lang = f.lang AND d.rn = f.rn),
        |n AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
        |ks AS (SELECT lang, nd, k AS decile,
        |    GREATEST(nd * k // 10, 1) AS ck
        |  FROM n CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS k))
        |SELECT ks.lang AS lang, CAST(ks.decile AS BIGINT) AS decile,
        |  CAST(ks.ck AS BIGINT) AS n_docs_cut, c.vocab
        |FROM ks JOIN c ON ks.lang = c.lang AND ks.ck = c.rn
        |ORDER BY ks.lang, decile""".stripMargin,
    "q203_dedup_report" ->
      s"""WITH RECURSIVE $ccCtes,
         |sz AS (SELECT component, count(*) AS cluster_size FROM cc
         |  GROUP BY 1)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_drop
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q100_dedup_components" ->
      s"""WITH RECURSIVE $ccCtes,
         |sz AS (SELECT component AS c2, count(*) AS n_members FROM cc GROUP BY 1)
         |SELECT id AS doc_id, component, n_members
         |FROM cc JOIN sz ON component = c2 ORDER BY doc_id""".stripMargin,
    "q106_line_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |ch AS (SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(len(tok) // 8 AS INT)),
        |    i -> array_to_string(tok[i*8+1 : i*8+8], ' '))) AS chunk FROM t),
        |df AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1),
        |boiler AS (SELECT chunk FROM df WHERE df >= 3),
        |n AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
        |h AS (SELECT ch.doc_id, count(*) AS n_boiler FROM ch
        |  JOIN boiler USING (chunk) GROUP BY ch.doc_id)
        |SELECT n.doc_id, n.n_chunks,
        |  CAST(COALESCE(h.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  CAST(COALESCE(h.n_boiler, 0) * 10000 // n.n_chunks AS BIGINT) AS boiler_bp
        |FROM n LEFT JOIN h ON n.doc_id = h.doc_id ORDER BY n.doc_id""".stripMargin,
    "q107_quality_classifier" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |w AS (SELECT doc_id, CAST(CAST(('0x' || substr(md5(tok), 1, 4)) AS INTEGER)
        |  % 2001 - 1000 AS BIGINT) AS wt FROM tk)
        |SELECT doc_id, count(*) AS n_tok, CAST(sum(wt) AS BIGINT) AS score_units,
        |  (sum(wt) > 0) AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q108_dedup_canonical" ->
      s"""WITH RECURSIVE $ccCtes
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM cc
         |  WHERE cc.id = d.doc_id AND cc.id <> cc.component)
         |ORDER BY d.doc_id""".stripMargin,
    "q115_dedup_prefix" ->
      """WITH t AS (SELECT DISTINCT text AS t FROM documents WHERE len(text) > 0),
        |s AS (SELECT t, lead(t) OVER (PARTITION BY substr(t, 1, 1) ORDER BY t) AS nxt
        |      FROM t),
        |f AS (SELECT t FROM s WHERE nxt IS NOT NULL
        |      AND len(nxt) > len(t) AND starts_with(nxt, t))
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
        |JOIN f ON d.text = f.t ORDER BY d.doc_id""".stripMargin,
    "q114_stratified_topk" ->
      """WITH r AS (SELECT lang, doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |    AS BIGINT) AS rk
        |  FROM documents)
        |SELECT lang, doc_id, source, rk FROM r WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin,
    "q113_source_divergence" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |csw AS (SELECT source, w, count(*) AS c_sw FROM tk GROUP BY 1, 2),
        |cw AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM csw GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM csw GROUP BY 1),
        |n AS (SELECT CAST(sum(c_w) AS BIGINT) AS n FROM cw),
        |ct AS (SELECT csw.source,
        |  CAST(round(CAST(csw.c_sw AS DOUBLE)
        |    * ln((CAST(csw.c_sw AS DOUBLE) * n.n) / (CAST(ns.n_s AS DOUBLE) * cw.c_w))
        |    * 1000000.0 / ns.n_s) AS BIGINT) AS contrib, ns.n_s
        |  FROM csw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN n)
        |SELECT source, max(n_s) AS n_tokens, count(*) AS n_vocab,
        |  CAST(sum(contrib) AS BIGINT) AS kl_unat
        |FROM ct GROUP BY source ORDER BY source""".stripMargin,
    "q112_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |pc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |  count(*) AS n_distinct FROM pc GROUP BY 1),
        |ct AS (SELECT pc.doc_id,
        |  CAST(round(-CAST(pc.c AS DOUBLE)
        |    * ln(CAST(pc.c AS DOUBLE) / pd.n) * 1000) AS BIGINT) AS contrib,
        |  pd.n, pd.n_distinct
        |  FROM pc JOIN pd USING (doc_id))
        |SELECT doc_id, max(n) AS n_chars_total,
        |  CAST(max(n_distinct) AS BIGINT) AS n_distinct_chars,
        |  CAST(sum(contrib) AS BIGINT) AS sum_mnat,
        |  CAST(sum(contrib) // max(n) AS BIGINT) AS entropy_mnat
        |FROM ct GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q111_lm_bigram_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |bg0 AS (SELECT doc_id, unnest(CASE WHEN len(tok) >= 2
        |  THEN list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])
        |  ELSE CAST([] AS VARCHAR[]) END) AS bg FROM t),
        |cb AS (SELECT bg, count(*) AS c_bg FROM bg0 GROUP BY 1),
        |cw AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c_w1
        |       FROM bg0 GROUP BY 1),
        |sc AS (SELECT bg0.doc_id,
        |  CAST(round(ln(CAST(cb.c_bg AS DOUBLE) / cw.c_w1) * 1000) AS BIGINT) AS mnat
        |  FROM bg0 JOIN cb USING (bg)
        |  JOIN cw ON cw.w1 = split_part(bg0.bg, ' ', 1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(mnat) AS BIGINT) AS sum_mnat,
        |  CAST(sum(mnat) // count(*) AS BIGINT) AS avg_mnat
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q110_winnow_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(tok) >= 3
        |  THEN list_transform(range(1, len(tok) - 1),
        |    i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
        |  ELSE CAST([] AS VARCHAR[]) END AS grams FROM t),
        |h AS (SELECT doc_id, list_transform(grams,
        |  g2 -> CAST(('0x' || substr(md5(g2), 1, 15)) AS BIGINT)) AS hs FROM g),
        |s AS (SELECT doc_id, CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[]) ELSE
        |  list_sort(list_distinct(list_transform(
        |    range(1, greatest(len(hs) - 3, 1) + 1),
        |    i -> list_aggregate(hs[i:least(i+3, len(hs))], 'min')))) END AS fp FROM h)
        |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_fp,
        |  md5(array_to_string(fp, ',')) AS fp_digest
        |FROM s ORDER BY doc_id""".stripMargin,
    "q109_dedup_keep_best" ->
      s"""WITH RECURSIVE $ccCtes,
         |q AS (SELECT doc_id, lang, ${PipelineQueries.qualityExpr} AS quality
         |      FROM documents),
         |r AS (SELECT cc.id AS lid, row_number() OVER (
         |        PARTITION BY cc.component
         |        ORDER BY q.quality DESC, cc.id ASC) AS rk
         |      FROM cc JOIN q ON q.doc_id = cc.id),
         |lose AS (SELECT lid FROM r WHERE rk > 1)
         |SELECT q.doc_id, q.lang, q.quality FROM q
         |WHERE q.doc_id NOT IN (SELECT lid FROM lose)
         |ORDER BY q.doc_id""".stripMargin,
    "q101_contamination" ->
      s"""WITH g0 AS (
         |  SELECT doc_id, unnest($gramsExpr) AS gram FROM documents),
         |dg AS (SELECT DISTINCT doc_id, gram FROM g0),
         |ev AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY 1),
         |hit AS (SELECT dg.doc_id, count(*) AS n_hit FROM dg JOIN ev USING (gram)
         |  WHERE dg.doc_id % 97 <> 0 GROUP BY dg.doc_id)
         |SELECT h.doc_id, t.n_grams, h.n_hit,
         |  CAST((h.n_hit * 10000) // t.n_grams AS BIGINT) AS contam_bp
         |FROM hit h JOIN tot t USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q102_seq_pack" ->
      s"""WITH RECURSIVE ${PipelineQueries.bpeCtes("doc_id")},
        |dt AS (SELECT i.doc_id, CAST(sum(t.ntok) AS BIGINT) AS btok
        |  FROM inst i JOIN tok t USING (word) GROUP BY i.doc_id),
        |t AS (SELECT d.doc_id, d.lang,
        |  CAST(coalesce(dt.btok, 0) AS BIGINT) AS n_tok
        |  FROM documents d LEFT JOIN dt USING (doc_id)),
        |c AS (SELECT doc_id, lang, n_tok,
        |  CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t),
        |a AS (SELECT lang, doc_id, n_tok, (cum - n_tok) // 256 AS seq_id FROM c)
        |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM a GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin,
    "q175_doc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n FROM documents),
        |k AS (SELECT doc_id, toks, n,
        |    unnest(range(0, CAST(ceil(n / 24.0) AS BIGINT))) AS ck FROM d),
        |c AS (SELECT doc_id, ck,
        |    toks[24*ck+1 : least(24*ck+32, n)] AS chunk
        |  FROM k WHERE 24*ck < n)
        |SELECT doc_id, CAST(ck AS BIGINT) AS chunk_idx,
        |  CAST(len(chunk) AS BIGINT) AS n_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_digest
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q103_text_normalize" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |      'abcdefghijklmnopqrstuvwxyz'),
        |    '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g')) AS norm_text FROM documents)
        |SELECT doc_id, norm_text,
        |  CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tok
        |FROM n ORDER BY doc_id""".stripMargin,
    "q104_shard_assign" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 16 AS BIGINT) AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  count(DISTINCT lang) AS n_langs, min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    "q105_domain_mix" ->
      """WITH t AS (SELECT source, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok, n_chars FROM documents),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS all_tok FROM t)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST((CAST(sum(n_tok) AS BIGINT) * 10000) // (SELECT all_tok FROM tot) AS BIGINT) AS tok_share_bp,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q116_mix_temperature" ->
      """WITH per AS (SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
        |q AS (SELECT source, n_tokens,
        |  CAST(round(sqrt(CAST(n_tokens AS DOUBLE) / total) * 1000000000) AS BIGINT) AS qs,
        |  total FROM per, tot),
        |sq AS (SELECT CAST(sum(qs) AS BIGINT) AS sumq FROM q)
        |SELECT source, n_tokens,
        |  CAST(n_tokens * 1000000 // total AS BIGINT) AS share_before_ppm,
        |  CAST(qs * 1000000 // sumq AS BIGINT) AS share_after_ppm,
        |  CAST((qs * 1000000 // sumq) * 1000 // (n_tokens * 1000000 // total) AS BIGINT) AS boost_milli
        |FROM q, sq ORDER BY source""".stripMargin,
    "q186_distinct_ngrams" ->
      """WITH t AS (SELECT lang, string_split(text, ' ') AS tok FROM documents),
        |g1 AS (SELECT lang, unnest(tok) AS g FROM t),
        |g2 AS (SELECT lang, unnest(CASE WHEN len(tok) >= 2
        |  THEN list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])
        |  ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
        |g3 AS (SELECT lang, unnest(CASE WHEN len(tok) >= 3
        |  THEN list_transform(range(1, len(tok) - 1),
        |    i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
        |  ELSE CAST([] AS VARCHAR[]) END) AS g FROM t),
        |a AS (
        |  SELECT lang, CAST(1 AS BIGINT) AS n, count(*) AS total_grams,
        |    count(DISTINCT g) AS uniq_grams FROM g1 GROUP BY lang
        |  UNION ALL SELECT lang, 2, count(*), count(DISTINCT g)
        |    FROM g2 GROUP BY lang
        |  UNION ALL SELECT lang, 3, count(*), count(DISTINCT g)
        |    FROM g3 GROUP BY lang)
        |SELECT lang, n, total_grams, uniq_grams,
        |  CAST(uniq_grams * 10000 // total_grams AS BIGINT) AS distinct_bp
        |FROM a ORDER BY lang, n""".stripMargin,
    "q181_dsir_weight" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok
        |  FROM documents),
        |bg0 AS (SELECT doc_id, lang, unnest(CASE WHEN len(tok) >= 2
        |  THEN list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i+1])
        |  ELSE CAST([] AS VARCHAR[]) END) AS bg FROM t),
        |bg AS (SELECT doc_id, lang,
        |  CAST(('0x' || substr(md5(bg), 1, 4)) AS BIGINT) % 1024 AS b
        |  FROM bg0),
        |c AS (SELECT b, count(*) AS cr,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM bg GROUP BY b),
        |tt AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
        |  CAST(sum(ct) AS BIGINT) AS tt FROM c),
        |w AS (SELECT b, CAST(round(
        |  (ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE)) -
        |   ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 1024 AS DOUBLE))) * 1000)
        |  AS BIGINT) AS mnat FROM c, tt)
        |SELECT doc_id, lang, count(*) AS n_bigrams,
        |  CAST(sum(mnat) AS BIGINT) AS sum_mnat,
        |  CAST(sum(mnat) // count(*) AS BIGINT) AS avg_mnat
        |FROM bg JOIN w USING (b)
        |GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin,
    "q182_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |w AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(tok[i:i+7], ' ')) AS dig
        |  FROM t, unnest(range(1, greatest(len(tok) - 7, 0) + 1)) AS u(i)
        |  WHERE len(tok) >= 8),
        |f AS (SELECT dig, min(doc_id) AS fd FROM w GROUP BY dig)
        |SELECT doc_id, count(*) AS n_win,
        |  CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS novel_bp
        |FROM w JOIN f USING (dig) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q193_span_containment" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |w0 AS (SELECT doc_id, md5(array_to_string(tok[i:i+7], ' ')) AS dig
        |  FROM t, unnest(range(1, greatest(len(tok) - 7, 0) + 1)) AS u(i)
        |  WHERE len(tok) >= 8),
        |w AS (SELECT DISTINCT doc_id, dig FROM w0),
        |sz AS (SELECT doc_id, count(*) AS nw FROM w GROUP BY doc_id),
        |dd AS (SELECT dig FROM w GROUP BY dig
        |  HAVING count(*) BETWEEN 2 AND 200),
        |j AS (SELECT w.doc_id, w.dig FROM w JOIN dd ON w.dig = dd.dig),
        |pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS shared
        |  FROM j a JOIN j b ON a.dig = b.dig AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, CAST(sa.nw AS BIGINT) AS w_a,
        |  CAST(sb.nw AS BIGINT) AS w_b, CAST(p.shared AS BIGINT) AS n_shared,
        |  CAST(p.shared * 10000 // sa.nw AS BIGINT) AS cont_ab_bp,
        |  CAST(p.shared * 10000 // sb.nw AS BIGINT) AS cont_ba_bp
        |FROM pair p JOIN sz sa ON sa.doc_id = p.id_a
        |  JOIN sz sb ON sb.doc_id = p.id_b
        |WHERE p.shared * 10000 // sa.nw >= 5000
        |   OR p.shared * 10000 // sb.nw >= 5000
        |ORDER BY id_a, id_b""".stripMargin,
    "q177_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |w AS (SELECT doc_id, i - 1 AS s,
        |    md5(array_to_string(tok[i:i+7], ' ')) AS dig
        |  FROM t, unnest(range(1, greatest(len(tok) - 7, 0) + 1)) AS u(i)
        |  WHERE len(tok) >= 8),
        |dup AS (SELECT dig FROM w GROUP BY dig
        |  HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT doc_id, s, s + 7 AS e FROM w
        |  WHERE dig IN (SELECT dig FROM dup)),
        |f AS (SELECT doc_id, s, e, max(e) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM h),
        |g AS (SELECT doc_id, s, e,
        |  CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END AS newr FROM f),
        |r AS (SELECT doc_id, s, e, sum(newr) OVER (PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid FROM g)
        |SELECT doc_id, CAST(rid AS BIGINT) AS r_idx,
        |  CAST(min(s) AS BIGINT) AS r_start,
        |  CAST(max(e) - min(s) + 1 AS BIGINT) AS r_len
        |FROM r GROUP BY doc_id, rid ORDER BY doc_id, r_idx""".stripMargin,
    "q180_dup_span_share" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |w AS (SELECT doc_id, i - 1 AS s,
        |    md5(array_to_string(tok[i:i+7], ' ')) AS dig
        |  FROM t, unnest(range(1, greatest(len(tok) - 7, 0) + 1)) AS u(i)
        |  WHERE len(tok) >= 8),
        |dup AS (SELECT dig FROM w GROUP BY dig
        |  HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, count(*) AS n_win,
        |  CAST(sum(CASE WHEN dig IN (SELECT dig FROM dup) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_win,
        |  CAST(sum(CASE WHEN dig IN (SELECT dig FROM dup) THEN 1 ELSE 0 END)
        |    * 10000 // count(*) AS BIGINT) AS dup_bp,
        |  (CAST(sum(CASE WHEN dig IN (SELECT dig FROM dup) THEN 1 ELSE 0 END)
        |    * 10000 // count(*) AS BIGINT) < 2000) AS keep
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q178_quota_sample" ->
      """WITH b AS (SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hk
        |  FROM documents),
        |c AS (SELECT lang, doc_id, n_tok,
        |  sum(n_tok) OVER (PARTITION BY lang ORDER BY hk, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk,
        |  sum(n_tok) OVER (PARTITION BY lang) AS tot FROM b),
        |k AS (SELECT lang, n_tok, tot,
        |  (cum <= tot // 5 OR rk = 1) AS keep FROM c)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(max(tot) AS BIGINT) AS tok_total,
        |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS tok_kept,
        |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) * 10000 // max(tot)
        |    AS BIGINT) AS share_bp
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,
    "q179_dup_rate_by_source" ->
      s"""WITH RECURSIVE $ccCtes
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN cc.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clustered,
         |  CAST(sum(CASE WHEN cc.id IS NOT NULL AND cc.component <> cc.id
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN cc.id IS NOT NULL AND cc.component <> cc.id
         |    THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS drop_bp
         |FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q117_span_mask" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t AS (SELECT doc_id,
        |  unnest(list_transform(toks, (x, i) -> {'pos': i - 1, 'tok': x})) AS u
        |  FROM t0),
        |m AS (SELECT doc_id, u.pos AS pos, u.tok AS tok,
        |  (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(u.pos AS VARCHAR)), 1, 4)) AS INTEGER) % 100) < 15 AS msk
        |  FROM t)
        |SELECT doc_id, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
        |  string_agg(CASE WHEN msk THEN '<mask>' ELSE tok END, ' ' ORDER BY pos) AS masked_text
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
