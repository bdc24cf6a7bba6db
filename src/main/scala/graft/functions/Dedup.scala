package graft.functions

import graft.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Four tiers, in increasing fuzziness:
  *  - exact: hash-groupBy on a content digest (one shuffle on the digest).
  *  - n-gram Jaccard: shingle-set overlap, blocked — catches re-orderings
  *    exact hashing misses.
  *  - MinHash-LSH ([[MinHashLSH]]): sub-quadratic candidate generation.
  *  - SimHash ([[SimHash]]): constant-size fingerprints, Hamming banding.
  *  - embedding cosine ([[Dedup.embeddingNearDups]]): semantic near-dups.
  */
object Dedup {

  /** Keep exactly one row (the min of `idCol`) per distinct digest of
    * `contentCols`. Scale: ONE scan of the input and one shuffle (full
    * rows, keyed by the digest) — the previous groupBy+join-back shape
    * scanned the input twice and shuffled it by id as well; never a
    * self-join either way.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    // digest over the JSON-encoded struct: injective across column
    // boundaries and null-vs-empty (a plain separator concat would collide
    // ("a b","c") with ("a","b c") and null with "")
    val digest = md5(to_json(struct(contentCols.map(col): _*)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(digest).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Word n-gram (shingle) set of a text column. Documents shorter than n
    * tokens yield an EMPTY set (not a truncated shingle) — this matches
    * the q86/q89 oracle SQL, which generates no grams for len < n.
    */
  def ngrams(text: Column, n: Int): Column =
    graft.expressions.WordNgrams.wordNgrams(text, n)

  /** Jaccard similarity of two array columns (by |∩| / (|A|+|B|-|∩|)). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a).cast("double") + size(b).cast("double") - inter)
  }

  /** Jaccard for interned token-id arrays (sorted, distinct, null-free
    * longs): ONE codegen'd merge pass ([[graft.expressions.SortedJaccard]]
    * — no per-row hash set, the right shape for the quadratic verify
    * loops). Round 12: previously composed as `sis / (|A|+|B|−sis)` with
    * two [[graft.expressions.SortedIntersectSize]] nodes, which join
    * conditions evaluate twice per pair; the fused expression is
    * bit-identical (same IEEE ops in the same order) at half the merges.
    */
  def jaccardSortedIds(a: Column, b: Column): Column =
    graft.expressions.SortedJaccard.jaccard(a, b)

  /** Sorted distinct 64-bit token ids — the interned form consumed by
    * [[jaccardSortedIds]]. One codegen'd pass
    * ([[graft.expressions.ShingleIds]] with n=1) replacing the interpreted
    * `array_sort(array_distinct(transform(split, xxhash64)))` HOF chain.
    */
  def tokenIds(text: Column): Column =
    graft.expressions.ShingleIds.shingleIds(text, 1)

  /** Sorted distinct 64-bit word-n-gram ids (empty when tokens < n) — the
    * interned form of [[ngrams]], one codegen'd pass.
    */
  def gramIds(text: Column, n: Int): Column =
    graft.expressions.ShingleIds.shingleIds(text, n)

  /** Value-deterministic contiguous bucket assignment for
    * [[prefixFlags]]: cut points are string LITERALS estimated by one
    * bounded driver action (deterministic hash-order bottom-k sample —
    * the [[Reservoir]] trick: layout-independent, seedless), and the
    * bucket id is `count(cuts <= t)` — a pure function of `t`, monotone
    * in lexicographic order, so ordering by (b, t) IS ordering by t.
    *
    * Why literals and not `repartitionByRange`: the stitch in
    * [[prefixFlags]] joins two consumers of the bucketed frame, and a
    * sampled RangePartitioner materialized twice (exchange reuse off,
    * AQE off, or a future plan change splitting the subplans) samples
    * boundaries independently per materialization — the two sides could
    * place the SAME text in DIFFERENT buckets and the stitch would
    * silently miss flags. Literal cuts make every recomputation agree by
    * construction, and drop an exchange: the old shape paid a range
    * exchange AND a hash re-exchange on the derived partition id; this
    * shape pays one hash exchange on `b` (the window's own requirement).
    */
  private[graft] def prefixBuckets(texts: DataFrame, buckets: Int,
                                   cutSource: Option[DataFrame] = None)
      : DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val sampleN = math.max(buckets * 32, 256)
    // `cutSource` lets the caller hand a CHEAPER frame for the cut
    // estimate (e.g. the pre-distinct text projection: scan +
    // TakeOrdered, no aggregation exchange — the distinct then computes
    // once, in the main action). Duplicate values only bias cut
    // PLACEMENT, never correctness: the flag set is invariant to where
    // the cuts fall.
    val cuts = prefixCuts(cutSource.getOrElse(texts), buckets, sampleN)
    // b = count of cut points <= t: one codegen'd binary search per row
    // ([[graft.expressions.SortedLowerBound]]) — O(log buckets) string
    // comparisons and constant-size generated code at ANY bucket count
    // (the when-chain alternative grows its CaseWhen linearly and falls
    // out of codegen at cluster-scale bucket knobs)
    texts.withColumn("b",
      graft.expressions.SortedLowerBound.bucketOf(col("t"), cuts))
  }

  /** Literal cut points for [[prefixBuckets]]: ≤ buckets−1 strings picked
    * at quantiles of a bounded deterministic sample of `texts.t`.
    *
    * Sample and cuts sort under UTF8String byte order (== Spark's string
    * sort and [[graft.expressions.SortedLowerBound]]'s compare), NOT
    * `String.sorted`: UTF-16 code-unit order diverges once
    * supplementary-plane characters (emoji, U+10000+) meet U+E000–U+FFFF.
    * Flags were never at risk even with mis-sorted cuts — a fixed
    * binary-search decision tree partitions the value axis into contiguous
    * intervals with monotone outputs whatever the array order, so bucket
    * runs stay contiguous — but mis-sorted cuts break the documented
    * `b = count(cuts <= t)` semantics (buckets go empty, parallelism
    * skews) and violate the expression's sortedness precondition. Sort in
    * the order the comparison actually uses (spec-pinned in PrefixDupSpec
    * with a corpus saturating the divergence zone).
    */
  private[graft] def prefixCuts(texts: DataFrame, buckets: Int,
                                sampleN: Int): Array[String] = {
    val utf8Ord = graft.expressions.SortedLowerBound.utf8Ordering
    val sample = texts.select(col("t"))
      .orderBy(xxhash64(col("t")), col("t")).limit(sampleN)
      .collect().map(_.getString(0)).distinct.sorted(utf8Ord)
    if (sample.length < 2 || buckets == 1) Array.empty
    else (1 until buckets)
      .map(i => sample((i.toLong * sample.length / buckets).toInt))
      .distinct.sorted(utf8Ord).toArray
  }

  /** Texts that are a STRICT prefix of another text in `texts` (one
    * string column named `t`, pre-distinct'd non-empty) — the q115 core.
    * In lexicographic order, A prefixes SOME text iff A prefixes its
    * immediate distinct successor, so one sorted `lead` replaces a
    * substring join. Parallel shape: bucket the texts into `buckets`
    * contiguous sorted runs via [[prefixBuckets]] (a knob, not a data
    * property — this replaced round ≤7's first-character blocking, whose
    * cardinality was an alphabet constant one hot first byte could
    * collapse to a single corpus-sized task), run the lead window per
    * bucket, and STITCH the boundaries — each bucket's last row checks
    * the next non-empty bucket's first text (a ≤buckets-row broadcast
    * frame; bucket ids are a pure function of the text, so the stitch
    * frame and the window frame agree under ANY recomputation). The flag
    * set is invariant to where the cut points fall: false positives are
    * impossible (flagging exhibits an actual extension), and the stitch
    * restores exact global adjacency so nothing is missed.
    */
  def prefixFlags(texts: DataFrame, buckets: Int,
                  cutSource: Option[DataFrame] = None): DataFrame =
    prefixFlagsFromBuckets(prefixBuckets(texts, buckets, cutSource))

  /** [[prefixFlags]] over a pre-bucketed `(t, b)` frame — the entry point
    * for callers holding a MATERIALIZED bucketed distinct projection
    * ([[TextCache.form]] — the q115 shape). Materializing first means the
    * per-invocation plan pays NO corpus scan, NO distinct aggregation,
    * and NO driver cut-point sample: both consumers below (the per-bucket
    * lead window and the ≤buckets-row stitch aggregate) read the same
    * tiny-schema parquet artifact, whose stored bucket ids agree by
    * storage — even stronger than the literal-cut by-construction
    * agreement. Input contract: `t` distinct non-empty, `b` monotone
    * non-decreasing in `t`'s sort order with contiguous runs (what
    * [[prefixBuckets]] emits).
    */
  def prefixFlagsFromBuckets(bucketed: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val wIn = w.partitionBy(col("b")).orderBy(col("t"))
    val wB = w.orderBy(col("b")) // ≤ buckets rows — bounded by the knob
    val stitch = bucketed.groupBy(col("b")).agg(min(col("t")).as("ft"))
      .withColumn("stitch_t", lead(col("ft"), 1).over(wB))
      .select(col("b"), col("stitch_t"))
    bucketed
      .withColumn("nxt", lead(col("t"), 1).over(wIn))
      .join(broadcast(stitch), Seq("b"), "left")
      .withColumn("succ", coalesce(col("nxt"), col("stitch_t")))
      .filter(col("succ").isNotNull &&
        length(col("succ")) > length(col("t")) &&
        col("succ").startsWith(col("t")))
      .select(col("t"))
  }

  /** Near-duplicate pairs by word-n-gram Jaccard ≥ threshold, blocked on
    * `blockCol` — the join never crosses blocks, so the quadratic term is
    * per-block, not global.
    */
  def ngramNearDups(docs: DataFrame, idCol: String, textCol: String,
                    blockCol: String, n: Int, threshold: Double): DataFrame =
    // shingles interned to 64-bit ids (one codegen'd ShingleIds pass):
    // identical set sizes w.h.p., and the per-pair intersect (the
    // quadratic hot loop) runs on sorted longs instead of multi-word
    // strings
    ngramNearDupsFromIds(
      docs.select(col(blockCol).as("block"), col(idCol).as("id"),
        gramIds(col(textCol), n).as("g")),
      threshold)

  /** [[ngramNearDups]] over a pre-interned `(block, id, g)` frame, with
    * `g` the sorted distinct shingle ids [[gramIds]] emits.
    */
  def ngramNearDupsFromIds(g: DataFrame, threshold: Double): DataFrame = {
    // Exact prefix filter (Bayardo/Ma/Srikant, "Scaling up all pairs
    // similarity search", WWW 2007; positional refinement in Xiao et al.
    // PPJoin, WWW 2008 — public literature): under one global element order
    // (the sorted hashes), J(A,B) ≥ t forces |A∩B| ≥ ceil(t·|A|), so A and
    // B must share an element inside their first |·| − ceil(t·|·|) + 1
    // elements. Candidates come from an inverted index over those prefixes
    // — a superset of the true pairs (no false negatives), far smaller
    // than block-all-pairs when shingle vocabulary is rich.
    val prefixLen = (size(col("g")) - ceil(size(col("g")) * threshold) + 1)
      .cast("int")
    // the index rows carry ONLY (block, id, prefix element): a doc's
    // shingle array must not ride the explode through the shuffle
    // prefixLen-times over — pairs are deduped first (narrow id pairs),
    // then the two arrays are attached once per distinct pair via
    // broadcast-friendly joins, then verified once
    val idx = g.select(col("block"), col("id"),
        explode(slice(col("g"), lit(1), greatest(prefixLen, lit(1)))).as("p"))
    val cand = idx.as("a").join(idx.as("b"),
        col("a.block") === col("b.block") && col("a.p") === col("b.p") &&
          col("a.id") < col("b.id"))
      .select(col("a.block").as("block"), col("a.id").as("id_a"),
        col("b.id").as("id_b"))
      .distinct()
    // attach grams on (block, id), not id alone — ids are only promised
    // unique PER BLOCK (per-shard sequences are common), and an id-only
    // join would fan a pair out across blocks and score it against the
    // wrong block's shingles
    cand
      .join(g.select(col("block"), col("id").as("id_a"), col("g").as("ga")),
        Seq("block", "id_a"))
      .join(g.select(col("block"), col("id").as("id_b"), col("g").as("gb")),
        Seq("block", "id_b"))
      // exact length prefilter ahead of the O(|g|) verify merge (round
      // 12): the best achievable Jaccard at these sizes is min/max
      // (i = min ⟹ |∪| = max), and THIS filter evaluates the identical
      // IEEE division the verify filter would see at i = min — correctly-
      // rounded division is monotone in i, so every pair the verify
      // filter passes, this passes. No float boundary, no false drop.
      // try_divide: a pair of two EMPTY gram arrays (greatest = 0,
      // unreachable from declared callers) yields null — filtered out,
      // not an ANSI DIVIDE_BY_ZERO throw (r12 ADVICE); for every nonzero
      // denominator try_divide is bit-identical to the plain division.
      .filter(try_divide(
        least(size(col("ga")), size(col("gb"))).cast("double"),
        greatest(size(col("ga")), size(col("gb"))).cast("double"))
        >= threshold)
      .withColumn("jac", jaccardSortedIds(col("ga"), col("gb")))
      .filter(col("jac") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"),
        Det.r4(col("jac")).as("jaccard"))
  }

  /** Cross-corpus near-duplicate HITS: new-batch docs whose word-n-gram
    * Jaccard against ANY same-block corpus doc is ≥ threshold — the
    * "dedup the new crawl against the training set" primitive. Same exact
    * PPJoin prefix filter as [[ngramNearDupsFromIds]] (no false
    * negatives), restricted to corpus×new candidate pairs: the corpus
    * side's prefix index is the piece a production pipeline materializes
    * ONCE (bucketed by the prefix element) and reuses for every incoming
    * batch — per-batch cost then scales with the batch, not the corpus.
    */
  def incrementalNearDupPairs(corpus: DataFrame, newDocs: DataFrame,
                              idCol: String, textCol: String, blockCol: String,
                              n: Int, threshold: Double): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col(blockCol).as("block"), col(idCol).as("id"),
        gramIds(col(textCol), n).as("g"))
    def prefixIdx(g: DataFrame): DataFrame = {
      val prefixLen = (size(col("g")) - ceil(size(col("g")) * threshold) + 1)
        .cast("int")
      g.select(col("block"), col("id"),
        explode(slice(col("g"), lit(1), greatest(prefixLen, lit(1)))).as("p"))
    }
    val gC = grams(corpus); val gN = grams(newDocs)
    val cand = prefixIdx(gC).as("c").join(prefixIdx(gN).as("n"),
        col("c.block") === col("n.block") && col("c.p") === col("n.p"))
      .select(col("c.block").as("block"), col("c.id").as("id_corpus"),
        col("n.id").as("id_new"))
      .distinct()
    // (block, id) attach joins — the ngramNearDupsFromIds per-block-id rule
    cand
      .join(gC.select(col("block"), col("id").as("id_corpus"),
        col("g").as("gc")), Seq("block", "id_corpus"))
      .join(gN.select(col("block"), col("id").as("id_new"),
        col("g").as("gn")), Seq("block", "id_new"))
      // exact length prefilter — the ngramNearDupsFromIds bound
      .filter(least(size(col("gc")), size(col("gn"))).cast("double") /
        greatest(size(col("gc")), size(col("gn"))).cast("double")
        >= threshold)
      .withColumn("jac", jaccardSortedIds(col("gc"), col("gn")))
      .filter(col("jac") >= threshold)
      .select(col("block"), col("id_new"), col("id_corpus"),
        Det.r4(col("jac")).as("jaccard"))
  }

  /** [[incrementalNearDupPairs]] applied: the new batch with every
    * corpus-near-duplicate dropped (anti-join on the hit ids).
    */
  def incrementalNearDedup(corpus: DataFrame, newDocs: DataFrame,
                           idCol: String, textCol: String, blockCol: String,
                           n: Int, threshold: Double): DataFrame = {
    val hits = incrementalNearDupPairs(corpus, newDocs, idCol, textCol,
      blockCol, n, threshold)
      .select(col("block"), col("id_new")).distinct()
    newDocs.join(hits,
      newDocs(blockCol) === hits("block") && newDocs(idCol) === hits("id_new"),
      "left_anti")
  }

  /** Semantic near-duplicate pairs: embedding cosine ≥ threshold, blocked
    * on `blockCol` (e.g. a cluster/label id from a coarse quantizer — the
    * same IVF partitioning [[Ann.ivfTopK]] uses).
    */
  /** SemDeDup-style semantic near-dedup (Abbas et al. 2023,
    * arXiv:2303.09540 — public literature): k-means the embedding space
    * ([[Ann.kmeans]], deterministic init/iterations), then compare
    * cosines only WITHIN each cluster — the all-pairs blowup of
    * [[embeddingNearDups]] becomes k independent (n/k)²-bounded blocks,
    * the same bucket-bounding idea as capped LSH but in embedding space.
    * Pair recall vs the unblocked oracle is a property of cluster
    * granularity (tested in AnnSpec on the fixture corpus).
    */
  def semanticNearDups(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, k: Int,
                       iters: Int = 5): DataFrame = {
    val cells = Ann.kmeans(emb, idCol, vecCol, k, iters)
    embeddingNearDups(emb.join(cells, idCol), idCol, vecCol,
      blockCol = "cell", threshold = threshold)
  }

  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        blockCol: String, threshold: Double): DataFrame = {
    // norms computed once per vector, not once per pair — the pairwise
    // stage then does a single dot product per candidate
    val e = emb.select(col(blockCol).as("block"), col(idCol).as("id"),
      col(vecCol).as("v"), Det.l2norm(col(vecCol)).as("nrm"))
    // a sub-threshold embedding table gets broadcast, so the pairwise
    // dot-product probe executes in the stream side's SCAN stage — one
    // task when the corpus fits in one split (the q91/q145 pathology,
    // BASELINE §4.0c). Spread the stream side in exactly that regime;
    // identity on a real corpus. Output-safe: every emitted column is a
    // pure per-pair function and callers impose a total order.
    val es = Escalation.spreadIfNarrow(e)
    es.as("a").join(e.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      // round-then-filter: boundary pairs behave identically across engines
      .withColumn("cos_sim", Det.r6(Det.dotD(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm"))))
      .filter(col("cos_sim") >= threshold)
      .select(col("a.block").as("block"), col("a.id").as("id_a"),
        col("b.id").as("id_b"), col("cos_sim"))
  }
}
