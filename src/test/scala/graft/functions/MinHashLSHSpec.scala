package graft.functions

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class MinHashLSHSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)

  test("signature is deterministic and stable across runs") {
    val s1 = MinHashLSH.withSignature(docs.limit(20), "text", 4)
      .select("doc_id", "mh_0", "mh_3").collect().toSet
    val s2 = MinHashLSH.withSignature(docs.limit(20), "text", 4)
      .select("doc_id", "mh_0", "mh_3").collect().toSet
    assert(s1 == s2)
  }

  test("identical docs always collide in every band") {
    val base = docs.limit(5)
    val twin = base.withColumn("doc_id", col("doc_id") + 100000)
    val cand = MinHashLSH.candidatePairs(base.union(twin), "doc_id", "text",
      k = 8, bands = 4)._1.distinct()
    // each doc must pair with its identical twin (jaccard 1 ⇒ all bands equal)
    assert(cand.filter(col("id_b") === col("id_a") + 100000).count() == 5)
  }

  test("LSH candidates cover the exact high-Jaccard pairs (recall vs q81 ground truth)") {
    val tok = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("tok"))
    val truth = tok.as("a").join(tok.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", Dedup.jaccard(col("a.tok"), col("b.tok")))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cand = MinHashLSH.candidatePairs(docs, "doc_id", "text",
      k = 8, bands = 8, maxBucket = 10000)._1.distinct()
    val nTruth = truth.count()
    val covered = truth.join(cand, Seq("id_a", "id_b"), "left_semi").count()
    assert(nTruth > 1000, s"ground truth unexpectedly small: $nTruth")
    val recall = covered.toDouble / nTruth
    assert(recall >= 0.98, s"recall $recall = $covered/$nTruth")
  }

  test("banding is sub-quadratic on a diverse corpus (candidates ≈ within-group only)") {
    import spark.implicits._
    // 10 groups × 20 docs with disjoint vocabularies: cross-group jaccard = 0
    val diverse = (0 until 200).map { i =>
      val g = i / 20
      val words = (0 until 12).map(j => s"w${g}_${(i * 7 + j) % 30}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val allPairs = 200L * 199 / 2
    val withinGroup = 10L * (20L * 19 / 2)
    val cand = MinHashLSH.candidatePairs(diverse, "doc_id", "text",
      k = 8, bands = 4)._1.distinct().count()
    assert(cand <= withinGroup, s"cand=$cand crossed group boundaries")
    assert(cand < allPairs / 10, s"cand=$cand allPairs=$allPairs")
  }

  test("skewed corpus: one hot bucket is dropped entirely; candidate count " +
    "stays within the per-bucket quadratic bound") {
    import spark.implicits._
    // 400 identical docs (one degenerate bucket per band — all four buckets
    // are the same 400-doc set) + 100 diverse docs in 10 disjoint-vocab
    // groups of 10
    val hot = (0 until 400).map(i => (i.toLong, "the same exact document text"))
    val diverse = (0 until 100).map { i =>
      val g = i / 10
      (1000L + i, (0 until 12).map(j => s"v${g}_${(i * 7 + j) % 25}").mkString(" "))
    }
    val corpus = (hot ++ diverse).toDF("doc_id", "text")
    val cap = 50
    val bands = 4
    val cand = MinHashLSH.candidatePairs(corpus, "doc_id", "text",
      k = 8, bands = bands, maxBucket = cap)._1
    // the hot docs' buckets (size 400 > cap) are dropped in every band ⇒
    // zero pairs among hot ids — the m²/2 blowup never happens
    assert(cand.filter(col("id_a") < 1000L && col("id_b") < 1000L).count() == 0)
    // every surviving bucket has ≤ cap members ⇒ raw candidate multiset is
    // bounded by bands · cap²/2 per distinct bucket; with ≤10 diverse
    // vocab-groups the global bound bands · 10 · cap²/2 must hold
    val raw = cand.count()
    assert(raw <= bands.toLong * 10 * cap * (cap - 1) / 2,
      s"raw candidates $raw exceed the capped-bucket bound")
  }

  test("fixture corpus note: shared 31-term vocab makes most pairs collide — " +
    "maxBucket guard caps the blowup") {
    val capped = MinHashLSH.candidatePairs(docs, "doc_id", "text",
      k = 8, bands = 4, maxBucket = 50)._1.distinct().count()
    val uncapped = MinHashLSH.candidatePairs(docs, "doc_id", "text",
      k = 8, bands = 4, maxBucket = 100000)._1.distinct().count()
    assert(capped < uncapped)
  }

  test("bucket cap boundary: a band of exactly maxBucket docs keeps its " +
    "pairs, maxBucket + 1 docs yield none — MinHash and SimHash alike") {
    import spark.implicits._
    // both tiers cap through the one MinHashLSH.bandPairs; the oracle's
    // QUALIFY keeps a bucket iff its count ≤ cap. Identical texts share
    // every band, so group `at` fills each of its buckets to exactly the
    // cap and group `over` to one past it (disjoint vocabularies)
    val cap = 5
    val at = (0 until cap).map(i => (i.toLong, "alpha beta gamma delta"))
    val over = (0 to cap).map(i => (100L + i, "omega sigma kappa lambda"))
    val docs = (at ++ over).toDF("doc_id", "text")
    val atPairs = (for (a <- 0 until cap; b <- a + 1 until cap)
      yield (a.toLong, b.toLong)).toSet
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val minhash = pairSet(MinHashLSH.candidatePairs(docs, "doc_id", "text",
      k = 8, bands = 4, maxBucket = cap)._1)
    val simhash = pairSet(SimHash.nearDupPairs(docs, "doc_id", "text",
      maxBucket = cap))
    assert(minhash == atPairs, s"MinHash: $minhash")
    assert(simhash == atPairs, s"SimHash: $simhash")
  }

  test("MinHashBands expression is byte-identical to the Column formulation") {
    // the codegen'd one-pass expression must reproduce the exact band
    // strings of bandKeys(withSignature(...)) — the strings the q85/q94
    // oracles rebuild in SQL — including multi-space/empty-token edges
    import spark.implicits._
    val edge = Seq((100001L, "solo"), (100002L, ""), (100003L, "a  b"),
      (100004L, "dup dup dup tok")).toDF("doc_id", "text")
    val sample = docs.limit(50).select("doc_id", "text").union(edge)
    val viaExpr = sample.select(col("doc_id"),
      explode(graft.expressions.MinHashBands.bandKeys(col("text"), 8, 4))
        .as("band"))
    val viaCols = MinHashLSH.withSignature(sample, "text", 8)
      .select(col("doc_id"),
        explode(array(MinHashLSH.bandKeys(8, 4): _*)).as("band"))
    assert(viaExpr.collect().toSet == viaCols.collect().toSet)
    assert(viaExpr.count() == 54 * 4)
  }
}
