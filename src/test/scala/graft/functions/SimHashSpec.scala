package graft.functions

import graft.{SparkSpec, Tables}
import graft.expressions.SimHash60
import org.apache.spark.sql.functions._

class SimHashSpec extends SparkSpec {
  import spark.implicits._

  test("identical texts get identical fingerprints; hamming 0") {
    val df = Seq(
      (1L, "scan filter join window sort"),
      (2L, "scan filter join window sort"),
      (3L, "completely different words entirely here")).toDF("id", "text")
    val fp = df.select(col("id"), SimHash60.simhash60(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    val pairs = SimHash.nearDupPairs(df, "id", "text", maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)), pairs.mkString(","))
  }

  test("hamming distance is symmetric and zero on self") {
    val df = Seq((0x0FL, 0xF0L), (0xFFL, 0xFFL)).toDF("a", "b")
    val got = df.select(
      SimHash.hamming(col("a"), col("b")).as("ab"),
      SimHash.hamming(col("b"), col("a")).as("ba")).collect()
    assert(got(0).getInt(0) == 8 && got(0).getInt(0) == got(0).getInt(1))
    assert(got(1).getInt(0) == 0)
  }

  test("near-dup pairs find exact twins (dist 0) and nothing above maxDist") {
    val base = Tables.documents(spark, sfDir).limit(10)
    val twin = base.withColumn("doc_id", col("doc_id") + 100000)
    val pairs = SimHash.nearDupPairs(base.union(twin), "doc_id", "text", maxDist = 3)
    assert(pairs.filter(col("id_b") === col("id_a") + 100000 &&
      col("dist") === 0).count() == 10)
    assert(pairs.filter(col("dist") > 3).count() == 0)
  }

  test("stress: hot fingerprint band (300 identical docs) is bucket-capped — " +
    "cost stays bounded, cold twins still found") {
    // 300 docs with IDENTICAL text → one fingerprint → 4 hot bands of 300.
    // Uncapped that is 300·299/2 ≈ 45k pairs from a bucket with zero
    // discriminating power; the cap drops those buckets before pairing.
    val hot = (0 until 300).map(i => (i.toLong, "the same exact duplicated text body"))
    val cold = Seq(
      (1000L, "unique cold document about spark planning"),
      (2000L, "unique cold document about spark planning"), // twin of 1000
      (3000L, "another entirely different subject matter here"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    val capped = SimHash.nearDupPairs(docs, "doc_id", "text",
      maxDist = 3, maxBucket = 50)
    val got = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot-bucket pairs are gone (that tier belongs to exact dedup)…
    assert(!got.exists { case (a, b) => a < 300 && b < 300 },
      s"hot-band pairs leaked through the cap: ${got.take(5)}")
    // …while the cold twin pair survives in its small bucket
    assert(got.contains((1000L, 2000L)), s"cold twin lost: $got")
    // and an uncapped run on the same corpus IS quadratic — the cap is
    // load-bearing, not decorative
    val uncapped = SimHash.nearDupPairs(docs, "doc_id", "text",
      maxDist = 3, maxBucket = Int.MaxValue).count()
    assert(uncapped >= 300L * 299 / 2, s"expected quadratic blowup, got $uncapped")
  }
}
