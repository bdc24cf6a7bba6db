package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class CurationPipelineSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)
  private val cfg = CurationPipeline.Config()

  test("stages only shrink and stats are monotone") {
    val r = CurationPipeline.run(docs, cfg)
    val s = r.stats
    assert(s("input") == 500)
    assert(s("after_quality") <= s("input"))
    assert(s("after_exact_dedup") <= s("after_quality"))
    assert(s("after_near_dedup") <= s("after_exact_dedup"))
    assert(r.curated.count() == s("after_near_dedup"))
    assert(r.curated.count() > 0)
  }

  test("collectStats runs the expensive stages once: source scanned exactly one time") {
    // a nondeterministic always-true probe filter cannot be pushed down,
    // eliminated, or collapsed — the accumulator counts exactly one
    // increment per row per execution of the scan→gate prefix
    val acc = spark.sparkContext.longAccumulator("sourceRows")
    val probe = udf { (_: Long) => acc.add(1); true }.asNondeterministic()
    val probed = docs.filter(probe(col("doc_id")))
    val r = CurationPipeline.run(probed, cfg)
    assert(r.stats("input") == 500)
    // old implementation: 4 count() actions over uncached lineages scanned
    // the source ~6×; the observe+cache version must scan it exactly once
    assert(acc.value == 500L, s"source scanned ${acc.value / 500.0}x")
    // stats must agree with independently recomputed per-stage counts
    val gated = CurationPipeline.qualityGate(docs, cfg)
    val exact = CurationPipeline.exactDedup(gated, cfg)
    val near = CurationPipeline.nearDedup(exact, cfg)._1
    assert(r.stats("after_quality") == gated.count())
    assert(r.stats("after_exact_dedup") == exact.count())
    assert(r.stats("after_near_dedup") == near.count())
    assert(r.curated.count() == r.stats("after_near_dedup"))
  }

  test("release() drops the near-dedup cache; collectStats=false caches " +
    "the exact-dedup prefix lazily and release() frees it") {
    val sc = spark.sparkContext
    // hermetic baseline: an earlier suite in the same session may have
    // cached the SAME plans (q97 runs this pipeline on these docs), and
    // cacheQuery would then no-op against the pre-counted entry — clear
    // both cache layers so the +1/-1 block accounting below is exact
    graft.functions.Checkpoints.sweep(spark, blocking = true)
    val before = sc.getPersistentRDDs.size
    val r = CurationPipeline.run(docs, cfg)
    r.curated.count()
    // run() unpersists `exact` itself; exactly the near-dedup cache remains
    assert(sc.getPersistentRDDs.size == before + 1,
      s"expected one resident cache, got ${sc.getPersistentRDDs.size - before}")
    r.release()
    assert(sc.getPersistentRDDs.size == before,
      "near-dedup cache still resident after release()")
    // no-stats path: the exact-dedup prefix cache and the LSH banded
    // checkpoint are LAZY — building the pipeline may REGISTER them (the
    // banded lazy localCheckpoint physical-plans its frame, which also
    // registers the cached prefix's buffer entry), but nothing computes
    // and no block holds a byte until the caller's first action — the
    // contract that matters for a lazy run. release() then frees both.
    def residentBytes: Long = sc.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val lazyRun = CurationPipeline.run(docs, cfg, collectStats = false)
    assert(residentBytes == 0L,
      s"lazy run materialized blocks before any action: $residentBytes B")
    lazyRun.curated.count()
    // two resident frames after materializing (round 13): the exact-dedup
    // prefix cache AND the LSH banded-signature checkpoint (the narrow
    // banded rows, so the signature pass runs once, not three times) —
    // release() must free BOTH
    assert(sc.getPersistentRDDs.size == before + 2,
      "exact-dedup prefix + LSH banded caches should be resident after " +
        s"materializing, got ${sc.getPersistentRDDs.size - before}")
    assert(residentBytes > 0L)
    lazyRun.release()
    assert(residentBytes == 0L,
      "pipeline caches still hold blocks after release()")
  }

  test("annotations present with sane domains") {
    val r = CurationPipeline.run(docs, cfg, collectStats = false)
    assert(Seq("n_tokens", "quality", "fingerprint")
      .forall(r.curated.columns.contains))
    assert(r.curated.filter(col("quality") < cfg.minQuality).count() == 0)
    assert(r.curated.filter(col("n_tokens") <= 0).count() == 0)
  }

  test("injected exact duplicates are removed, survivor is min id") {
    val withDups = docs.limit(10)
      .union(docs.limit(10).withColumn("doc_id", col("doc_id") + 100000))
    val out = CurationPipeline.run(withDups, cfg).curated
    assert(out.filter(col("doc_id") >= 100000).count() == 0)
    assert(out.count() <= 10)
  }

  test("pipeline is idempotent: re-running on curated output is a no-op on counts") {
    val once = CurationPipeline.run(docs, cfg).curated
      .drop("n_tokens", "quality", "fingerprint")
    val twice = CurationPipeline.run(once, cfg).curated
    assert(twice.count() == once.count())
  }

  test("optional round-4 stages: default config is byte-identical (off)") {
    val plain = CurationPipeline.run(docs, cfg, collectStats = false).curated
    assert(!plain.columns.contains("split"))
    // explicit off-config equals default
    val off = CurationPipeline.run(docs,
      cfg.copy(scrubPii = false, maxDupBp = None, split = None),
      collectStats = false).curated
    assert(off.collect().toSet == plain.collect().toSet)
  }

  test("repetition gate drops exactly the docs above the dup-3-gram threshold") {
    import graft.functions.TextFunctions
    val gated = CurationPipeline.repetitionGate(docs, cfg.copy(maxDupBp = Some(0)))
    // survivors all have zero duplicate 3-grams
    val g = TextFunctions.wordNgramsAll(col("text"), 3)
    val bad = gated.filter(size(g) =!= size(array_distinct(g)))
    assert(bad.count() == 0)
    // and the gate is not vacuous on the fixture (33 docs have dup 3-grams
    // at sf0.001 — measured by the q99 oracle)
    assert(gated.count() < docs.count())
    assert(docs.count() - gated.count() == 33)
  }

  test("scrub stage redacts before dedup so PII variants of one doc collide") {
    import spark.implicits._
    // same doc content, differing only in the embedded email → after scrub
    // they are exact duplicates and one is dropped
    val pair = Seq(
      (1L, "the quick brown fox contacted a@x.io for details details details"),
      (2L, "the quick brown fox contacted b@y.org for details details details"))
      .toDF("doc_id", "text")
    val noScrub = CurationPipeline.run(pair,
      cfg.copy(minQuality = 0.0), collectStats = false).curated
    assert(noScrub.count() == 2)
    val scrubbed = CurationPipeline.run(pair,
      cfg.copy(minQuality = 0.0, scrubPii = true), collectStats = false).curated
    assert(scrubbed.count() == 1)
    assert(scrubbed.select("doc_id").first().getLong(0) == 1L)  // min id wins
    assert(!scrubbed.select("text").first().getString(0).contains("@"))
  }

  test("split annotation labels every curated doc, stable across runs") {
    val r = CurationPipeline.run(docs, cfg.copy(split = Some((0.8, 0.1))),
      collectStats = false).curated
    assert(r.columns.contains("split"))
    val labels = r.groupBy("split").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(labels.keySet.subsetOf(Set("train", "val", "test")))
    assert(labels.values.sum == r.count())
    val again = CurationPipeline.run(docs, cfg.copy(split = Some((0.8, 0.1))),
      collectStats = false).curated
    assert(again.select("doc_id", "split").collect().toSet ==
      r.select("doc_id", "split").collect().toSet)
  }
}
