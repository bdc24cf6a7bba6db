package graft.operators

import graft.functions.{Dedup, MinHashLSH, Sampling, TextFunctions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the pipeline-orchestration layer the
  * north star asks for, composing the individual operators in the order a
  * real 100 TB curation funnel runs them — cheapest filters first so each
  * stage sees less data:
  *
  *   1. quality gate        (narrow projection — scan speed)
  *   2. exact dedup         (one shuffle on a digest)
  *   3. near-dup removal    (MinHash-LSH candidates + exact verify;
  *                           survivor = min doc id per dup cluster edge)
  *   4. annotate            (token counts, fingerprint, predicted lang)
  *
  * Every stage is a pure DataFrame→DataFrame function; `run` returns the
  * curated frame plus per-stage row counts for observability. Stats are
  * collected in a SINGLE execution of the expensive stages: the linear
  * prefix (scan → quality gate → exact dedup) is measured with
  * `Dataset.observe` metrics piggybacked on the one action that also
  * materializes the exact-dedup cache, and the LSH near-dedup output is
  * cached before its count — nothing upstream ever re-executes.
  * `collectStats=false` skips the counting actions and stays fully lazy,
  * but still registers a LAZY cache on the exact-dedup prefix (filled
  * during the caller's first action, shared by near-dedup's three
  * consumers, freed by `Result.release`).
  */
object CurationPipeline {

  /** Round-4 optional stages default OFF so the declared q97 funnel is
    * byte-identical with a default Config:
    *  - `scrubPii`: redact PII BEFORE any dedup (normalization must precede
    *    digesting, or the scrubbed and unscrubbed copies of one doc stop
    *    colliding);
    *  - `maxDupBp`: Gopher-style repetition gate (duplicate word-3-gram
    *    fraction in basis points, the q99 signal) applied after the
    *    quality gate — still a narrow scan-speed projection;
    *  - `split`: (trainFrac, valFrac) — annotate each surviving doc with
    *    its deterministic content-hash split label (the q73 signal).
    */
  case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      minQuality: Double = 0.5,
      stopwords: Seq[String] = Seq("join", "filter", "scan"),
      nearDupJaccard: Double = 0.9,
      minhashK: Int = 8,
      minhashBands: Int = 4,
      maxBucket: Int = 1000,
      scrubPii: Boolean = false,
      maxDupBp: Option[Int] = None,
      split: Option[(Double, Double)] = None)

  /** `release()` unpersists the pipeline cache that `curated` reads from
    * (the materialized near-dedup output with stats, the lazy exact-dedup
    * prefix without) — call it once the curated output has been
    * materialized/written, so long-lived sessions don't accumulate cached
    * DataFrames across pipeline invocations. Dropping the cache before
    * materializing is safe too: the frame recomputes.
    */
  case class Result(curated: DataFrame, stats: Map[String, Long],
                    release: () => Unit = () => ())

  def qualityGate(docs: DataFrame, cfg: Config): DataFrame =
    docs.filter(TextFunctions.qualityScore(col(cfg.textCol), cfg.stopwords)
      >= cfg.minQuality)

  /** redact PII in place (no-op unless configured) */
  def scrub(docs: DataFrame, cfg: Config): DataFrame =
    if (!cfg.scrubPii) docs
    else docs.withColumn(cfg.textCol,
      TextFunctions.scrubPii(col(cfg.textCol)))

  /** drop docs whose duplicate word-3-gram fraction exceeds `maxDupBp`
    * basis points (no-op unless configured) — the q99 repetition signal
    * as a gate; short docs (no 3-grams) pass
    */
  def repetitionGate(docs: DataFrame, cfg: Config): DataFrame =
    cfg.maxDupBp match {
      case None => docs
      case Some(maxBp) =>
        val g = TextFunctions.wordNgramsAll(col(cfg.textCol), 3)
        val ng = size(g); val nd = size(array_distinct(g))
        docs.filter(ng === 0 ||
          (ng - nd).cast("double") * 10000.0 / ng <= maxBp.toDouble)
    }

  def exactDedup(docs: DataFrame, cfg: Config): DataFrame =
    Dedup.exact(docs, cfg.idCol, Seq(cfg.textCol))

  /** Drop near-duplicates: LSH candidates verified by exact Jaccard; for
    * every verified pair the larger id loses (deterministic survivor rule,
    * transitively keeps at least one doc per duplicate cluster).
    *
    * Returns the survivors plus the release handle for the LSH stage's
    * internal banded-signature cache (freed by `run`'s Result.release /
    * stats path once the survivors are materialized; a caller that drops
    * the handle is covered by the harnesses' between-queries cache sweep).
    */
  def nearDedup(docs: DataFrame, cfg: Config): (DataFrame, () => Unit) = {
    // per-side RENAMED tok copies here, unlike q85/q94's alias form
    // (round 13, measured): the pipeline's tok reads the cached
    // exact-dedup prefix, so each broadcast build pays a cache decode —
    // with canonically identical children one build becomes a
    // ReusedExchange that WAITS on the other, serializing two ~0.4 s
    // builds that the renamed copies let the scheduler overlap
    // (q97 1.36 → 1.77 s with the alias form). q85/q94 read a cheap raw
    // scan instead, where computing the build once wins.
    val tok = docs.select(col(cfg.idCol).as("__id"),
      Dedup.tokenIds(col(cfg.textCol)).as("__tok"))
    val (cand, candRelease) = MinHashLSH.candidatePairs(
      docs, cfg.idCol, cfg.textCol,
      cfg.minhashK, cfg.minhashBands, cfg.maxBucket)
    val losers = cand
      .join(tok.select(col("__id").as("id_a"), col("__tok").as("tok_a")), "id_a")
      .join(tok.select(col("__id").as("id_b"), col("__tok").as("tok_b")), "id_b")
      .filter(Dedup.jaccardSortedIds(col("tok_a"), col("tok_b"))
        >= cfg.nearDupJaccard)
      .select(col("id_b").as(cfg.idCol))   // id_a < id_b: larger id loses
      .distinct()
    (docs.join(losers, Seq(cfg.idCol), "left_anti"), candRelease)
  }

  def annotate(docs: DataFrame, cfg: Config): DataFrame = {
    val base = docs
      .withColumn("n_tokens", TextFunctions.tokenCountWs(col(cfg.textCol)))
      .withColumn("quality",
        TextFunctions.qualityScore(col(cfg.textCol), cfg.stopwords))
      .withColumn("fingerprint", TextFunctions.fingerprint(col(cfg.textCol)))
    cfg.split match {
      case Some((train, valF)) => base.withColumn("split",
        Sampling.hashSplit(col(cfg.idCol), train, valF))
      case None => base
    }
  }

  def run(docs: DataFrame, cfg: Config = Config(),
          collectStats: Boolean = true): Result = {
    if (!collectStats) {
      // nearDedup consumes its input THREE times (LSH candidates, token
      // verify join, survivor anti-join); without a cache each consumer
      // re-runs the scan→quality→repetition→exact-dedup prefix — at
      // 100 TB that is two extra full-corpus gate evaluations. The lazy
      // cache fills during the first stage that touches it inside the
      // caller's one materializing action and is reused by the rest;
      // `release` frees it (and a between-queries Checkpoints.sweep
      // catches callers that never do).
      val exact = exactDedup(
        repetitionGate(qualityGate(scrub(docs, cfg), cfg), cfg), cfg).cache()
      val (near, candRelease) = nearDedup(exact, cfg)
      val out = annotate(near, cfg)
      return Result(out, Map.empty,
        release = () => { exact.unpersist(false); candRelease() })
    }
    // single-execution stats: observe() metrics ride along the one action
    // that materializes the exact-dedup cache, so the scan→gate→dedup
    // prefix runs exactly once; nearDedup then reads `exact` from cache in
    // all three of its branches (candidates, token join, anti-join)
    val obsInput = org.apache.spark.sql.Observation()
    val obsGated = org.apache.spark.sql.Observation()
    val gated = repetitionGate(qualityGate(
      scrub(docs, cfg).observe(obsInput, count(lit(1)).as("n")), cfg), cfg)
      .observe(obsGated, count(lit(1)).as("n"))
    val exact = exactDedup(gated, cfg).cache()
    val nExact = exact.count()                 // action #1: fills the cache
    val (near0, candRelease) = nearDedup(exact, cfg)
    val near = near0.cache()
    val nNear = near.count()                   // action #2: LSH runs once
    candRelease()  // near is materialized; the banded cache is done
    exact.unpersist()
    val out = annotate(near, cfg)
    Result(out, Map(
      "input" -> obsInput.get("n").asInstanceOf[Long],
      "after_quality" -> obsGated.get("n").asInstanceOf[Long],
      "after_exact_dedup" -> nExact,
      "after_near_dedup" -> nNear),
      release = () => { near.unpersist(false); () })
  }
}
