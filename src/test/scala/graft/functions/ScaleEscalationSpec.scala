package graft.functions

import graft.SparkSpec
import graft.operators.{CorpusQueries, JoinQueries, MiningQueries, ScalarQueries}

/** The documented extreme-scale swaps (SCALE.md) as FORCED code paths:
  * a synthetic 1-byte threshold drives the escalated branch over the
  * real sf0.001 fixture and pins equivalence against the default branch
  * — exact for ScalableRank (the swap may flip implicitly), an rsd band
  * for Hll (the swap is an explicit opt-in because values change).
  */
class ScaleEscalationSpec extends SparkSpec {

  private val fixtureDir = "/root/testdata/sf0.001"

  private def withConf[A](key: String, value: String)(body: => A): A = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  test("escalate() reads plan-estimated size against the conf'd " +
    "threshold (metadata only) and defaults per key") {
    import spark.implicits._
    val df = (1 to 10).map(i => (i, s"v$i")).toDF("id", "v")
    // any non-empty frame has positive estimated bytes
    assert(Escalation.planBytes(df) > 0)
    assert(!Escalation.escalate(df, Escalation.RankEscalateBytesKey,
      Long.MaxValue))
    assert(Escalation.escalate(df, Escalation.RankEscalateBytesKey, 1L))
    // conf overrides the default in both directions
    withConf(Escalation.RankEscalateBytesKey, "1") {
      assert(Escalation.escalate(df, Escalation.RankEscalateBytesKey,
        Long.MaxValue))
    }
    withConf(Escalation.RankEscalateBytesKey, Long.MaxValue.toString) {
      assert(!Escalation.escalate(df, Escalation.RankEscalateBytesKey, 1L))
    }
    // distinct NEVER escalates unless conf'd (value-changing swap)
    assert(!Escalation.escalateDistinct(df))
    // a malformed threshold fails with the conf key named, not a bare
    // NumberFormatException from somewhere inside a query plan
    val e = withConf(Escalation.RankEscalateBytesKey, "lots") {
      intercept[IllegalArgumentException] {
        Escalation.escalate(df, Escalation.RankEscalateBytesKey, 1L)
      }
    }
    assert(e.getMessage.contains(Escalation.RankEscalateBytesKey))
  }

  test("q211: the ScalableRank branch emits EXACTLY the window branch's " +
    "rows, and actually runs bucketed (the __ib sub-bucket key)") {
    val exact = CorpusQueries.q211_vocab_growth(spark, fixtureDir)
    val exactRows = exact.collect().map(_.toSeq).toSeq
    assert(!exact.queryExecution.executedPlan.toString.contains("__ib"),
      "default branch must stay the plain window")
    withConf(Escalation.RankEscalateBytesKey, "1") {
      val esc = CorpusQueries.q211_vocab_growth(spark, fixtureDir)
      val escRows = esc.collect().map(_.toSeq).toSeq
      assert(escRows == exactRows,
        "ScalableRank escalation must be exact (same rows, same order)")
      assert(esc.queryExecution.executedPlan.toString.contains("__ib"),
        "escalated branch must rank through the id-range sub-buckets")
    }
  }

  test("confDouble/confInt: defaults, overrides, and named-key failures") {
    assert(Escalation.confDouble(spark, Geo.CellDegKey, 0.1) == 0.1)
    withConf(Geo.CellDegKey, "0.025") {
      assert(Escalation.confDouble(spark, Geo.CellDegKey, 0.1) == 0.025)
    }
    val eD = withConf(Geo.CellDegKey, "fine") {
      intercept[IllegalArgumentException] {
        Escalation.confDouble(spark, Geo.CellDegKey, 0.1)
      }
    }
    assert(eD.getMessage.contains(Geo.CellDegKey))
    assert(Escalation.confInt(spark, Escalation.FuzzyBlockWidthKey, 3) == 3)
    val eI = withConf(Escalation.FuzzyBlockWidthKey, "wide") {
      intercept[IllegalArgumentException] {
        Escalation.confInt(spark, Escalation.FuzzyBlockWidthKey, 3)
      }
    }
    assert(eI.getMessage.contains(Escalation.FuzzyBlockWidthKey))
  }

  test("bcastIfSmall hints a broadcast up to exactly 1,000,000 rows; " +
    "one more row or an unknown count (-1) plans no hint") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val df = spark.range(3).toDF("id")
    def hinted(rows: Long): Boolean =
      Escalation.bcastIfSmall(df, rows).queryExecution.analyzed match {
        case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
        case _ => false
      }
    assert(hinted(0L))
    assert(hinted(1000000L))
    assert(!hinted(1000001L))
    assert(!hinted(-1L))
  }

  test("q139: a finer geo grid emits EXACTLY the default grid's rows " +
    "(the sf1 density knob is output-invariant)") {
    val dflt = ScalarQueries.q139_geo_cell_join(spark, fixtureDir)
    val dfltRows = dflt.collect().map(_.toSeq).toSeq
    assert(!dflt.queryExecution.executedPlan.toString.contains("0.025"),
      "default branch must stay on the 0.1-degree grid")
    withConf(Geo.CellDegKey, "0.025") {
      val fine = ScalarQueries.q139_geo_cell_join(spark, fixtureDir)
      assert(fine.queryExecution.executedPlan.toString.contains("0.025"),
        "the knob must reach the cell quantization")
      assert(fine.collect().map(_.toSeq).toSeq == dfltRows,
        "finer grid + covering ring must be exact (same rows, same order)")
    }
  }

  test("q151: the degree-oriented branch emits EXACTLY the id-oriented " +
    "branch's triangle counts") {
    val dflt = ScalarQueries.q151_triangle_count(spark, fixtureDir)
    val dfltRows = dflt.collect().map(_.toSeq).toSeq
    // the degree-ordered operator's wedge-rank attributes (dx/dy) are the
    // branch fingerprint that survives projection collapse
    assert(!dflt.queryExecution.executedPlan.toString.contains("dx#"),
      "default branch must stay id-oriented (no degree attach)")
    withConf(Escalation.TriangleEscalateBytesKey, "1") {
      val esc = ScalarQueries.q151_triangle_count(spark, fixtureDir)
      assert(esc.queryExecution.executedPlan.toString.contains("dx#"),
        "escalated branch must route through the degree-ordered operator")
      assert(esc.collect().map(_.toSeq).toSeq == dfltRows,
        "degree orientation must be exact (same rows, same order)")
    }
  }

  test("q145/q163: narrower blocking widths emit EXACTLY the default " +
    "width's rows (output is knob-invariant while the key is valid)") {
    val dflt = JoinQueries.q145_fuzzy_match(spark, fixtureDir)
    val dfltRows = dflt.collect().map(_.toSeq).toSeq
    val ccDflt = MiningQueries.q163_entity_clusters(spark, fixtureDir)
      .collect().map(_.toSeq).toSeq
    for (w <- Seq("1", "2")) withConf(Escalation.FuzzyBlockWidthKey, w) {
      val narrow = JoinQueries.q145_fuzzy_match(spark, fixtureDir)
      assert(narrow.queryExecution.executedPlan.toString
          .contains(s"${10 - w.toInt}, $w)"),
        s"width $w must reach the dirty-side blocking key")
      assert(narrow.collect().map(_.toSeq).toSeq == dfltRows,
        s"width $w: coarser blocks are a candidate superset; the exact " +
          "residual must keep the output identical")
    }
    withConf(Escalation.FuzzyBlockWidthKey, "1") {
      assert(MiningQueries.q163_entity_clusters(spark, fixtureDir)
          .collect().map(_.toSeq).toSeq == ccDflt,
        "the ER clustering downstream of the knob must be invariant too")
    }
    // widths past the perturbation model's stable suffix are rejected
    // with the knob named, not silently wrong
    val e = withConf(Escalation.FuzzyBlockWidthKey, "4") {
      intercept[IllegalArgumentException] {
        JoinQueries.q145_fuzzy_match(spark, fixtureDir)
      }
    }
    assert(e.getMessage.contains(Escalation.FuzzyBlockWidthKey))
  }

  test("q186: the Hll branch matches the exact tier's total_grams " +
    "exactly and its uniq_grams within the p=12 rsd band") {
    def byKey(rows: Array[org.apache.spark.sql.Row])
    : Map[(String, Long), (Long, Long)] =
      rows.map(r => (r.getString(0), r.getAs[Long]("n")) ->
        (r.getAs[Long]("total_grams"), r.getAs[Long]("uniq_grams"))).toMap
    val exact = byKey(
      CorpusQueries.q186_distinct_ngrams(spark, fixtureDir).collect())
    val esc = withConf(Escalation.DistinctEscalateBytesKey, "1") {
      byKey(CorpusQueries.q186_distinct_ngrams(spark, fixtureDir).collect())
    }
    assert(esc.keySet == exact.keySet)
    exact.foreach { case (k, (total, uniq)) =>
      val (escTotal, escUniq) = esc(k)
      assert(escTotal == total, s"$k: total_grams must stay exact")
      // 1.04/sqrt(4096) ~ 1.6% rsd; allow ~4 sigma plus small-count slack
      val tol = math.max(uniq * 0.065, 16.0)
      assert(math.abs(escUniq - uniq) <= tol,
        s"$k: Hll estimate $escUniq vs exact $uniq exceeds band ±$tol")
    }
  }
}
