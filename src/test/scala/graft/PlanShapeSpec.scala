package graft

/** Physical-plan shape regressions: the scale properties a PlanDump shows
  * by eye, pinned as assertions — broadcast joins stay broadcast, pushdown
  * stays pushed, top-k stays TakeOrderedAndProject, quadratic paths stay
  * cartesian-free. A change that silently degrades one of these would pass
  * every value-correctness gate and still be wrong at 100 TB.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q11 multiway join: all five dim joins are broadcast-hash") {
    // customer/supplier are UNhinted since round 10 (they scale with sf);
    // at fixture scale Spark's size threshold still picks BHJ for them,
    // and at 100 TB the same plan degrades to a shuffle join, not an OOM
    val p = plan("q11_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5, p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("scaling-table joins carry no broadcast hint (the q92 rule): " +
    "customer/supplier/part broadcasts are threshold-chosen, never forced") {
    for (q <- Seq("q10_join_inner", "q15_join_theta", "q147_pareto",
        "q152_weighted_median")) {
      val op = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.optimizedPlan.toString
      assert(!op.contains("strategy=broadcast"),
        s"$q forces a broadcast on an sf-proportional table:\n${op.take(1200)}")
    }
    // q11 keeps hints ONLY on the cardinality-bounded dims (region 5 rows,
    // nation 25 rows): at most those two forced broadcasts may remain
    val op11 = SparkEntry.queries("q11_join_multiway")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert("strategy=broadcast".r.findAllIn(op11).size <= 2, op11.take(1500))
  }

  test("de-hinted join escalation (VERDICT r10 item 6): q10/q11/q15/q147/" +
    "q152 flip BHJ -> SMJ when the dim side exceeds the broadcast " +
    "thresholds, instead of OOMing on a forced broadcast") {
    // The r10 hint-drop left these joins threshold-chosen; this pins the
    // escalation with plan evidence. Growing the fixture dim past 10 MB
    // is not possible here, so the synthetic equivalent disables the
    // static AND adaptive broadcast thresholds — exactly the decision
    // Spark makes when the dim side outgrows them at 100 TB.
    val conf = spark.conf
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      keys.foreach(conf.set(_, "-1"))
      for (q <- Seq("q10_join_inner", "q15_join_theta", "q147_pareto",
          "q152_weighted_median")) {
        val p = plan(q)
        assert(!p.contains("BroadcastHashJoin"),
          s"$q still broadcasts with thresholds disabled — a hint crept " +
            s"back:\n${p.take(1200)}")
        assert(p.contains("SortMergeJoin"),
          s"$q lost its sort-merge escalation path:\n${p.take(1200)}")
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$q degenerated to a non-equi plan:\n${p.take(1200)}")
      }
      // q11: ONLY the two cardinality-bounded hinted dims (region 5 rows,
      // nation 25) may stay broadcast; every threshold-chosen join flips
      val p11 = plan("q11_join_multiway")
      assert("BroadcastHashJoin".r.findAllIn(p11).size <= 2, p11.take(1500))
      assert(p11.contains("SortMergeJoin"), p11.take(1500))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("q02 filter predicates are pushed into the parquet scan") {
    val p = plan("q02_filter_where")
    // toString elides the filter list tail — assert on the visible head
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(1500))
  }

  test("q20 aggregation is two-phase (partial + final HashAggregate)") {
    val p = plan("q20_agg_hash")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q05 global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val p = plan("q05_topk_global")
    assert(p.contains("TakeOrderedAndProject"), p.take(1000))
  }

  test("q129 binned range join plans as an equi-join, not a nested loop") {
    val p = plan("q129_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q139 spatial cell join plans as an equi-join, not a cartesian") {
    val p = plan("q139_geo_cell_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q82 KNN broadcasts the probe side") {
    val p = plan("q82_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("near-dup pipelines never plan a cartesian product") {
    Seq("q81_sim_jaccard", "q85_dedup_minhash_lsh", "q86_dedup_ngram",
      "q87_dedup_embcos", "q94_dedup_lsh_lang").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
    }
  }

  test("q85/q94/q96 bucket cap is a two-phase band count + anti join on " +
    "the overflow set — NOT a Window that would buffer the hot bucket") {
    Seq("q85_dedup_minhash_lsh", "q94_dedup_lsh_lang", "q96_dedup_simhash")
      .foreach { q =>
        val p = plan(q)
        // the cap survives as an aggregate on the band key feeding a
        // LeftAnti join against the (near-empty, AQE-broadcastable)
        // overflow bands; partial aggregation collapses the hot bucket
        // map-side where the old Window shipped it whole to one task
        assert(p.contains("bucket_n"), s"$q lost the bucket cap: ${p.take(1200)}")
        assert(p.contains("LeftAnti"), s"$q cap is not an anti join: ${p.take(1200)}")
        assert(!p.contains("Window"),
          s"$q still caps via a single-task Window: ${p.take(1200)}")
      }
  }

  test("q92 does not force-broadcast the vocabulary df table (unbounded aggregate)") {
    val qe = SparkEntry.queries("q92_text_tfidf")(spark, sfDir).queryExecution
    val hints = "strategy=broadcast".r
      .findAllIn(qe.optimizedPlan.toString).size
    // exactly one broadcast hint survives: the 1-row corpus-count aggregate
    // on the cross join. The term-keyed docFreq join must carry none — at
    // web scale that side is vocabulary-cardinality and AQE has to be free
    // to pick a shuffle join.
    assert(hints <= 1, s"forced broadcast crept back into q92:\n" +
      qe.optimizedPlan.toString.take(1500))
  }

  test("q24 grouping sets / q23 cube lower to a single Expand, not N passes") {
    Seq("q24_agg_grouping_sets", "q23_agg_cube", "q176_event_rollup")
      .foreach { q =>
      val p = plan(q)
      assert("Expand".r.findAllIn(p).size == 1, s"$q: ${p.take(1200)}")
    }
  }

  test("q45 pivot is one conditional-aggregation pass, no join or repeated scans") {
    val p = plan("q45_pivot")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200)) // partial+final
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("q173 event pivot is one conditional-aggregation pass over one scan") {
    val p = plan("q173_event_pivot")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("q46 correlated subqueries de-correlate: no cartesian, joins only") {
    val p = plan("q46_subquery")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("Join"), p.take(1500))
  }

  test("q58 decimal aggregation is two-phase like its double twin") {
    val p = plan("q58_decimal_money")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1200))
  }

  test("q59 geo query is a pure narrow projection over one scan (no shuffle before sort)") {
    val p = plan("q59_geo_distance")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1200))
    assert(!p.contains("Join"), p.take(1200))
  }

  test("q01/q20 scans read only the referenced columns (pruning)") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      p.take(1200))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB shape: a selective dim filter should reach the fact scan
    // as a runtime bloom filter (Spark's runtime row-level filtering), so
    // the shuffle carries only might-match fact rows. Thresholds lowered so
    // fixture-scale data trips the same rewrite a real fact table would.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      val fact = Tables.lineitem(spark, sfDir)
      val dim = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000)
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("bloom_filter_agg"), opt.take(1500))
      assert(opt.contains("might_contain"), opt.take(1500))
      // values unchanged by the filter injection
      val expected = fact.join(dim.hint("broadcast"),
        col("l_orderkey") === col("o_orderkey")).count()
      assert(j.count() == expected)
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("pre-bucketed documents layout: LSH verify joins go shuffle-free on the tok side") {
    // the 100 TB near-dup layout (SURVEY §7.6): documents bucketed by
    // doc_id pay the exchange ONCE at write time; every verify join after
    // candidate generation then meets the bucketed side without a shuffle
    import graft.functions.{Dedup, MinHashLSH}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    def verifyStage(docs: DataFrame): DataFrame = {
      // the exact q94 verify shape: candidates → join tok(id_a) → join tok(id_b)
      val cand = MinHashLSH.candidatePairs(docs, "doc_id", "text",
        k = 8, bands = 4, maxBucket = 200, blockCols = Seq("lang"))._1
      val tok = docs.select(col("doc_id"), Dedup.tokenIds(col("text")).as("tok"))
      cand
        .join(tok.select(col("doc_id").as("id_a"), col("tok").as("tok_a")), "id_a")
        .join(tok.select(col("doc_id").as("id_b"), col("tok").as("tok_b")), "id_b")
        .withColumn("jaccard_raw", Dedup.jaccardSortedIds(col("tok_a"), col("tok_b")))
        .filter(col("jaccard_raw") >= 0.8)
        .select(col("id_a"), col("id_b"))
    }
    graft.sources.Sources.writeBucketed(
      Tables.documents(spark, sfDir), "documents_b", "doc_id", 4)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val flat = verifyStage(Tables.documents(spark, sfDir))
      val bucketed = verifyStage(spark.table("documents_b"))
      def exchanges(df: DataFrame): Int =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      // both tok-side exchanges elide on the bucketed copy
      assert(exchanges(bucketed) <= exchanges(flat) - 2,
        s"bucketed=${exchanges(bucketed)} flat=${exchanges(flat)}")
      // same answer either way
      assert(bucketed.collect().toSet == flat.collect().toSet)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS documents_b")
    }
  }

  test("q101 contamination: eval grams broadcast, training side one agg pass") {
    val p = plan("q101_contamination")
    // the eval-set join must be a broadcast (benchmark suites are small by
    // construction) and total+hit counts come from ONE aggregation pair
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    val finalAggs = "HashAggregate \\(keys=\\[doc_id".r.findAllIn(p).size
    assert(finalAggs <= 2, s"training side re-aggregated:\n${p.take(1500)}")
  }

  test("q106 line dedup never force-broadcasts the boilerplate chunk set") {
    val qe = SparkEntry.queries("q106_line_dedup")(spark, sfDir).queryExecution
    // boilerplate chunks are vocabulary-cardinality (the q92 rule): no
    // broadcast hint may be attached to that join input
    assert(!qe.optimizedPlan.toString.contains("strategy=broadcast"),
      qe.optimizedPlan.toString.take(1500))
  }

  test("q103 normalization / q107 classifier stay whole-stage codegen'd " +
    "scan-side (no CodegenFallback in the projection)") {
    for (q <- Seq("q103_text_normalize", "q107_quality_classifier")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect() // finalize the adaptive plan so codegen spans are visible
      val p = df.queryExecution.executedPlan.toString
      // "*(n)" prefixes mark WholeStageCodegen spans in the final plan
      assert(p.contains("*("), s"$q lost codegen:\n${p.take(1200)}")
      assert(!p.contains("CodegenFallback"), s"$q projection fell back:\n" +
        p.take(1200))
    }
  }

  test("q102 sequence packing is a single shuffle (window and agg share the " +
    "lang partitioning)") {
    val p = plan("q102_seq_pack")
    val exchanges = "Exchange hashpartitioning\\(lang".r.findAllIn(p).size
    assert(exchanges == 1,
      s"expected one lang exchange reused by window+agg, got $exchanges:\n" +
        p.take(1500))
  }

  test("q104/q105 shard + mix reports are two-phase aggregations " +
    "(map-side partials absorb the token fan-out)") {
    for (q <- Seq("q104_shard_assign", "q105_domain_mix")) {
      val p = plan(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q not two-phase")
    }
  }

  test("q111/q113 model-count joins carry only the 1-row totals broadcast " +
    "(vocabulary tables stay unhinted)") {
    // the bigram/unigram count tables grow with the corpus vocabulary —
    // a forced broadcast there OOMs at web scale (the q92 rule). Only
    // q113's 1-row corpus-total aggregate may carry a hint.
    for ((q, allowed) <- Seq("q111_lm_bigram_score" -> 0,
      "q113_source_divergence" -> 1)) {
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      val hints = "strategy=broadcast".r
        .findAllIn(qe.optimizedPlan.toString).size
      assert(hints <= allowed,
        s"$q: $hints forced broadcasts (allowed $allowed):\n" +
          qe.optimizedPlan.toString.take(1200))
    }
  }

  test("q116 temperature mix scans the corpus exactly once " +
    "(totals via window over the aggregated frame, not crossJoin re-eval)") {
    val p = plan("q116_mix_temperature")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1500))
    assert(!p.contains("NestedLoopJoin"), p.take(1500))
  }

  test("q117 span masking is one generate + one reassembly aggregation " +
    "(no second window for token order)") {
    val p = plan("q117_span_mask")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    // two-phase: partial collect_list absorbs the token fan-out map-side
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q118 PII redaction is a scan-speed projection: one scan, no " +
    "exchange below the output sort") {
    val p = plan("q118_pii_redact")
    assert("Scan parquet".r.findAllIn(p).size == 1, p.take(1500))
    // the only exchange is the ORDER BY's rangepartitioning, and there is
    // none when the result is small enough to sort in one task
    // (SmallFinalSort)
    assert(!p.contains("hashpartitioning"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("q119/q120 funnel + retention shuffle only on user_id and the " +
    "final group key — no cartesian, no nested-loop join") {
    Seq("q119_event_funnel", "q120_cohort_retention").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(1200)}")
    }
  }

  test("q121 transition matrix is one window pass + two-phase agg") {
    val p = plan("q121_event_transitions")
    assert("Window".r.findAllIn(p).size == 1, p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q124/q126 sequence analytics: one window pass, no self-join") {
    Seq("q124_time_weighted_avg", "q126_attribution").foreach { q =>
      val p = plan(q)
      assert("Window".r.findAllIn(p).size == 1, s"$q: ${p.take(1200)}")
      assert(!p.contains("Join"), s"$q must not self-join: ${p.take(1200)}")
    }
  }

  test("q125 DQ screen: same-table rules fuse — exactly one scan per table") {
    val p = plan("q125_dq_checks")
    // 6 scans: lineitem, orders x2 (pk + fk sides), customer, events, documents
    assert("Scan parquet".r.findAllIn(p).size == 6, p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q160 item similarity: the basket self-join is an equi-join with " +
    "the query-item predicate inside it — no cartesian") {
    val p = plan("q160_item_cooccur_sim")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q160 query-item predicate reaches the scan and the basket join " +
    "builds on the filtered query side") {
    val df = SparkEntry.queries("q160_item_cooccur_sim")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // the % 100 filter must be a scan-level DataFilter (a materialization
    // barrier above the scan would swallow it — the round-5 regression)
    assert("DataFilters: \\[[^\\]]*% 100\\) = 0".r.findFirstIn(p).isDefined,
      s"query-item filter not pushed to the scan:\n${p.take(2000)}")
    // the order-key basket join must build its hash relation on the
    // filtered (1%) side, never the full corpus incidence
    val basketJoin =
      "BroadcastHashJoin \\[o#\\d+L\\], \\[o#\\d+L\\], Inner, Build(Left|Right)".r
    basketJoin.findFirstMatchIn(p) match {
      case Some(m) => assert(m.group(1) == "Left",
        s"basket join builds on the corpus side:\n${p.take(2000)}")
      case None => // AQE picked a shuffle join — fine, no build side to pin
    }
  }

  test("q164 kNN vote: probe side broadcast, cosine through the codegen " +
    "dot product") {
    val p = plan("q164_knn_label_vote")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(1500))
    assert(p.contains("dot_product_d"), p.take(1500))
  }

  test("q165 grid stencil: the 9-offset kernel joins broadcast, the " +
    "smoothed re-agg is two-phase") {
    val p = plan("q165_grid_density")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(1500))
  }

  test("q33 distribution window partitions the corpus by (priority, price " +
    "bucket), never by the 5-value priority alone") {
    val p = plan("q33_window_ntile")
    // the corpus-sized row_number window must carry the bucket key — a
    // priority-only partitioning sorts 20% of all orders in one task
    assert(
      "windowspecdefinition\\(o_orderpriority#\\d+, bkt#\\d+L".r
        .findFirstIn(p).isDefined,
      s"corpus window lost the bucket key:\n${p.take(1500)}")
    // ntile/percent_rank/cume_dist must be arithmetic, not window funcs
    assert(!p.contains("ntile("), p.take(1500))
    assert(!p.contains("percent_rank("), p.take(1500))
    assert(!p.contains("cume_dist("), p.take(1500))
  }

  test("q174 ECDF corpus window carries (value, id-sub-bucket) keys — " +
    "point-mass-safe ranking (ScalableRank)") {
    val p = plan("q174_value_ecdf")
    assert(
      "windowspecdefinition\\(event_type#\\d+, cents#\\d+L, __ib#\\d+L".r
        .findFirstIn(p).isDefined,
      s"corpus window lost the sub-bucket keys:\n${p.take(1500)}")
  }

  test("q27/q136 exact percentiles carry no ObjectHashAggregate buffer " +
    "(histogram + crossing rule, two-phase hash agg only)") {
    // percentile()'s ObjectAggregation buffer holds every distinct value of
    // a group on one executor — the rewrite must keep both plans on
    // spillable HashAggregates over the (group, value) histogram.
    Seq("q27_agg_percentile", "q136_robust_stats").foreach { q =>
      val p = plan(q)
      assert(!p.contains("ObjectHashAggregate"),
        s"$q regressed to an object aggregation buffer: ${p.take(1500)}")
      assert(!p.contains("SortAggregate"),
        s"$q fell back to SortAggregate: ${p.take(1500)}")
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q: ${p.take(1200)}")
    }
  }

  test("q161/q162 path + EWMA mining stay self-join-free on the log " +
    "(windows on one partitioning, bounded final state)") {
    Seq("q161_path_trigrams", "q162_ewma").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
      assert(!p.contains("SortMergeJoin"), s"$q must not self-join the log: ${p.take(1200)}")
    }
  }

  test("q177 span dedup coalesces regions by interval union, not a " +
    "per-position explode (windows ≈ tokens stays the volume bound)") {
    val p = plan("q177_span_dedup")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the rejected formulation: explode(sequence(start, end)) → W× rows
    assert(!p.contains("sequence("), s"per-position explode crept in: ${p.take(1500)}")
    // region coalescing runs per doc — a window partitioned by doc_id
    assert("windowspecdefinition\\(doc_id#\\d+".r.findFirstIn(p).isDefined,
      p.take(1500))
  }

  test("q178 quota sample: corpus-sized running sums are keyed (lang, " +
    "sub-bucket), never lang alone (the q33-family 5-task trap)") {
    val qe = SparkEntry.queries("q178_quota_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the corpus-sized windows (ordered by hk) must carry the sub-bucket
    val corpusWindows =
      "windowspecdefinition\\((lang#\\d+[^)]*?)hk#\\d+L".r
        .findAllMatchIn(qe).map(_.group(1)).toList
    assert(corpusWindows.nonEmpty, qe.take(1500))
    corpusWindows.foreach { partSpec =>
      assert(partSpec.contains("b#"),
        s"corpus-sized window partitioned by lang alone: $partSpec\n${qe.take(1500)}")
    }
  }

  test("q179 dup-rate report broadcasts the cluster map into one corpus scan") {
    val p = plan("q179_dup_rate_by_source")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q180 dup-span share is scan + digest agg + per-doc agg, all two-phase") {
    val p = plan("q180_dup_span_share")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(!p.contains("Window"), s"q180 needs no window function: ${p.take(1500)}")
  }

  test("q181 DSIR: the 1024-row bucket-weight table joins back by " +
    "broadcast-hash — the corpus bigram scan never shuffles for it") {
    val p = plan("q181_dsir_weight")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q182 novelty is two linear digest-keyed passes, no cartesian") {
    val p = plan("q182_ngram_novelty")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q183 target encoding: one per-user two-phase agg + broadcast " +
    "1-row prior; no sort-merge join anywhere") {
    val p = plan("q183_target_encode")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q184 Benford: single scan, two-phase 9-group agg, no join") {
    val p = plan("q184_benford")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(!p.contains("Join"), s"q184 needs no join: ${p.take(1500)}")
  }

  test("q185 weighted shortest paths: cell-blocked edge build, no " +
    "cartesian anywhere in the relaxation") {
    val p = plan("q185_shortest_path")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q186 distinct-n: exact distinct plans two-phase, no join") {
    val p = plan("q186_distinct_ngrams")
    assert(!p.contains("Join"), s"q186 needs no join: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q188 gains: the user ranking carries ScalableRank's sub-bucket " +
    "key — no corpus-sized unpartitioned row_number") {
    val p = plan("q188_decile_gains")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the user-sized window must be keyed by (negs, __ib), never empty:
    // every unpartitioned windowspec must sit AFTER the 10-row decile agg
    val userWin = "windowspecdefinition\\(negs#\\d+L, __ib#\\d+L".r
    assert(userWin.findFirstIn(p).isDefined,
      s"bucketed ranking window missing: ${p.take(2000)}")
  }

  test("q189 KS: the log collapses in one (type, cents) two-phase agg; " +
    "windows run per event_type over the cell frame") {
    val p = plan("q189_ks_drift")
    assert(!p.contains("Join"), s"q189 needs no join: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q190 unpivot lowers to a single-scan Expand, no join, " +
    "two-phase agg (the oracle's 4 UNION ALL scans collapse to one)") {
    val p = plan("q190_unpivot")
    assert(p.contains("Expand"), p.take(1500))
    assert(!p.contains("Join"), s"q190 needs no join: ${p.take(1500)}")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"q190 must scan once: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q191 AUC: no per-pair P×N join — the Mann–Whitney identity runs " +
    "over the (type, score) cell agg; label ranking is sub-bucketed") {
    val p = plan("q191_auc_roc")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the user-sized ranking window must carry ScalableRank's __ib key
    val bucketed = "windowspecdefinition\\(cents#\\d+L, __ib#\\d+L".r
    assert(bucketed.findFirstIn(p).isDefined,
      s"bucketed label ranking missing: ${p.take(2000)}")
    // zero-fill is a broadcast of the |types| frame, not a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q192 KM: the log collapses in one user-keyed agg before any " +
    "window; the horizon joins as a 1-row broadcast") {
    val p = plan("q192_kaplan_meier")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q194 Gini: the per-type ranking carries ScalableRank's " +
    "sub-bucket key — no type-only corpus window") {
    val p = plan("q194_gini_spend")
    val bucketed =
      "windowspecdefinition\\(event_type#\\d+, cents#\\d+L, __ib#\\d+L".r
    assert(bucketed.findFirstIn(p).isDefined,
      s"bucketed ranking window missing: ${p.take(2000)}")
  }

  test("q197 embed health: the posexplode fan-out collapses in a " +
    "two-phase dim agg — no join, no window") {
    val p = plan("q197_embed_health")
    assert(!p.contains("Join"), s"q197 needs no join: ${p.take(1500)}")
    assert(!p.contains("Window"), s"q197 needs no window: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q196 new/returning: first-day join stays on the user_id key " +
    "(no broadcast of the user frame needed, no cartesian)") {
    val p = plan("q196_new_returning")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }

  test("q200 ANN recall: both arms broadcast the probe side; the " +
    "corpus is never the build side and never cartesians with itself") {
    val p = plan("q200_ann_recall")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // brute arm: broadcast nested-loop (probe × corpus); cell arm:
    // broadcast hash on label — the overlap join of the two 5·|probes|
    // result frames may plan however it likes, both sides are bounded
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("q201 seasonal decompose: the log collapses in one two-phase " +
    "(type, day) agg; all windows run over the daily frame, no join") {
    val p = plan("q201_seasonal_decompose")
    assert(!p.contains("Join"), s"q201 needs no join: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q204 XYZ classification: two chained two-phase aggs on the " +
    "part key — no join, no window") {
    val p = plan("q204_demand_variability")
    assert(!p.contains("Join"), s"q204 needs no join: ${p.take(1500)}")
    assert(!p.contains("Window"), s"q204 needs no window: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 3, p.take(1500))
  }

  test("q198 quantile-normalize: the corpus maps through BROADCAST " +
    "joins only (the 10001-row lookup + bounded reference cells) — " +
    "no corpus-sized SMJ after the rank") {
    val p = plan("q198_quantile_normalize")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(1500))
    // the rank must be ScalableRank's bucketed form
    val bucketed =
      "windowspecdefinition\\(event_type#\\d+, cents#\\d+L, __ib#\\d+L".r
    assert(bucketed.findFirstIn(p).isDefined,
      s"bucketed ECDF ranking missing: ${p.take(2000)}")
  }

  test("q199 MoM growth: one two-phase month agg collapses the order " +
    "book; no join anywhere") {
    val p = plan("q199_mom_growth")
    assert(!p.contains("Join"), s"q199 needs no join: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q193 containment: pair generation is the bounded array " +
    "self-product — ONE corpus shuffle (the digest agg), no pair join, " +
    "no cartesian; size lookups are the only joins") {
    val p = plan("q193_span_containment")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // two Generate nodes: the window explode and the list×list product
    assert("Generate explode".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q182 novelty: the first-seer min is a window on the dig " +
    "partitioning, not a join-back (3 linear shuffles, no hash relation)") {
    val p = plan("q182_ngram_novelty")
    assert(!p.contains("Join"), s"q182 needs no join now: ${p.take(1500)}")
  }

  test("q207 PSI: the log collapses in ONE two-phase (type, bucket) " +
    "agg; the only join is the 1-row midpoint broadcast") {
    val p = plan("q207_psi_drift")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      s"q207 must not shuffle-join the log: ${p.take(1500)}")
  }

  test("q208 aging: one two-phase (status, bucket) agg; horizon rides " +
    "as a 1-row broadcast, never a shuffle join") {
    val p = plan("q208_order_aging")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q209 session stats: q131's single user_id partitioning feeds " +
    "the daily rollup — no join anywhere") {
    val p = plan("q209_session_stats")
    assert(!p.contains("Join"), s"q209 needs no join: ${p.take(1500)}")
    assert(p.contains("Window"), p.take(1500))
  }

  test("q210 cross-correlation: the log collapses first; the lag fan-" +
    "out and day+lag joins run on bounded frames, never a cartesian") {
    val p = plan("q210_lagged_xcorr")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q211 vocab growth: the (lang, token) min-agg is two-phase and " +
    "the vocab-cardinality first-seen join is NOT nested-loop") {
    val p = plan("q211_vocab_growth")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q212 retrieval eval: top-20 query terms via " +
    "TakeOrderedAndProject (no vocab-sized window); the query frame " +
    "broadcasts into the token scan") {
    val p = plan("q212_retrieval_eval")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(1500))
  }

  test("q213 calibration bins: the global score ranking is " +
    "ScalableRank's bucketed form, never one corpus-sized window task") {
    val p = plan("q213_calibration_bins")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    val bucketed = "windowspecdefinition\\(score_units#\\d+L, __ib#\\d+L".r
    assert(bucketed.findFirstIn(p).isDefined,
      s"bucketed ranking missing: ${p.take(2000)}")
  }

  test("q214 HHI: totals re-aggregate from the (type, user) frame and " +
    "join back broadcast — no shuffle join, no second scan of the log") {
    val p = plan("q214_hhi_spend")
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(1500))
  }

  test("q215 dispersion: the log collapses at (type, day) grain; the " +
    "dense-grid fan-out never cartesians") {
    val p = plan("q215_dispersion")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q216 LIX readability is a zero-shuffle codegen projection: " +
    "no join, no window, no aggregate") {
    val p = plan("q216_readability")
    assert(!p.contains("Join"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
    assert(!p.contains("HashAggregate"), p.take(1500))
  }

  test("q217 anomaly screen: the log collapses at (type, day) grain; " +
    "median/MAD frames join back broadcast, never a shuffle join") {
    val p = plan("q217_daily_anomaly")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("q218 churn states: one user_id two-phase agg collapses the " +
    "log; the horizon is a 1-row broadcast") {
    val p = plan("q218_churn_state")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q219 ship-delay SLA: the fact collapses into a (priority, " +
    "delay) histogram; the crossing window reads the histogram, and " +
    "the orders join is an equi-join") {
    val p = plan("q219_ship_delay")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q220 rebalance plan: the corpus collapses in one (source) " +
    "agg; the median target is a 1-row broadcast") {
    val p = plan("q220_rebalance_plan")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q221 value bands: the log collapses into a (day, cents) " +
    "two-phase histogram — no join; windows read the histogram only") {
    val p = plan("q221_value_bands")
    assert(!p.contains("Join"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q222 U-shaped attribution: no touch×purchase join exists — " +
    "the purchase carry is a window; ONE user_id partitioning") {
    val p = plan("q222_position_attribution")
    assert(!p.contains("Join"), s"q222 needs no join: ${p.take(1500)}")
    // both carries collapse into one Window operator (the q126 rule)
    assert("Window".r.findAllIn(p).size <= 3, p.take(1500))
  }

  test("q223 SRM screen: the md5 arm is a pure projection — no " +
    "assignment join; one (day) two-phase agg") {
    val p = plan("q223_srm_screen")
    assert(!p.contains("Join"), s"q223 needs no join: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q224 waterfall: one scan, one (month) two-phase agg, no join") {
    val p = plan("q224_margin_waterfall")
    assert(!p.contains("Join"), s"q224 needs no join: ${p.take(1500)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q225 audience overlap: the pair join is a user-keyed " +
    "equi-join (alphabet-bounded fan-out), sizes join back broadcast") {
    val p = plan("q225_audience_overlap")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("q226 lang confusion: q91's broadcast-profile argmax shape " +
    "followed by a bounded rollup — no cartesian") {
    val p = plan("q226_lang_confusion")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }
}
