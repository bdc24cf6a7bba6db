package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Scale-factor suffix parsed from a fixture path: the LAST sf<digits>
    * match, not the first — a path like /data/sf0.1-backup/testdata-sf1
    * names the sf1 fixture, and taking the first match would misfile an
    * sf1 run over the sf0.1 ledger, exactly the clobber the routing
    * exists to prevent. "0" when no match (routes away from the ledger).
    */
  def parseSf(sfDir: String): String =
    """sf([0-9.]+)""".r.findAllMatchIn(sfDir)
      .map(_.group(1)).toSeq.lastOption.getOrElse("0")

  /** How much slower than the pinned run's calibration probe a run's
    * probe may be and still count as "the known fast band". Observed
    * slow phases inflate pure-CPU work ×1.18–1.35 uniformly; 1.15 sits
    * under the slowest observed phase and over probe jitter (<±5% on a
    * quiet host). */
  val CalibTolerance = 1.15

  /** Ledger-file routing for a finished run — pure, spec'd
    * (BenchLedgerSpec). The pinned BENCH_LOCAL.json's contract is
    * "quiet-machine fast-phase median-of-N at sf0.1"; three clobber
    * classes each cost a restore commit before the guards existed:
    *
    *  1. wrong scale (r6/r7): any non-sf0.1 run → BENCH_LOCAL_sf<N>.json
    *     (suffix from the PARSED sf, not the dir basename — the sf1
    *     fixture dir "testdata-sf1" would dodge the ignore pattern);
    *  2. stalled machine (r2 c78ef12, r7): spread_bp > 3000 (min→max band
    *     over 30% of the median total) → BENCH_LOCAL_noisy.json;
    *  3. slow host phase (r8, tightened at the r9 close-out): the host
    *     alternates fast/slow phases (identical code measured 52.8 s
    *     then 70–78 s minutes apart) and a slow phase can be UNIFORMLY
    *     slow — quieter spread, worse total — so spread alone cannot
    *     arbitrate. ANY total worse than the pinned one →
    *     BENCH_LOCAL_noisy.json, unless `force`. The original >1.15×
    *     tolerance let CONSECUTIVE slow-phase runs ratchet the pin up
    *     15% at a time (observed: 52.3 → 59.2 → 62.5 on identical
    *     sf0.1 plans, both runs uniformly ×1.18 incl. scan-free
    *     queries); a worse-but-quiet run adds no information over the
    *     existing pin, and a code change that genuinely slows the suite
    *     is exactly what SPARK_GRAFT_BENCH_FORCE=1 is for (force does
    *     not bypass the sf or spread gates).
    *  4. phase-labeled diverts (round 11, VERDICT item 2): every run
    *     times two fixed probes ([[calibProbe]] CPU, [[calibProbeMem]]
    *     bandwidth) before and after the pass and records both pairs in
    *     the ledger line, so the host phase is labeled by measurement.
    *     The probes refine the DIVERT evidence, not the acceptance:
    *     under rule 3 only totals ≤ the pin can ever pin, and a faster
    *     total measured under SLOW probes is the most conservative,
    *     most reproducible pin possible ("even in a slower host state
    *     the code beat the old pin") — blocking it was measured to
    *     reject a genuine 50.8 s improvement against a 52.3-era pin
    *     whose straddle into an anomalous 713 ms probe floor made the
    *     band unreachable (r11). So: a WORSE total with out-of-band
    *     probes diverts as "slow host phase, measured directly"; a
    *     worse total with IN-BAND probes diverts with a
    *     likely-real-regression escalation (the phase excuse is
    *     measured away). Accepted pins always record their own probe
    *     pairs as the next band.
    *
    *  0. failed queries (checked first, `force` included): a run where
    *     any query failed every repeat measured less than the whole
    *     surface, so it never pins → BENCH_LOCAL_invalid.json.
    *
    * Returns (fileName, optional stderr note).
    */
  def ledgerFor(sfNum: String, spreadBp: Long, total: Double,
                pinnedTotal: Option[Double],
                force: Boolean,
                calibMs: Option[Long] = None,
                pinnedCalibMs: Option[Long] = None,
                calibMemMs: Option[Long] = None,
                pinnedCalibMemMs: Option[Long] = None,
                failed: Seq[String] = Nil)
      : (String, Option[String]) = {
    // calibration dimensions with both sides measured (CPU fold, then the
    // memory/shuffle-bandwidth probe — the dimension the r11 forensics
    // showed actually moves; BASELINE §4.0e)
    val compared = Seq(
      ("cpu", calibMs, pinnedCalibMs),
      ("mem", calibMemMs, pinnedCalibMemMs)).collect {
      case (dim, Some(c), Some(p)) => (dim, c, p)
    }
    val outOfBand = compared.find {
      case (_, c, p) => c > CalibTolerance * p }
    if (failed.nonEmpty)
      ("BENCH_LOCAL_invalid.json", Some(
        s"INVALID run: ${failed.mkString(",")} failed every run; a run " +
          "with failures never pins — diverted to BENCH_LOCAL_invalid.json"))
    else if (sfNum != "0.1") (s"BENCH_LOCAL_sf$sfNum.json", None)
    else if (spreadBp > 3000)
      ("BENCH_LOCAL_noisy.json", Some(
        s"spread_bp=$spreadBp > 3000: noisy run diverted to " +
          "BENCH_LOCAL_noisy.json; pinned ledger left untouched"))
    else if (!force && pinnedTotal.exists(v => total > v))
      ("BENCH_LOCAL_noisy.json", Some(outOfBand match {
        case Some((dim, c, p)) =>
          s"run total=$total is over the pinned ledger's AND the [$dim] " +
            s"probe $c ms is outside the pinned fast band ($p ms × " +
            s"$CalibTolerance): slow host phase, measured directly; " +
            "diverted to BENCH_LOCAL_noisy.json (tools/pin_ledger.sh " +
            "polls for a fast phase)"
        case None if compared.size == 2 =>
          s"run total=$total is over the pinned ledger's WITH all " +
            "calibration probes in the pinned fast band — the host-phase " +
            "excuse is measured away: if code changed since the pin this " +
            "is likely a REAL regression; diverted to " +
            "BENCH_LOCAL_noisy.json, investigate before " +
            "SPARK_GRAFT_BENCH_FORCE=1"
        case None if compared.nonEmpty =>
          // only ONE dimension comparable (e.g. a legacy pin without
          // calib_mem_ms): the in-band evidence is visibly weaker — the
          // unmeasured dimension (the one the r11 forensics showed
          // actually moves) could still be the cause, so no
          // "measured away" claim (ADVICE r11)
          s"run total=$total is over the pinned ledger's; the only " +
            s"comparable probe dimension [${compared.map(_._1).mkString(",")}] " +
            "is in the pinned fast band, but the other dimension is " +
            "unmeasured on the pin — possibly a real regression, " +
            "possibly an unmeasured host phase; diverted to " +
            "BENCH_LOCAL_noisy.json"
        case None =>
          s"run total=$total is over the pinned ledger's (slow host " +
            "phase): diverted to BENCH_LOCAL_noisy.json; set " +
            "SPARK_GRAFT_BENCH_FORCE=1 to re-pin deliberately"
      }))
    else ("BENCH_LOCAL.json", None)
  }

  /** Headline total over per-query medians — pure, spec'd
    * (BenchTotalSpec). A query whose runs ALL failed carries the -1.0
    * sentinel median; it is left out of the sum and named in the second
    * element (sorted), so a crash can never make the total smaller. */
  def totalOf(results: Map[String, Double]): (Double, Seq[String]) = {
    val (failed, ok) = results.partition(_._2 < 0.0)
    (ok.values.sum, failed.keys.toSeq.sorted)
  }

  /** The pinned ledger's total, parsed ANCHORED to the metric field —
    * pure, spec'd (BenchLedgerSpec). A bare first-"value" regex silently
    * disabled the slow-phase clobber guard under any field reordering
    * (ADVICE r8); anchoring plus the caller's loud unparsed-ledger note
    * keeps the guard's failure mode visible.
    */
  def parsePinnedTotal(ledgerLine: String): Option[Double] =
    """"metric":"total","value":(-?[0-9.eE+]+)""".r
      .findFirstMatchIn(ledgerLine).map(_.group(1).toDouble)

  /** The pinned ledger's calibration evidence, parsed anchored to the
    * `calib_ms` field — pure, spec'd (BenchLedgerSpec). Returns the
    * WORSE (larger) of the pinned run's before/after probe times: the
    * pin's own upper bound of its quiet state, the reference a new
    * run's worse probe is compared against. (The first implementation
    * took the MIN — and a pin whose after-probe straddled into an
    * anomalous 713 ms floor then labeled every normal 900–960 ms quiet
    * probe "slow", diverting a genuine 50.8 s improvement; r11.) None
    * on legacy lines without the field. `field` selects the dimension:
    * "calib_ms" (CPU fold) or "calib_mem_ms" (bandwidth probe — see
    * [[calibProbeMem]]). */
  def parsePinnedCalib(ledgerLine: String,
                       field: String = "calib_ms"): Option[Long] =
    ("\"" + field + "\":\\[(\\d+),(\\d+)\\]").r
      .findFirstMatchIn(ledgerLine)
      .map(m => math.max(m.group(1).toLong, m.group(2).toLong))

  /** Compact per-query encoding for the tail-surviving stdout line —
    * pure, spec'd (BenchLedgerSpec). VERDICT r10 item 3: the decisecond
    * quanta the old compact tiers bottomed out at made 122 of 210
    * queries (all ≤0.2 s) untrackable round-over-round. Milliseconds as
    * a JSON OBJECT don't fit the ~2000-char stdout tail the driver
    * keeps (measured 2082 chars at 210 queries), so the map is encoded
    * as ONE JSON STRING of `key:value` pairs — `"queries":"01:123,
    * 92:5049,…"` — which drops two quote chars per entry and fits with
    * ~200 chars to spare. Keys are the bare query numbers (unique by
    * construction); a failed query is -1000 (ms for the sentinel -1.0 s,
    * never a plausible time). If a future surface outgrows `budget`
    * the values degrade to centiseconds then deciseconds, flagged by
    * `queries_unit` in the line itself. The full-precision seconds map
    * still goes to the ledger file and the full stdout line.
    */
  def encodeCompact(results: Map[String, Double],
                    budget: Int = 1700): (String, String) = {
    def enc(unit: Double): String = results.map { case (k, v) =>
      k.drop(1).takeWhile(_ != '_') + ":" + math.round(v * unit)
    }.mkString(",")
    val ms = enc(1000)
    if (ms.length <= budget) ("ms", ms)
    else {
      val cs = enc(100)
      if (cs.length <= budget) ("centisec", cs) else ("decisec", enc(10))
    }
  }

  /** Fixed scan-free calibration probe (VERDICT r10 item 2): a seeded
    * xxhash64 fold over `spark.range` — pure CPU, one narrow stage, no
    * file I/O, no shuffle beyond the 1-row final agg — so its wall time
    * tracks the HOST PHASE (cpu frequency / noisy-neighbor state) and
    * nothing else. Run once untimed (JIT), then `rounds` timed; the MIN
    * lands in the ledger line as the run's phase label — min, not
    * median, because transient scheduler/neighbor interference only ever
    * ADDS time (measured: medians span 980–1220 ms across quiet-host
    * JVMs, ±12%, while a uniformly slow phase inflates even the best
    * round — the r8/r9 phases slowed scan-free queries 1.18–1.22×
    * uniformly), so the min is the stable capacity signal the 1.15
    * tolerance needs. ~1 s per round in the fast band at 32 cores: long
    * enough to ride out scheduler jitter, short enough to poll for a
    * fast phase (tools/pin_ledger.sh) without meaningfully occupying the
    * window it detects. */
  def calibProbe(spark: SparkSession, rounds: Int = 4): Long = {
    import org.apache.spark.sql.functions._
    val p = spark.sparkContext.defaultParallelism
    def once(): Long = {
      val t0 = System.nanoTime()
      // max, not sum: an ANSI long sum over ~3e9 hash values overflows;
      // max is the same per-row hash work with an overflow-free fold
      spark.range(0L, 3200000000L, 1L, p)
        .select(max(xxhash64(col("id"), lit(42)))).head()
      (System.nanoTime() - t0) / 1000000L
    }
    once()
    (1 to math.max(1, rounds)).map(_ => once()).min
  }

  /** Memory/shuffle-bound calibration probe — the second phase dimension
    * (round 11 forensics, BASELINE §4.0e): the host entered a state where
    * the shuffle/window-heavy tier ran 1.3–1.8× the pinned values while
    * [[calibProbe]] stayed flat in its fast band AND the r9-pin-era code
    * measured side-by-side was equally inflated — i.e. the slow dimension
    * is memory/shuffle bandwidth, invisible to a pure-CPU fold. This
    * probe is a fixed wide hash aggregation (random access over a
    * 2²¹-key map per task, partial+final agg with a real shuffle): its
    * wall time tracks the bandwidth/contention state the heavy tier
    * actually lives in. Same min-of-rounds policy as the CPU probe. */
  def calibProbeMem(spark: SparkSession, rounds: Int = 4): Long = {
    import org.apache.spark.sql.functions._
    val p = spark.sparkContext.defaultParallelism
    def once(): Long = {
      val t0 = System.nanoTime()
      spark.range(0L, 100000000L, 1L, p)
        .groupBy((col("id") % 2097152L).as("k"))
        .agg(count(lit(1)).as("n"))
        .select(max(col("n"))).head()
      (System.nanoTime() - t0) / 1000000L
    }
    once()
    (1 to math.max(1, rounds)).map(_ => once()).min
  }

  /** Consecutive slow-phase diverts already recorded in the noisy ledger
    * AGAINST THE SAME PIN — pure, spec'd (BenchLedgerSpec). ADVICE r9:
    * the slow-phase gate diverts ANY worse-than-pin total, so a genuine
    * code regression could hide behind the phase-noise rationale
    * indefinitely. The counter rides in the noisy file itself
    * (`"slow_diverts":N,"slow_diverts_vs":pin`) so no extra state file
    * exists; a deliberate re-pin changes the `vs` value and resets the
    * count naturally. The caller increments it on each slow-phase divert
    * and escalates LOUDLY once it reaches 3 — three consecutive
    * worse-than-pin totals against one pin is no longer explainable as
    * a host phase.
    */
  def slowDivertCount(noisyLine: String, pinnedTotal: Double): Int =
    """"slow_diverts":(\d+),"slow_diverts_vs":(-?[0-9.eE+]+)""".r
      .findFirstMatchIn(noisyLine) match {
        case Some(m) if m.group(2).toDouble == pinnedTotal =>
          m.group(1).toInt
        case _ => 0
      }

  /** Outlier policy for per-query timing — pure, spec'd (BenchLedgerSpec).
    * The bench host alternates fast/slow phases (BASELINE.md): a phase
    * spike that outlasts median-of-3 leaves a 6–18× per-query artifact a
    * reader cannot tell from a plan regression. When the successful runs'
    * max exceeds `maxRatio` × their min, the query has earned extra
    * repeats (up to a caller-enforced cap); the reported value is then
    * the median of ALL successful runs, which a one-off spike can no
    * longer carry, and the per-query `n_extra` count marks the spike in
    * the artifact itself. Fewer than two successes → no signal → false.
    */
  def needsExtraRepeat(runs: Seq[Double], maxRatio: Double): Boolean = {
    val ok = runs.filter(_ >= 0.0)
    ok.size >= 2 && ok.max > maxRatio * ok.min
  }

  /** The [[needsExtraRepeat]] ratio and the cap on extra repeats per
    * query: a band wider than 3× earns up to 2 more runs, so the median
    * sits on 4-5 samples instead of 3. */
  val OutlierRatio = 3.0
  val MaxExtraRepeats = 2

  /** Bench's additions to [[GraftSession.harnessConfs]]; PlanDump uses
    * the same, so a dumped plan is the plan the bench times.
    *
    * Session-age guard (round 10): with -Xms32g the driver's old gen
    * almost never fills, so full GCs almost never run — and
    * ContextCleaner only reclaims shuffle files/broadcasts when their
    * references are GC'd. Over a long pass the dead shuffle files
    * accumulate on disk, evict the page cache, and shuffle-heavy queries
    * degrade in-session (q91 25→43 s at sf1 vs 3-4 s standalone —
    * BASELINE §4.0b). Spark's own remedy is periodic forced GC on the
    * cleaner thread; the default interval is 30 min — longer than the
    * whole pass. 90 s keeps cleanup continuous at sf1 while a ≤60 s sf0.1
    * pass sees at most one.
    *
    * Scans split at 8 MiB, not the 128 MiB default: the fixtures are
    * single ~1-115 MiB parquet files, so default sizing reads a whole
    * table in ONE task at sf1 (113 MiB lineitem) however many cores the
    * host has. ≤ sf0.1 the files are single-row-group ≤12 MiB, so pinned
    * sf0.1 ledgers are unaffected (splits without a row-group midpoint
    * read nothing).
    */
  val SessionConfs: Seq[(String, String)] = Seq(
    "spark.cleaner.periodicGC.interval" -> "90s",
    "spark.sql.files.maxPartitionBytes" -> (8L * 1024 * 1024).toString)

  /** The JIT warm-up fixture for `sfDir`: its `sf0.001` sibling, or None
    * when that is `sfDir` itself — the priming pass then already runs
    * every query once at the target, and a warm-up pass would repeat it.
    */
  def warmDirFor(sfDir: String): Option[String] = {
    val target = new java.io.File(sfDir).getAbsoluteFile
    val warm = new java.io.File(target.getParentFile, "sf0.001")
    if (warm.getCanonicalPath == target.getCanonicalPath) None
    else Some(warm.getPath)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Distributed-performance profile (round 12, VERDICT item 1): the
    // same env contract as Verify/tools/cluster_gate.sh — a local-cluster
    // master (real executor JVMs, netty shuffle/broadcast transport,
    // executor-fetched app jar) so the perf ledger can be MEASURED under
    // real serialization, not just local[n]'s in-process exchange. A run
    // under a non-default master routes to its own BENCH_CLUSTER_sf*.json
    // ledger below — it must never touch the local[32] pin (the pin's
    // contract is one fixed config; cluster numbers are a different
    // population).
    val masterEnv = sys.env.get("SPARK_GRAFT_MASTER")
    val spark = GraftSession.harness(SessionConfs: _*)
    // Phase calibration (round 11, VERDICT item 2): time the fixed probe
    // BEFORE the warm-up and AFTER the timed pass; both land in every
    // output line as the run's measured phase label. CALIB_ONLY=1 runs
    // just the probe and exits — the cheap poll tools/pin_ledger.sh uses
    // to wait for a fast phase before spending a full ledger run.
    // Probes are FIXED work sized for the pinned-ledger config (32
    // cores, ~1 s and ~4.5 s there): at the default local[4] they cost
    // ~8x that, several silent minutes around a one-minute smoke — so
    // they default ON only at >=16 cores (pin-config runs; probe values
    // are only band-comparable at one core count anyway). Env overrides
    // both ways: SPARK_GRAFT_CALIB=1 forces on, =0 forces off.
    val calibOn = sys.env.get("SPARK_GRAFT_CALIB")
      .map(_ != "0").getOrElse(cpus.toInt >= 16)
    if (sys.env.getOrElse("SPARK_GRAFT_CALIB_ONLY", "0") == "1") {
      val c = Bench.calibProbe(spark)
      val m = Bench.calibProbeMem(spark)
      println(s"""{"metric":"calib","value":$c,"mem_ms":$m,"unit":"ms"}""")
      spark.stop()
      return
    }
    val calibBefore = if (calibOn) Bench.calibProbe(spark) else -1L
    val calibMemBefore = if (calibOn) Bench.calibProbeMem(spark) else -1L
    // Iterative operators (PageRank/BFS/k-core/components/…) leave their
    // FINAL round's checkpoint blocks pinned — the returned lazy frame
    // reads them, so the operator itself cannot free them. Across 209
    // queries × repeats those stragglers accumulate in storage memory and
    // bend later timings (observed: q202 repeats 1.4 s → 5.6 s in r6).
    // Sweep them between runs, OUTSIDE the timed section: every action is
    // complete by then, so no live plan reads the blocks.
    def sweep(): Unit = graft.functions.Checkpoints.sweep(spark)
    // Warm-up: run EVERY query once at the smallest fixture (sf0.001,
    // ~0.1% of the timed data) so each query's generated code is JIT'd
    // before it is timed — the timed numbers then measure steady-state
    // throughput at the target sf, not per-query codegen compilation
    // (observed ~1-3 s of one-time compile cost on expression-heavy
    // queries). Standard bench hygiene, applied identically at every sf;
    // falls back to a single q20 warm-up if the small fixture is absent,
    // and is skipped when the target IS the small fixture (warmDirFor).
    // NOTE: this warm-every-query methodology started in round 3 — r01/r02
    // ledger numbers were taken under a single-query warm-up and include
    // per-query JIT (see BASELINE.md ledger).
    warmDirFor(sfDir) match {
      case Some(warmDir) if new java.io.File(warmDir).isDirectory =>
        SparkEntry.queries.values.foreach { fn =>
          try fn(spark, warmDir).count() catch { case _: Throwable => () }
          sweep()
        }
      case Some(_) =>
        try SparkEntry.queries.get("q20_agg_hash").foreach(_(spark, sfDir).count())
        catch { case _: Throwable => () }
      case None => // the priming below already runs every query once here
    }
    // Median-of-N timing (round 6, default 3): a single-shot run lands
    // anywhere in the ±20% I/O-variance band (BASELINE.md item 16) and
    // every round needed sentinel-query forensics to interpret it; the
    // median suppresses one-off page-cache/compaction spikes. Reported
    // per-query values and the total are medians; the spread fields carry
    // the min→max band so the variance is visible in the artifact itself.
    // A crashed run records -1.0, never a plausible elapsed time; a
    // query's value is the median of its successful runs (-1.0 only if
    // every run failed — then it is left out of the total, named in
    // `failed`, and the run never pins: see totalOf and ledgerFor).
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "3").toInt)
    // Steady-state priming (round 8): each query runs ONCE untimed at the
    // TARGET sf before its timed repeats. The sf0.001 warm-up above only
    // covers JIT — a query's first run at the target sf still pays
    // one-time costs the later runs don't (file-backed artifact builds
    // like the cc94 cluster map: observed [2.94, 0.13, 0.14] s; cold
    // parquet pages), which put a structural floor of several thousand bp
    // under spread_bp no matter how quiet the machine is. With priming,
    // every timed run measures steady state and the spread field reports
    // actual run-to-run variance — the thing it exists to report.
    // Outlier-triggered extra repeats (round 9, [[OutlierRatio]]):
    // `n_extra` in the artifact marks which values carry spike evidence,
    // so a reader tells a host phase spike (n_extra>0, quiet median) from
    // a plan regression (uniformly slow runs, or a slow median despite
    // extras).
    val runsWithExtra: Map[String, (Seq[Double], Int)] =
      SparkEntry.queries.map { case (name, fn) =>
        try fn(spark, sfDir).count()
        catch { case _: Throwable => () }
        sweep()
        def once(): Double = {
          val t0 = System.nanoTime()
          val sec =
            try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              -1.0 }
          sweep()
          sec
        }
        var rs = (1 to repeats).map(_ => once())
        var extra = 0
        while (extra < MaxExtraRepeats &&
            Bench.needsExtraRepeat(rs, OutlierRatio)) {
          rs :+= once()
          extra += 1
        }
        name -> (rs, extra)
      }
    val runs: Map[String, Seq[Double]] = runsWithExtra.map {
      case (k, (rs, _)) => k -> rs
    }
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0.0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }
    val results = runs.map { case (k, v) => k -> median(v) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val (total, failed) = Bench.totalOf(results)
    if (failed.nonEmpty) System.err.println(
      "[bench] INVALID: failed every run, left out of the total: " +
        failed.mkString(","))
    val okRuns = runs.values.map(_.filter(_ >= 0.0)).filter(_.nonEmpty)
    val totalMin = okRuns.map(_.min).sum
    val totalMax = okRuns.map(_.max).sum
    // spread of the TOTAL across the repeat band, in basis points of the
    // median total — the single number that says how trustworthy this
    // round's figure is
    val spreadBp =
      if (total > 0) math.round((totalMax - totalMin) / total * 10000) else 0L
    val runsJson = runs.map { case (k, v) =>
      "\"" + k + "\":[" + v.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per-query extra-repeat counts (only queries that earned any — the
    // spike-evidence map stays empty on a quiet run)
    val nExtraJson = runsWithExtra.collect {
      case (k, (_, e)) if e > 0 => "\"" + k + "\":" + e
    }.mkString("{", ",", "}")
    val totalExtra = runsWithExtra.valuesIterator.map(_._2).sum
    // post-pass probe: a run that STARTED fast but finished slow straddled
    // a phase boundary — the ledger gate compares the run's WORSE probe
    // against the pin's WORSE one (its quiet-state upper bound; see
    // parsePinnedCalib), so straddlers divert too
    val calibAfter = if (calibOn) Bench.calibProbe(spark) else -1L
    val calibMemAfter = if (calibOn) Bench.calibProbeMem(spark) else -1L
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibJson = s"[$calibBefore,$calibAfter]"
    val calibMemJson = s"[$calibMemBefore,$calibMemAfter]"
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""repeats":$repeats,"total_min":$totalMin,"total_max":$totalMax,""" +
        s""""spread_bp":$spreadBp,"calib_ms":$calibJson,""" +
        s""""calib_mem_ms":$calibMemJson,"n_extra":$nExtraJson,""" +
        s""""runs":$runsJson,"failed":$failedJson,"sf":"$sfDir"}"""
    val sfNum = Bench.parseSf(sfDir)
    // Full-precision, full-name per-query map → a repo file (the ledger's
    // source of truth; survives any stdout truncation). Which file gets
    // this run is [[Bench.ledgerFor]]'s decision — see its scaladoc for
    // the three clobber classes the routing guards against. The stdout
    // lines (what the driver parses) are unaffected by the routing.
    try if (masterEnv.exists(!GraftSession.isLocalMaster(_))) {
      // genuinely distributed master (local-cluster / standalone): its
      // own ledger file, overwrite-latest, no pin interaction — cluster
      // numbers include real serialization + transport and are not
      // comparable to the local[32] pin's population
      // (tools/bench_compare.py compares them deliberately, per query, to
      // find serialization-sensitive plans). An explicitly-exported
      // local[*] master does NOT take this branch: in-process numbers
      // must face the pin's anti-ratchet guards, never clobber the
      // cluster ledger (round-12 review)
      val w = new java.io.PrintWriter(s"BENCH_CLUSTER_sf$sfNum.json")
      try w.println(fullLine) finally w.close()
    } else {
      // anchored to the metric, not the first "value": — field reordering
      // or format drift must not silently disable the slow-phase guard.
      // A ledger that exists but doesn't parse gets a LOUD stderr note
      // (the guard then defaults open: first-run-always-pins).
      val pinExists = new java.io.File("BENCH_LOCAL.json").isFile
      val pinnedLine =
        if (!pinExists) None
        else try {
          val pinned = scala.io.Source.fromFile("BENCH_LOCAL.json")
          Some(try pinned.mkString finally pinned.close())
        } catch { case _: Throwable => None }
      val pinnedTotal = pinnedLine.flatMap(Bench.parsePinnedTotal)
      // warn on unreadable AND on read-but-unparseable alike (review
      // r11: the refactor to pinnedLine had silently dropped the
      // unreadable case) — either way the guard defaults open
      if (pinExists && pinnedTotal.isEmpty) System.err.println(
        "[bench] BENCH_LOCAL.json exists but its total could not be " +
          "read/parsed (expected \"metric\":\"total\",\"value\":N) — the " +
          "slow-phase clobber guard is DISABLED for this run")
      val pinnedCalib = pinnedLine.flatMap(Bench.parsePinnedCalib(_))
      val pinnedCalibMem =
        pinnedLine.flatMap(Bench.parsePinnedCalib(_, "calib_mem_ms"))
      // the gate compares this run's WORSE probe time against the pin's
      // WORSE one (parsePinnedCalib takes the max of the pinned pair —
      // its quiet-state upper bound); a disabled probe (-1) gates on
      // rules 1-3 only
      val calibWorst =
        if (calibOn) Some(math.max(calibBefore, calibAfter)) else None
      val calibMemWorst =
        if (calibOn) Some(math.max(calibMemBefore, calibMemAfter)) else None
      val force = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORCE", "0") == "1"
      val (ledger, note) = Bench.ledgerFor(
        sfNum, spreadBp, total, pinnedTotal, force, calibWorst, pinnedCalib,
        calibMemWorst, pinnedCalibMem, failed)
      note.foreach(n => System.err.println(s"[bench] $n"))
      // slow-phase diverts carry a consecutive-divert counter in the
      // written line (see Bench.slowDivertCount) — 3 in a row against
      // the same pin escalates from "host phase" to "likely regression"
      // (noisy + quiet spread) can only come from ledgerFor's worse-
      // than-pin branch, so no calibration re-check belongs here — a
      // duplicate of rule 4's logic could silently drift from it
      val slowPhase = ledger == "BENCH_LOCAL_noisy.json" &&
        spreadBp <= 3000 && pinnedTotal.exists(total > _)
      def prevDiverts: Int = try {
        val src = scala.io.Source.fromFile("BENCH_LOCAL_noisy.json")
        try Bench.slowDivertCount(src.mkString, pinnedTotal.getOrElse(-1.0))
        finally src.close()
      } catch { case _: Throwable => 0 }
      val lineOut =
        if (slowPhase) {
          val n = prevDiverts + 1
          if (n >= 3) System.err.println(
            s"[bench] $n CONSECUTIVE runs totaled worse than the pinned " +
              "ledger against the same pin — no longer explainable as a " +
              "host phase. If code changed since the pin this is likely " +
              "a REAL regression: investigate, then re-pin deliberately " +
              "with SPARK_GRAFT_BENCH_FORCE=1")
          fullLine.dropRight(1) +
            s""","slow_diverts":$n,"slow_diverts_vs":${pinnedTotal.get}}"""
        } else if (ledger == "BENCH_LOCAL_noisy.json" &&
            pinnedTotal.isDefined && prevDiverts > 0)
          // ADVICE r10: a spread-noisy run between slow-phase diverts must
          // CARRY the counter forward unchanged, not overwrite it away —
          // alternating noise classes could otherwise reset the 3-divert
          // escalation indefinitely and hide a real regression
          fullLine.dropRight(1) +
            s""","slow_diverts":$prevDiverts,""" +
            s""""slow_diverts_vs":${pinnedTotal.get}}"""
        else fullLine
      val w = new java.io.PrintWriter(ledger)
      try w.println(lineOut) finally w.close()
    } catch { case _: Throwable => () }
    // The harness that wraps this main keeps only the TAIL of stdout
    // (observed: last 2000 chars), and the full 210-query line is ~19 KB —
    // it gets beheaded and never parses. So the LAST line printed is a
    // compact variant that fits whole inside that window, per-query values
    // in MILLISECONDS (VERDICT r10 item 3 — decisecond quanta made the
    // 122 sub-0.2 s queries untrackable round-over-round). Encoding and
    // its degrade ladder live in [[Bench.encodeCompact]]; tools/
    // bench_compare.py decodes every historical format. The full-
    // precision seconds map is always in the ledger file and the full
    // stdout line above; the compact line only has to parse whole with
    // the headline total.
    val (compactUnit, compactQs) = Bench.encodeCompact(results)
    println(fullLine)
    // median + spread in the tail-surviving compact line (the driver keeps
    // only the last ~2000 chars of stdout — see the note above)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","repeats":$repeats,"spread_bp":$spreadBp,"extra_runs":$totalExtra,"calib_ms":$calibJson%s,"calib_mem_ms":$calibMemJson%s,"queries_unit":"$compactUnit%s","queries":"$compactQs%s","sf":$sfNum}""")
    spark.stop()
  }
}
