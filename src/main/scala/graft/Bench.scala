package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
object Bench {

  /** Scale-factor suffix parsed from a fixture path: the LAST sf<digits>
    * match, not the first — a path like /data/sf0.1-backup/testdata-sf1
    * names the sf1 fixture, and taking the first match would overwrite
    * the sf0.1 ledger with an sf1 run. "0" when no match.
    */
  def parseSf(sfDir: String): String =
    """sf([0-9.]+)""".r.findAllMatchIn(sfDir)
      .map(_.group(1)).toSeq.lastOption.getOrElse("0")

  /** The ledger file a finished run writes — pure, spec'd
    * (BenchLedgerSpec). Every file is overwrite-latest: it holds the full
    * line of the last run of its kind; tools/bench_compare.py compares
    * any two such lines per query.
    *
    *  - a run where any query failed every repeat measured less than the
    *    whole surface → BENCH_LOCAL_invalid.json, with an INVALID note
    *    (checked first);
    *  - a genuinely distributed master (`distributed`, see
    *    [[GraftSession.isLocalMaster]]) → BENCH_CLUSTER_sf<N>.json: real
    *    serialization and transport, a different population from
    *    in-process runs;
    *  - otherwise BENCH_LOCAL_sf<N>.json.
    *
    * The suffix is the PARSED scale ([[parseSf]]), so runs at different
    * scales never overwrite each other. Returns (fileName, optional
    * stderr note).
    */
  def ledgerFor(sfNum: String, distributed: Boolean, failed: Seq[String])
      : (String, Option[String]) =
    if (failed.nonEmpty)
      ("BENCH_LOCAL_invalid.json", Some(
        s"INVALID run: ${failed.mkString(",")} failed every run; a run " +
          "with failures is kept apart from the scale ledgers — written " +
          "to BENCH_LOCAL_invalid.json"))
    else if (distributed) (s"BENCH_CLUSTER_sf$sfNum.json", None)
    else (s"BENCH_LOCAL_sf$sfNum.json", None)

  /** Headline total over per-query medians — pure, spec'd
    * (BenchTotalSpec). A query whose runs ALL failed carries the -1.0
    * sentinel median; it is left out of the sum and named in the second
    * element (sorted), so a crash can never make the total smaller. */
  def totalOf(results: Map[String, Double]): (Double, Seq[String]) = {
    val (failed, ok) = results.partition(_._2 < 0.0)
    (ok.values.sum, failed.keys.toSeq.sorted)
  }

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
    * uniformly), so the min is the stable capacity signal. ~1 s per
    * round in the fast band at 32 cores: long enough to ride out
    * scheduler jitter, short enough not to occupy the window it labels. */
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
    * the shuffle/window-heavy tier ran 1.3–1.8× its earlier values while
    * [[calibProbe]] stayed flat in its fast band AND the r9-era code
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
    * host has. ≤ sf0.1 the files are single-row-group ≤12 MiB, so sf0.1
    * timings are unaffected (splits without a row-group midpoint read
    * nothing).
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Distributed-performance profile (round 12, VERDICT item 1): the
    // same env contract as Verify/tools/cluster_gate.sh — a local-cluster
    // master (real executor JVMs, netty shuffle/broadcast transport,
    // executor-fetched app jar) so the perf ledger can be MEASURED under
    // real serialization, not just local[n]'s in-process exchange. Such a
    // run writes its own BENCH_CLUSTER_sf*.json ledger (see ledgerFor); an
    // explicitly-exported local[*] master stays in-process and local.
    val distributed =
      sys.env.get("SPARK_GRAFT_MASTER").exists(!GraftSession.isLocalMaster(_))
    val spark = GraftSession.harness(SessionConfs: _*)
    // Phase calibration (round 11, VERDICT item 2): time the fixed probe
    // BEFORE the warm-up and AFTER the timed pass; both land in every
    // output line as the run's measured phase label. Probes are FIXED
    // work sized for 32 cores (~1 s and ~4.5 s there): at the default
    // local[4] they cost ~8x that, several silent minutes around a
    // one-minute smoke — so they default ON only at >=16 cores (probe
    // values are only comparable at one core count anyway). Env overrides
    // both ways: SPARK_GRAFT_CALIB=1 forces on, =0 forces off.
    val calibOn = sys.env.get("SPARK_GRAFT_CALIB")
      .map(_ != "0").getOrElse(cpus >= 16)
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
    // `failed`, and the run goes to the invalid ledger: see totalOf and
    // ledgerFor).
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
    // a phase boundary, visible as a before/after pair that disagrees
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
        s""""runs":$runsJson,"failed":$failedJson,"cpus":$cpus,""" +
        s""""sf":"$sfDir"}"""
    val sfNum = Bench.parseSf(sfDir)
    // Full-precision, full-name per-query map → a repo file (survives any
    // stdout truncation); [[Bench.ledgerFor]] names the file. The stdout
    // lines (what the driver parses) are unaffected by the routing.
    val (ledger, note) = Bench.ledgerFor(sfNum, distributed, failed)
    note.foreach(n => System.err.println(s"[bench] $n"))
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ledger), fullLine + "\n")
    catch { case NonFatal(e) => System.err.println(
      s"[bench] ledger write to $ledger failed: ${e.getMessage}") }
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
