package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the conf profile this library is designed
  * against, stated once in code instead of scattered through docs.
  *
  * Every value is a starting point computed from cluster shape, not magic:
  *  - shuffle partitions ≈ 2× total cores with AQE coalescing DOWN — at
  *    100 TB the initial number only bounds parallelism, AQE right-sizes
  *    each exchange from runtime stats;
  *  - AQE on (default since Spark 3.2) + skew-join splitting: the runtime
  *    complement to the explicit `Skew` salting (which covers aggregations
  *    and replicated joins AQE does not);
  *  - 128 MiB scan partitions: matches the parquet row-group size the
  *    fixtures and the recommended writers produce — one task per row
  *    group, no tiny-task storms;
  *  - 64 MiB broadcast threshold: dims up to `part`/`customer` size
  *    broadcast; beyond that a shuffle join is genuinely cheaper;
  *  - UTC session timezone: timestamp determinism across engines is part
  *    of the oracle contract (SURVEY §7.2).
  *
  * `GraftExtensions` is injected, so `sorted_intersect_size` and the SoQL
  * geo trio work in SQL strings (`$where`) out of the box.
  */
object GraftSession {

  /** Conf profile for a cluster with `totalCores` executor cores. */
  def recommendedConfs(totalCores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (totalCores * 2).toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  /** A builder pre-loaded with [[recommendedConfs]]; callers may still
    * override any conf before `getOrCreate()`.
    */
  def builder(master: String, totalCores: Int): SparkSession.Builder =
    recommendedConfs(totalCores).foldLeft(
      SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Local session sized like the test harness (local[n], n shuffle
    * partitions — small data wants fewer, not 2× cores).
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    builder(s"local[$cores]", cores)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** True for in-process masters — `local`, `local[N]`, `local[*]`,
    * `local[N,F]` — and false for everything that forks executor JVMs
    * (`local-cluster[...]`, `spark://`, `yarn`, ...). Used by Bench's
    * ledger routing: only a genuinely distributed run may write the
    * cluster ledger, so an explicitly-exported `SPARK_GRAFT_MASTER=
    * local[32]` writes the local ledger instead of silently clobbering
    * BENCH_CLUSTER numbers with in-process ones.
    */
  def isLocalMaster(master: String): Boolean =
    master == "local" || master.matches("""local\[[^\]]*\]""")

  /** The session profile of the repo's mains (Bench, Verify, PlanDump,
    * GenScale, StreamChaos) — pure, spec'd (GraftSessionSpec). Returns
    * the master and the builder confs; `extra` is each main's own
    * additions and overrides, applied last.
    *
    * This is deliberately NOT [[recommendedConfs]]: switching would
    * change the benchmarked and oracle-checked plans (extensions, 64 MiB
    * broadcast), which is a measured decision of its own.
    *
    * Env contract (shared with the tools/ gate scripts):
    *  - SPARK_GRAFT_CPUS           local cores and shuffle partitions
    *    (default 4)
    *  - SPARK_GRAFT_MASTER         master URL (default local[cpus])
    *  - SPARK_GRAFT_JARS           app jar for executor classpaths
    *    (local-cluster / standalone executor JVMs share nothing with the
    *    driver's classpath)
    *  - SPARK_GRAFT_EXEC_MEM       spark.executor.memory
    *  - SPARK_GRAFT_TEXTCACHE_DIR  shared-filesystem TextCache root (the
    *    java-temp fallback is driver-local by definition)
    *  - SPARK_GRAFT_CHECKPOINT_DIR reliable-checkpoint root, applied by
    *    [[harness]] once the session exists
    */
  def harnessConfs(env: Map[String, String],
                   extra: Seq[(String, String)] = Nil)
      : (String, Map[String, String]) = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val cluster = Seq(
      "SPARK_GRAFT_JARS" -> "spark.jars",
      "SPARK_GRAFT_EXEC_MEM" -> "spark.executor.memory",
      "SPARK_GRAFT_TEXTCACHE_DIR" -> graft.functions.TextCache.DirConfKey)
      .flatMap { case (e, k) => env.get(e).map(k -> _) }
    val confs = Map(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ cluster ++ extra
    (env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), confs)
  }

  /** The one session builder of the mains: [[harnessConfs]] over the
    * process env, then SPARK_GRAFT_CHECKPOINT_DIR (which also turns on
    * [[graft.functions.Checkpoints.ReliableConfKey]] — executor loss must
    * not strand an iterative operator mid-loop) and WARN logging. */
  def harness(extra: (String, String)*): SparkSession = {
    val (master, confs) = harnessConfs(sys.env, extra)
    val spark = confs.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").foreach { dir =>
      spark.sparkContext.setCheckpointDir(dir)
      spark.conf.set(graft.functions.Checkpoints.ReliableConfKey, "true")
    }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
