package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Layout-invariance overrides (round 12, VERDICT item 4) — pure,
    * spec'd (GraftSessionSpec). The hash contract says every declared
    * query's result is independent of the physical layout;
    * tools/layout_gate.sh measures that wholesale by re-running the whole
    * surface under adversarial shuffle-partition counts
    * (SPARK_GRAFT_SHUFFLE_PARTITIONS = 1 / 7 / 64) with AQE off
    * (SPARK_GRAFT_AQE=0 also removes runtime coalescing, so the raw
    * partition count actually bites). */
  def layoutConfs(env: Map[String, String]): Seq[(String, String)] =
    env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map("spark.sql.shuffle.partitions" -> _).toSeq ++
      (if (env.get("SPARK_GRAFT_AQE").contains("0"))
        Seq("spark.sql.adaptive.enabled" -> "false")
      else Nil)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Distributed-reality profile (round 11, VERDICT item 1): the driver
    // gate runs local[n], but tools/cluster_gate.sh re-runs the whole
    // surface on a local-cluster master — real executor JVMs, real
    // closure serialization, real broadcast/shuffle transport — with the
    // reliable Checkpoints branch on. All of it is the env-driven harness
    // profile, so the driver's contract (two args, local master) is
    // unchanged.
    val spark = GraftSession.harness(layoutConfs(sys.env): _*)
    // Spill evidence (round 12, VERDICT item 2): under the constrained
    // memory-pressure profile (tools/spill_gate.sh) the claim is not just
    // "210/210 correct with 1 GiB executors" but "the spillable paths
    // actually SPILLED instead of OOMing" — a listener sums task-level
    // spill counters so the gate transcript can quote memory/disk spill
    // bytes per query. Listener delivery is async; per-query snapshots
    // are therefore best-effort attribution (a tail task's metrics may
    // land on the next query's line) — the nonzero TOTAL is the gate's
    // evidence, exact per-query split is diagnostic.
    val spillReport =
      sys.env.getOrElse("SPARK_GRAFT_SPILL_REPORT", "0") == "1"
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
    if (spillReport) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
            shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        }
      })
    new java.io.File(outDir).mkdirs()
    // dev-only: SPARK_GRAFT_ONLY=q155_x,q156_y restricts the dump (the
    // driver never sets it; compare.py walks whatever dirs exist)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val (m0, d0) = (spillMem.get, spillDisk.get)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      if (spillReport) {
        val (dm, dd) = (spillMem.get - m0, spillDisk.get - d0)
        if (dm > 0 || dd > 0) System.err.println(
          s"[spill] $name memoryBytesSpilled=$dm diskBytesSpilled=$dd")
      }
      // free the finished query's leftover checkpoint blocks (iterative
      // operators pin their final round; see Checkpoints.sweep)
      graft.functions.Checkpoints.sweep(spark)
    }
    if (spillReport) System.err.println(
      s"[spill] TOTAL memoryBytesSpilled=${spillMem.get} " +
        s"diskBytesSpilled=${spillDisk.get} " +
        s"shuffleBytesWritten=${shuffleWrite.get}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
