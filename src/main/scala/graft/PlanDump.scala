package graft
import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for a named set of queries to per-query
  * files — the before/after plan evidence optimization rounds commit
  * under `plans/`.
  *
  * Usage: PlanDump <outDir> <suffix> q81_sim_jaccard[,q85_...]...
  * Writes <outDir>/<query>_<suffix>.txt per query, for the fixture at
  * SPARK_GRAFT_SF_DIR (default: the sf0.1 test fixture). The session is
  * the harness profile plus [[Bench.SessionConfs]], so at the same
  * SPARK_GRAFT_CPUS (default 4) the dumped plan is the plan the bench
  * times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness(Bench.SessionConfs: _*)
    names.foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query $q"))
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      val w = new java.io.PrintWriter(new java.io.File(outDir, s"${q}_$suffix.txt"))
      try w.println(plan) finally w.close()
      println(s"[plandump] wrote ${q}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
