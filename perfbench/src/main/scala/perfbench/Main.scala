package perfbench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness JVM. `run.py` launches it with `--mode batch` or
  * `--mode stream` once per measured run, and with `--mode setup` for the
  * extra set-up samples (set up, report, exit). It writes one JSON result
  * file (`--out`) that `run.py` turns into metrics and checks against the
  * pinned digests. Set-up runs from JVM launch (`--t0-ms`, taken by
  * `run.py` just before the launch) to a ready session with every table
  * opened through `Tables.*`.
  *
  * Arguments are `--key value` pairs; see `run.py` for the full list.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val launchedMs = a("t0-ms").toLong
    val k = a("k").toInt
    val fixture = a("fixture")

    val t0 = System.nanoTime()
    val spark = session(k, a("work"))
    val t1 = System.nanoTime()
    openTables(spark, fixture)
    val t2 = System.nanoTime()
    val setup = ListMap[String, Any](
      "setup_s" -> (System.currentTimeMillis() - launchedMs) / 1000.0,
      "session_ms" -> (t1 - t0) / 1e6,
      "open_ms" -> (t2 - t1) / 1e6,
      "k" -> k)

    val body: Seq[(String, Any)] = a("mode") match {
      case "setup" => Nil
      case "batch" => Batch.run(spark, a)
      case "stream" => StreamIngest.run(spark, a)
      case other => sys.error(s"unknown mode $other")
    }
    val out = if (a("mode") == "setup") setup else {
      System.err.println(s"${java.time.LocalTime.now()} [main] workload done")
      graft.functions.Checkpoints.sweep(spark, blocking = true)
      setup ++ ListMap[String, Any](
        "master" -> spark.sparkContext.master,
        "spark_version" -> spark.version,
        "jvm" -> (System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version")),
        "retained_heap_mb" -> retainedHeapMb()) ++ body
    }
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.println(Json.render(out)) finally w.close()
    // a set-up sample is complete once written; its scratch space is
    // removed with the run directory
    if (a("mode") == "setup") Runtime.getRuntime.halt(0)
    spark.stop()
  }

  /** The session profile graft's Bench uses for its local runs: k cores,
    * k shuffle partitions, 8 MiB scan splits, UTC. Scratch space stays
    * under `work`. */
  def session(k: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.files.maxPartitionBytes", s"${8L * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Open every fixture table through graft's `Tables` readers. */
  def openTables(spark: SparkSession, dir: String): Seq[DataFrame] = Seq(
    Tables.region(spark, dir), Tables.nation(spark, dir),
    Tables.supplier(spark, dir), Tables.customer(spark, dir),
    Tables.part(spark, dir), Tables.orders(spark, dir),
    Tables.lineitem(spark, dir), Tables.events(spark, dir),
    Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** Driver heap in use after forced collections, in MB. The pauses let
    * the ContextCleaner release the shuffle and broadcast state that the
    * first collections made unreachable. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** The benchmark's own failing operation, used by the self-test to
    * prove that a failure is counted and never lowers a number. */
  val InjectedFailure = "perfbench.injected_failure"

  def lookup(name: String): (SparkSession, String) => DataFrame =
    if (name == InjectedFailure)
      (s, dir) => s.read.parquet(s"$dir/no_such_table.parquet")
    else SparkEntry.queries.getOrElse(name,
      (_: SparkSession, _: String) =>
        throw new NoSuchElementException(s"query $name is not declared"))
}
