package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (UTC, tiny shuffle fan-out).
  * It carries graft's planner ([[graft.plans.GraftPlanner.install]]) from
  * the start, so every suite sees the plans `SparkEntry.queries` builds,
  * whichever suite runs first; a spec that needs stock planning uses its
  * own `spark.newSession()`.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.GraftPlanner.install(s)
    s
  }
}
