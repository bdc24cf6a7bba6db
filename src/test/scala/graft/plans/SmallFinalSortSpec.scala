package graft.plans

import graft.{SparkEntry, SparkSpec, Tables}
import graft.operators.{AggQueries, CoreQueries, JoinQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.functions.col

class SmallFinalSortSpec extends SparkSpec {

  private def query(name: String, s: SparkSession = spark): DataFrame =
    SparkEntry.queries(name)(s, sfDir)

  private def executed(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The child of the optimized plan's root global sort. */
  private def rootSortChild(plan: LogicalPlan): LogicalPlan = plan match {
    case Project(_, c) => rootSortChild(c)
    case Sort(_, true, c, _) => c
    case other => fail(s"no root sort:\n$other")
  }

  private def oneTask(df: DataFrame): Boolean =
    rootSortChild(df.queryExecution.optimizedPlan) match {
      case Repartition(1, false, _) => true
      case _ => false
    }

  test("q13 and q29 sort their small result in one task: Coalesce 1 " +
    "under the root sort, no range exchange") {
    for (q <- Seq("q13_join_semi", "q29_agg_bool")) {
      val df = query(q)
      assert(oneTask(df), df.queryExecution.optimizedPlan)
      val p = executed(df)
      assert(p.contains("Coalesce 1"), s"$q:\n$p")
      assert(!p.contains("rangepartitioning"), s"$q:\n$p")
    }
  }

  test("a small anti-join over a right side above the threshold keeps " +
    "its range exchange: the one task would read the whole right side") {
    val s = spark.newSession()
    GraftPlanner.install(s)
    val left = Tables.customer(s, sfDir).select("c_custkey")
    val right = Tables.orders(s, sfDir).select("o_custkey")
    val leftBytes = left.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(leftBytes < right.queryExecution.optimizedPlan.stats.sizeInBytes)
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", leftBytes.toString)
    val df = left.join(right, col("c_custkey") === col("o_custkey"),
      "left_anti").orderBy("c_custkey")
    // the anti-join is estimated from its left side alone: its result fits
    assert(rootSortChild(df.queryExecution.optimizedPlan)
      .stats.sizeInBytes <= leftBytes)
    assert(!oneTask(df), df.queryExecution.optimizedPlan)
    val p = executed(df)
    assert(p.contains("rangepartitioning") && !p.contains("Coalesce"), p)
  }

  test("a child above the broadcast threshold keeps its range exchange") {
    val s = spark.newSession()
    for (threshold <- Seq("1", "-1")) {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val df = query("q13_join_semi", s)
      assert(!oneTask(df), s"threshold $threshold")
      assert(executed(df).contains("rangepartitioning"),
        s"threshold $threshold:\n${executed(df)}")
    }
  }

  test("the rule and the install are idempotent") {
    val plain = spark.newSession()
    val before = AggQueries.q29_agg_bool(plain, sfDir)
      .queryExecution.optimizedPlan
    val once = SmallFinalSort(before)
    assert(once != before, "the rule did not fire")
    assert(SmallFinalSort(once) == once)
    GraftPlanner.install(plain)
    GraftPlanner.install(plain)
    assert(plain.experimental.extraOptimizations == Seq(SmallFinalSort))
    assert(plain.experimental.extraStrategies == Seq(TopKStrategy))
  }

  test("a sort under a limit still plans TakeOrderedAndProject (q05)") {
    val p = executed(query("q05_topk_global"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Coalesce 1"), p)
  }

  test("rewritten queries return the same rows in the same order as a " +
    "session without the rule") {
    val plain = spark.newSession()
    val bare: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q02_filter_where" -> CoreQueries.q02_filter_where,
      "q13_join_semi" -> JoinQueries.q13_join_semi,
      "q14_join_anti" -> JoinQueries.q14_join_anti,
      "q29_agg_bool" -> AggQueries.q29_agg_bool)
    for ((name, build) <- bare) {
      val df = query(name)
      assert(oneTask(df), s"$name was not rewritten")
      val want = build(plain, sfDir).collect().toSeq
      assert(want.nonEmpty, name)
      assert(df.collect().toSeq == want, name)
    }
    assert(plain.experimental.extraOptimizations.isEmpty)
  }

  test("TopK.perKey plans TopKPerKeyExec in a fresh session") {
    val s = spark.newSession()
    val p = executed(TopK.perKey(Tables.orders(s, sfDir), Seq("o_custkey"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3))
    assert(p.contains("TopKPerKeyFinal") && p.contains("TopKPerKeyPartial"), p)
  }
}
