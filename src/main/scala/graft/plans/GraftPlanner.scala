package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project,
  Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plans a small final sort in one task.
  *
  * A query's root global `Sort` (under at most a chain of `Project`s)
  * becomes `Sort(order, global = true, Repartition(1, shuffle = false,
  * child))` when the optimizer estimates of its child, and of both sides
  * of every join under it, are at most
  * `spark.sql.autoBroadcastJoinThreshold`. The child then plans as
  * `CoalesceExec(1)`, whose `SinglePartition` satisfies the sort's ordered
  * distribution: neither the range exchange nor the `RangePartitioner`
  * sampling job (which computes the child a second time) is planned.
  *
  * The coalesce has a narrow dependency, so the whole stage after the
  * child's last exchange runs in that one task, not only the sort. The
  * gate therefore bounds what that stage can read, not only what it
  * writes: a semi- or anti-join is estimated from its left side alone, so
  * its right side is checked too (and so are the joins `Except` and
  * `Intersect` become). A threshold of -1 turns the rule off.
  *
  * Only the root is rewritten: a sort under a `Limit` stays
  * `TakeOrderedAndProject`, and a sort feeding further operators keeps its
  * parallel layout. The rule is idempotent (it runs in a fixed-point
  * batch): a child that already is a one-partition repartition is left
  * alone.
  */
object SmallFinalSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case p @ Project(_, child) =>
      val rewritten = apply(child)
      if (rewritten eq child) p else p.copy(child = rewritten)
    case Sort(_, true, Repartition(1, _, _), _) => plan
    case s @ Sort(_, true, child, _) if small(child) =>
      s.copy(child = Repartition(1, shuffle = false, child))
    case _ => plan
  }

  private def small(child: LogicalPlan): Boolean = {
    val joinSides = child.collect { case j: Join => j.children }.flatten
    (child +: joinSides).forall(
      _.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold)
  }
}

/** The one place that changes how a session plans. */
object GraftPlanner {

  /** Register [[SmallFinalSort]] on `spark`'s extra optimizations and
    * [[TopKStrategy]] on its extra strategies, each only if absent.
    * `SparkEntry.queries` and `TopK.perKey` call this on the session they
    * are given; nothing else registers either.
    */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraOptimizations.contains(SmallFinalSort))
        x.extraOptimizations = x.extraOptimizations :+ SmallFinalSort
      if (!x.extraStrategies.contains(TopKStrategy))
        x.extraStrategies = x.extraStrategies :+ TopKStrategy
    }
  }
}
