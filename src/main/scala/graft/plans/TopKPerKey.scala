package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumn, GraftDataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Whole-operator Catalyst extension (the (c) rung of SURVEY §2's
  * extension ladder): per-key top-k as a custom `LogicalPlan` +
  * `SparkStrategy` + `SparkPlan` pair, planned as TWO physical passes:
  *
  *   TopKPerKeyExec(final)            -- ClusteredDistribution(keys)
  *     +- Exchange hashpartitioning   -- inserted by EnsureRequirements
  *        +- TopKPerKeyExec(partial)  -- any layout
  *           +- child
  *
  * Why the built-ins can't express this: the DataFrame formulation —
  * `row_number() OVER (PARTITION BY k ORDER BY o) <= n` — plans as
  * Window, which must FULLY SORT every key group and, crucially, cannot
  * reduce before the shuffle: all rows cross the wire. The partial pass
  * here keeps a k-bounded heap per key and ships at most keys×k rows
  * into the exchange — the "map-side combine" of top-k (same idea as
  * partial aggregation; `TakeOrderedAndProject` does it for the GLOBAL
  * top-k, q05, but has no per-key form). O(n log k) per pass, no sort.
  * The partial pass's heap map is MEMORY-BOUNDED: past
  * `graft.topk.partialFlushKeys` distinct keys (default 131072) it
  * flushes its heaps to the output iterator and restarts — the spill
  * valve high-cardinality keys need at 100 TB (see doExecute).
  *
  * Ties on the k boundary follow the heap's arrival order — callers who
  * need determinism pass a TOTAL ordering (unique tie-break column), the
  * same contract every declared window query already follows.
  */
case class TopKPerKeyPlan(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"k=$k must be >= 1")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerKeyPlan =
    copy(child = c)
}

case class TopKPerKeyExec(keys: Seq[Expression], order: Seq[SortOrder],
                          k: Int, partial: Boolean, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKeyFinal"

  // observable like the built-ins: rows out per pass, plus how often the
  // partial pass hit its key cap (a sustained nonzero flush count says
  // the input layout scatters keys — worth a pre-partition upstream)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext,
      "partial heap-map flushes"))

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(keys))

  // the final pass preserves the exchange's hash layout for downstream reuse
  override def outputPartitioning: Partitioning =
    if (partial) super.outputPartitioning else child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = keys
    val sortOrder = order
    val capacity = k
    val isPartial = partial
    // Memory bound for the PARTIAL pass (the map-side combine): at most
    // this many distinct keys live in the heap map at once. When a new
    // key would exceed it, the current heaps FLUSH to the output iterator
    // and the map restarts — correctness is unaffected (the final pass
    // re-merges every partial emission for a key; a flushed key simply
    // ships ≤ flushes×k rows instead of ≤ k), and memory is capped at
    // flushKeys×k rows where unbounded high-cardinality keys would OOM
    // the partial HashMap (built-in partial HashAggregate spills; this is
    // the top-k analogue). The FINAL pass must hold each of its keys'
    // full heap to emit exactly k rows, so it never flushes — its
    // footprint is (keys / shuffle-width)×k, governed by the exchange.
    val flushKeysKey = "graft.topk.partialFlushKeys"
    val flushKeys = graft.functions.Escalation.parseConfInt(flushKeysKey,
      conf.getConfString(flushKeysKey, "131072"))
    require(flushKeys >= 1,
      s"spark conf $flushKeysKey must be at least 1, got $flushKeys")
    val outRows = longMetric("numOutputRows")
    val flushes = longMetric("numFlushes")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      val ord = GenerateOrdering.generate(sortOrder, schema)
      // max-heap w.r.t. rank order: head = worst row currently kept
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      var heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      def insert(row: InternalRow, pq: java.util.PriorityQueue[InternalRow])
      : Unit =
        if (pq.size() < capacity) pq.add(row.copy())
        else if (ord.compare(row, pq.peek()) < 0) {
          pq.poll(); pq.add(row.copy())
        }
      import scala.jdk.CollectionConverters._
      def drain(): Iterator[InternalRow] = {
        val old = heaps
        heaps = new java.util.HashMap()
        old.values().iterator().asScala.flatMap { pq =>
          val rows = pq.toArray(new Array[InternalRow](pq.size()))
          java.util.Arrays.sort(rows, ord) // rank order within each key
          rows.iterator
        }
      }
      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty
        private var inputDone = false
        private def advance(): Boolean = {
          while (!pending.hasNext && !inputDone) {
            var flushed = false
            while (iter.hasNext && !flushed) {
              val row = iter.next()
              val key = keyProj(row)
              var pq = heaps.get(key)
              if (pq == null) {
                if (isPartial && heaps.size() >= flushKeys) {
                  pending = drain() // swaps in a fresh map
                  flushes += 1
                  flushed = true
                }
                pq = new java.util.PriorityQueue[InternalRow](
                  capacity, worstFirst)
                heaps.put(key.copy(), pq)
              }
              insert(row, pq)
            }
            if (!flushed) { pending = drain(); inputDone = true }
          }
          pending.hasNext
        }
        override def hasNext: Boolean = advance()
        override def next(): InternalRow = {
          if (!advance()) throw new NoSuchElementException
          outRows += 1
          pending.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec =
    copy(child = c)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, partial = false,
        TopKPerKeyExec(keys, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** User API. */
object TopK {

  /** The `k` best rows per key group under `order` (first = rank 1).
    * Installs graft's planner, [[TopKStrategy]] included, on the session
    * ([[GraftPlanner.install]]). Pass a TOTAL ordering for deterministic
    * boundary ties.
    */
  def perKey(df: DataFrame, keyCols: Seq[String], order: Seq[Column],
             k: Int): DataFrame = {
    // fail the API misuse here, not as ClusteredDistribution's internal
    // "clustering expressions should not be Nil" at execution planning;
    // global top-k (no keys) is a sort+limit, not this operator
    require(keyCols.nonEmpty,
      "TopK.perKey requires at least one key column; " +
        "for a global top-k use orderBy(...).limit(k)")
    val spark = df.sparkSession
    GraftPlanner.install(spark)
    val keyExprs = keyCols.map(n => GraftColumn.expr(df(n)))
    val sortOrders = order.map(c => GraftColumn.expr(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    })
    GraftDataset.ofRows(spark,
      TopKPerKeyPlan(keyExprs, sortOrders, k, df.queryExecution.analyzed))
  }
}
