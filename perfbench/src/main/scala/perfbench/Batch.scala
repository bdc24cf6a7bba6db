package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution

/** Closed-loop batch workload, one client: every query is submitted only
  * after the previous result has been consumed. Pass 0 is the cold pass
  * in the fresh session; warm passes follow until `--seconds` have
  * elapsed (and at least `--min-warm` of them ran). The seed only
  * permutes the query order within each pass. */
object Batch {

  /** Order-independent digest of a query's full output: row count plus
    * the exact sum of per-row xxhash64 values over every column. It folds
    * the rows of the query's own physical plan (`queryExecution.toRdd`,
    * run as one SQL execution like any action), so the plan runs as the
    * query built it: no column is pruned and no sort is dropped. */
  def digest(df: DataFrame): (Long, BigInt) = {
    val qe = df.queryExecution
    val hash = new XxHash64(qe.executedPlan.output.zipWithIndex.map { case (at, i) =>
      BoundReference(i, at.dataType, at.nullable)
    })
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.digest")) {
      qe.toRdd.mapPartitions { rows =>
        val h = UnsafeProjection.create(Seq(hash))
        var n, hi, lo = 0L
        rows.foreach { r =>
          val v = h(r).getLong(0)
          n += 1; hi += v >> 32; lo += v & 0xffffffffL
        }
        Iterator((n, hi, lo))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map { case (_, hi, lo) => (BigInt(hi) << 32) + lo }.sum)
  }

  def run(spark: SparkSession, a: Map[String, String]): Seq[(String, Any)] = {
    val dir = a("fixture")
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val minWarm = a.getOrElse("min-warm", "3").toInt
    val ex = new Executor(spark, dir, a.getOrElse("trace", "0") == "1")
    val passes = mutable.ArrayBuffer.empty[ListMap[String, Any]]

    def runPass(pass: Int): Unit = {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val (jit0, gc0) = (Main.jitMs, Main.gcMs)
      val t0 = System.nanoTime()
      order.foreach(n => ex.runOne(pass, n, Main.lookup(n)))
      passes += ListMap("pass" -> pass, "wall_s" -> (System.nanoTime() - t0) / 1e9,
        "jit_ms" -> (Main.jitMs - jit0), "gc_ms" -> (Main.gcMs - gc0))
    }

    runPass(0)
    val warmStart = System.nanoTime()
    var pass = 1
    while (pass <= minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) {
      runPass(pass)
      pass += 1
    }
    val traced = ex.finish(a("spans"))
    val layers = if (ex.trace) Seq(
      "expressions" -> ListMap(ExprBench.run(exprTexts(spark, dir)): _*),
      "stream_probe" -> StreamIngest.probe(spark, a))
    else Nil
    Seq("execs" -> ex.execs, "passes" -> passes) ++ traced ++ layers
  }

  /** Fixed, seeded batch of document texts for the expression bench:
    * the first 1,000 documents by id. */
  def exprTexts(spark: SparkSession, dir: String): IndexedSeq[String] =
    graft.Tables.documents(spark, dir).orderBy("doc_id").limit(1000)
      .select("text").collect().map(_.getString(0)).toIndexedSeq
}
