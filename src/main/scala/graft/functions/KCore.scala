package graft.functions

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Round-bounded k-core peel over an undirected pair list (q202's
  * cohesive-subgraph screen): `rounds` SYNCHRONIZED peel rounds, each
  * dropping every vertex whose degree in the surviving subgraph is < k,
  * all at once —
  *
  *   A₀ = all vertices;  A_{r+1} = {v ∈ A_r : |N(v) ∩ A_r| ≥ k}
  *
  * — and the survivors' degrees inside A_rounds. Neighborhoods are
  * multisets: a pair listed twice counts twice, as `count(1)` over the
  * symmetrized edge list does.
  *
  * Same base-case structure as [[Components]] (the filtering/contraction
  * base case of Lattanzi et al., SPAA 2011): the pair list is sized in
  * the job that materializes it, and when its symmetrized edges fit one
  * task ([[Components.LocalEdgeThreshold]]) the whole peel runs in ONE
  * `mapPartitions` task over a primitive CSR adjacency. The distributed
  * form — per round a degree agg, two same-key joins and a lineage cut —
  * costs about four jobs plus a fresh analysis/planning pass per round,
  * driver round-trips that dwarf its task time on any graph one task can
  * hold (q202 at sf0.1, local[4]: 37 jobs and ~0.85 s of task time in a
  * ~2.5 s warm run; single-task: 4 jobs, ~0.8 s). A lazy unroll is no
  * cure: each round reads the edge frame three times, so the unrolled
  * plan grows cubically (OPTIMIZATION_r13).
  */
object KCore {

  private val edgeEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** @param pairs undirected edge list, one row per pair (null endpoints
    *              are dropped — no round keeps them)
    * @param aCol  one endpoint column (integral)
    * @param bCol  other endpoint column (integral)
    * @param k     degree a vertex needs to survive a round
    * @param rounds synchronized peel rounds (≥ 1)
    * @param localEdgeThreshold symmetrized edge count that fits one task
    *        (default [[Components.LocalEdgeThreshold]]); 0 disables the
    *        single-task path, which is how tests reach the distributed
    *        rounds
    * @return (id bigint, deg bigint): every vertex of A_rounds with
    *         deg = |N(v) ∩ A_rounds| > 0. Lazy; reads one checkpoint (the
    *         pair list's, or the last round's), which stays pinned until
    *         the session sweep.
    */
  def peel(pairs: DataFrame, aCol: String, bCol: String, k: Int = 10,
           rounds: Int = 6,
           localEdgeThreshold: Long = Components.LocalEdgeThreshold)
  : DataFrame = {
    require(rounds >= 1, s"KCore.peel: rounds must be >= 1, got $rounds")
    // cut BEFORE symmetrizing: the pair pipeline (q202: a cell join plus
    // haversine) runs once, and its row count rides in the same job
    val Checkpoints.Counted(und, n, _) = Checkpoints.cutCounted(
      pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).cast("long").as("a"),
          col(bCol).cast("long").as("b")))
    if (localEdgeThreshold > 0 && 2 * n <= localEdgeThreshold)
      und.as(edgeEnc).repartition(1)
        .mapPartitions(it => peelLocal(it, k, rounds))(edgeEnc)
        .toDF("id", "deg")
    else distributed(und, k, rounds)
  }

  /** The exact peel in one task: symmetrize into a CSR adjacency over the
    * sorted distinct vertex ids, run the synchronized rounds on an alive
    * mask, then emit each survivor's alive-neighbor count. */
  private def peelLocal(it: Iterator[(Long, Long)], k: Int,
                        rounds: Int): Iterator[(Long, Long)] = {
    val as = new mutable.ArrayBuilder.ofLong
    val bs = new mutable.ArrayBuilder.ofLong
    it.foreach { case (a, b) => as += a; bs += b }
    val src = as.result()
    val dst = bs.result()
    val m = src.length
    val ids = {
      val all = new Array[Long](2 * m)
      System.arraycopy(src, 0, all, 0, m)
      System.arraycopy(dst, 0, all, m, m)
      java.util.Arrays.sort(all)
      var u = 0
      var i = 0
      while (i < all.length) {
        if (u == 0 || all(i) != all(u - 1)) { all(u) = all(i); u += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(all, u)
    }
    val nv = ids.length
    val ai = src.map(java.util.Arrays.binarySearch(ids, _))
    val bi = dst.map(java.util.Arrays.binarySearch(ids, _))
    // CSR: off(v) until off(v + 1) index v's neighbors in adj
    val off = new Array[Int](nv + 1)
    var e = 0
    while (e < m) { off(ai(e) + 1) += 1; off(bi(e) + 1) += 1; e += 1 }
    var v = 0
    while (v < nv) { off(v + 1) += off(v); v += 1 }
    val fill = java.util.Arrays.copyOf(off, nv)
    val adj = new Array[Int](2 * m)
    e = 0
    while (e < m) {
      adj(fill(ai(e))) = bi(e); fill(ai(e)) += 1
      adj(fill(bi(e))) = ai(e); fill(bi(e)) += 1
      e += 1
    }
    def aliveDeg(x: Int, mask: Array[Boolean]): Int = {
      var d = 0
      var j = off(x)
      while (j < off(x + 1)) { if (mask(adj(j))) d += 1; j += 1 }
      d
    }
    val alive = (1 to rounds).foldLeft(Array.fill(nv)(true)) { (cur, _) =>
      Array.tabulate(nv)(x => cur(x) && aliveDeg(x, cur) >= k)
    }
    Iterator.range(0, nv).filter(alive(_))
      .map(x => (ids(x), aliveDeg(x, alive).toLong))
      .filter(_._2 > 0)
  }

  /** Distributed rounds for edge lists beyond one task: symmetrize by
    * union, then per round one two-phase degree agg + two same-key joins
    * on a monotonically shrinking edge frame, on the counted loop driver
    * (a lineage cut per round that frees its predecessor; the pair list
    * is freed once the rounds end). */
  private def distributed(und: DataFrame, k: Int, rounds: Int): DataFrame =
    Checkpoints.iterateCounted(
      und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst"))),
      rounds, inputs = Seq(und)) { prev =>
      val e = prev.frame
      val v = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("src").as("id"))
      e.join(v.select(col("id").as("src")), Seq("src"))
        .join(v.select(col("id").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
    }.frame.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
}
