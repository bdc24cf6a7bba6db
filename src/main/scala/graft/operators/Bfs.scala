package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded multi-source BFS (k-hop distance labeling) as a deterministic
  * distributed operator — the reachability/distance member of the graph
  * tier next to components (q100), closure (q148), triangles (q151),
  * and PageRank (q157).
  *
  * Each round relaxes one hop: dist'(v) = min(dist(v), 1 + min over
  * in-neighbors u of dist(u)). Distances are small integers and min is
  * idempotent/commutative, so the result is exact and independent of
  * partition layout and merge order — no quantization needed (contrast
  * q157's damped float recurrence). After k rounds the frame holds the
  * exact hop distance for every vertex within k hops of a seed, which a
  * SQL engine replays as k unrolled UNION+min CTEs.
  *
  * Scale shape: the edge frame is repartitioned by src once and
  * checkpointed; each round shuffles only the reached-set frame
  * (≤ |V| rows) to the edge partitioning and min-combines map-side. The
  * rounds run on the fixed-round loop driver
  * [[graft.functions.Checkpoints.iterate]]: lazy on the local profile
  * (the union and the step read the distance frame twice, but both
  * references end at the same aggregate exchange, which AQE reuses, so
  * execution stays linear in rounds), cut per round with the superseded
  * round freed on the reliable one. Unreached vertices simply never
  * enter the frame — no sentinel distances to carry. Hop counting is the
  * weighted relaxation with unit weights: one loop serves both.
  */
object Bfs {

  /** Hop distances after `rounds` relaxations from `seeds` (column id)
    * over directed `edges` (src, dst). Returns (id, hops) for vertices
    * reached within `rounds` hops; seeds are hops=0.
    */
  def hops(seeds: DataFrame, edges: DataFrame, rounds: Int): DataFrame =
    relax(seeds, edges.select(col("src"), col("dst"), lit(1L).as("w")),
      rounds, "hops")

  /** Bounded Bellman–Ford: weighted shortest-path distances after
    * `rounds` relaxations from `seeds` over directed `edges`
    * (src, dst, w) with nonnegative INTEGER weights. Returns (id, dist)
    * for vertices reachable within `rounds` hops — after k rounds,
    * dist(v) is the exact minimum weight over all paths of ≤ k edges
    * (Bellman–Ford's invariant), so with rounds ≥ |V|−1 it is the true
    * shortest path. Integer sums and an idempotent/commutative min make
    * every round layout- and merge-order-independent, and a SQL engine
    * replays the bounded recursion as k unrolled UNION+min CTEs.
    */
  def shortestPaths(seeds: DataFrame, edges: DataFrame,
                    rounds: Int): DataFrame =
    relax(seeds, edges.select(col("src"), col("dst"), col("w")), rounds,
      "dist")

  /** The one relaxation loop: (id, `distCol`) after `rounds` rounds over
    * (src, dst, w) edges. */
  private def relax(seeds: DataFrame, edges: DataFrame, rounds: Int,
                    distCol: String): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    import graft.functions.Checkpoints
    val e = Checkpoints.cut(edges.repartition(col("src")))
    Checkpoints.iterate(seeds.select(col("id"), lit(0L).as(distCol)), rounds,
        inputs = Seq(e)) { dist =>
      val step = e.join(dist, col("src") === col("id"))
        .select(col("dst").as("id"), (col(distCol) + col("w")).as(distCol))
      dist.unionByName(step)
        .groupBy(col("id")).agg(min(col(distCol)).as(distCol))
    }
  }
}
