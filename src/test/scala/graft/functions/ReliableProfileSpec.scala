package graft.functions

import graft.SparkSpec
import graft.operators.{Bfs, Hierarchy, PageRank}
import org.apache.spark.ReliableProfile
import org.apache.spark.sql.DataFrame

/** Every operator on the two loop drivers, run on the reliable
  * (cluster) checkpoint profile, where every round is cut to checkpoint
  * files and the superseded round released: the rows equal the
  * local-profile run's, the only `rdd-*` checkpoint directories left are
  * the ones the returned frame reads, and the persisted-RDD count stays
  * within the bound `CheckpointsSpec` states for the local profile. */
class ReliableProfileSpec extends SparkSpec {
  import spark.implicits._

  private def sweep(): Unit = Checkpoints.sweep(spark, blocking = true)

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def onBothProfiles(name: String, maxPersisted: Int)(
      run: => DataFrame): Unit =
    test(s"$name: reliable rows equal local, only live checkpoint files " +
      "remain") {
      sweep()
      val local = rows(run)
      assert(local.nonEmpty)
      sweep()
      ReliableProfile(spark) { dir =>
        val out = run
        assert(rows(out) == local)
        assert(ReliableProfile.rddDirs(dir) ==
          Checkpoints.checkpointRddIds(out).map("rdd-" + _).toSet)
        assert(persisted <= maxPersisted,
          s"$name pinned $persisted frames")
      }
      sweep()
    }

  private val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
    (2L, 5L), (6L, 1L)).toDF("src", "dst")
  private val seeds = Seq(1L).toDF("id")

  onBothProfiles("PageRank.ranks", 3) {
    PageRank.ranks((1L to 7L).toDF("id"), edges, iters = 6)
  }

  onBothProfiles("Bfs.hops", 2) {
    Bfs.hops(seeds, edges, rounds = 4)
  }

  onBothProfiles("Bfs.shortestPaths", 2) {
    Bfs.shortestPaths(seeds,
      edges.withColumn("w", $"src" * 10L + $"dst"), rounds = 5)
  }

  onBothProfiles("Hierarchy.flatten (with a parent cycle)", 1) {
    // the 10-11 cycle never settles, so the plateau test ends the loop
    val forest: Seq[(Long, Option[Long])] =
      ((1L, None) +: (2L to 9L).map(i => (i, Some(i - 1)))) ++
        Seq((10L, Some(11L)), (11L, Some(10L)))
    Hierarchy.flatten(forest.toDF("id", "parent"), "id", "parent")
  }

  onBothProfiles("Components.connectedComponents (propagation loop)", 2) {
    val pairs = Seq((1, 2), (2, 3), (3, 7), (7, 8), (50, 60), (60, 61))
      .map { case (a, b) => (f"$a%03d", f"$b%03d") }
    Components.connectedComponents(pairs.toDF("a", "b"), "a", "b")
  }

  onBothProfiles("KCore.peel (distributed rounds)", 1) {
    val clique = for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)
    val pairs = clique ++ Seq((5L, 6L), (6L, 7L))
    KCore.peel(pairs.toDF("id_a", "id_b"), "id_a", "id_b", k = 3,
      rounds = 3, localEdgeThreshold = 0L)
  }

  private val corpus = (for (g <- 0 until 3; i <- 0 until 6) yield {
    val v = Array.fill(4)(i.toFloat)
    v(g) = 100f + i
    ((g * 6 + i).toLong, v)
  }).toDF("vec_id", "embedding")

  onBothProfiles("Ann.kmeans", 1) {
    Ann.kmeans(corpus, "vec_id", "embedding", k = 3, iters = 3)
  }

  onBothProfiles("Ann.kmeans with one iteration (a bound of 0 rounds)", 1) {
    Ann.kmeans(corpus, "vec_id", "embedding", k = 3, iters = 1)
  }
}
