package graft.functions

import graft.SparkSpec
import graft.operators.ScalarQueries
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** The single-task peel and the distributed rounds are one function:
  * `localEdgeThreshold = 0` forces the distributed rounds, and both paths
  * must return the same (id, deg) rows on every graph shape q202 meets —
  * still shrinking at the last round, peeled to extinction, empty — and
  * on a hand graph whose answer is known. */
class KCoreSpec extends SparkSpec {

  private def both(pairs: DataFrame, k: Int = 10,
                   rounds: Int = 6): (Seq[Row], Seq[Row]) = {
    def rows(threshold: Long) =
      KCore.peel(pairs, "id_a", "id_b", k, rounds, threshold)
        .orderBy("id").collect().toSeq
    (rows(Components.LocalEdgeThreshold), rows(0L))
  }

  test("q202's sf0.01 geo graph: both paths agree on a non-empty core") {
    val (local, dist) = both(
      ScalarQueries.kcorePairs(spark, sfDir.replace("sf0.001", "sf0.01")))
    assert(local.nonEmpty, "sf0.01 is still shrinking at round 6")
    assert(local == dist)
  }

  test("hand graph: 11-clique + pendant path + a duplicated pair") {
    import spark.implicits._
    val clique = for (a <- 1L to 11L; b <- a + 1 to 11L) yield (a, b)
    // the path 11-12-13-14 peels away in round 1; the pair (1, 2) listed
    // twice counts twice, as count(1) over the edge list does
    val pairs = (clique ++ Seq((11L, 12L), (12L, 13L), (13L, 14L), (1L, 2L)))
      .toDF("id_a", "id_b")
    val (local, dist) = both(pairs)
    val expected = Seq(Row(1L, 11L), Row(2L, 11L)) ++
      (3L to 11L).map(Row(_, 10L))
    assert(local == expected)
    assert(dist == expected)
  }

  test("random multigraphs with self-loops: both paths agree for every " +
    "k and round count") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .toDF("id_a", "id_b")
    for ((k, rounds) <- Seq((3, 1), (8, 2), (12, 4))) {
      val (local, dist) = both(pairs, k, rounds)
      assert(local == dist, s"k=$k rounds=$rounds")
    }
  }

  test("sf0.001 peels to extinction on both paths") {
    val (local, dist) = both(ScalarQueries.kcorePairs(spark, sfDir))
    assert(local.isEmpty && dist.isEmpty)
  }

  test("empty input keeps the (id bigint, deg bigint) schema on both paths") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    for (threshold <- Seq(Components.LocalEdgeThreshold, 0L)) {
      val out = KCore.peel(empty, "id_a", "id_b",
        localEdgeThreshold = threshold)
      assert(out.schema.map(f => (f.name, f.dataType)) ==
        Seq("id" -> LongType, "deg" -> LongType))
      assert(out.collect().isEmpty)
    }
  }
}
