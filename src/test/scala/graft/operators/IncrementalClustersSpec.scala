package graft.operators

import graft.{SparkSpec, Tables}
import graft.functions.{Components, MinHashLSH}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The nightly-crawl composition, end to end: yesterday's corpus is
  * clustered once; today's batch contributes (new↔new) and (new↔old)
  * LSH candidate pairs only; `Components.update` folds them into the
  * stored assignment. The result must equal clustering the full corpus
  * from scratch — without ever re-deriving the historical pair graph.
  */
class IncrementalClustersSpec extends SparkSpec {

  private def pairs(docs: DataFrame): DataFrame =
    MinHashLSH.candidatePairs(docs, "doc_id", "text",
      k = 8, bands = 4, maxBucket = 200)._1
      .select(col("id_a"), col("id_b")).distinct()

  private def assignMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("update(yesterday's clusters, today's pair batch) == full recompute") {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(col("doc_id") % 5 =!= 0)   // 80% history
    val fresh = docs.filter(col("doc_id") % 5 === 0) // 20% arrives today
    // history clustered once (the materialized artifact)
    val prior = Components.connectedComponents(pairs(old), "id_a", "id_b")
    // today's candidate pairs: only pairs INVOLVING a new doc — the
    // incremental discipline (q75): bands of the union, minus old↔old
    val unionPairs = pairs(docs)
    val newIds = fresh.select(col("doc_id").as("id")).distinct()
    val touchingNew = unionPairs
      .join(newIds.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .unionByName(unionPairs
        .join(newIds.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
        .select("id_a", "id_b"))
      .distinct()
    val updated = Components.update(prior, "id", "component",
      touchingNew, "id_a", "id_b")
    val full = Components.connectedComponents(pairs(docs), "id_a", "id_b")
    val (got, want) = (assignMap(updated), assignMap(full))
    // every node of the full clustering is present with the same label,
    // except nodes that only ever appeared as singletons in `prior`
    // (connectedComponents only emits nodes that appear in SOME pair —
    // both sides agree on that universe)
    assert(got == want,
      s"diff=${(got.toSet diff want.toSet).take(5)} / ${(want.toSet diff got.toSet).take(5)}")
    assert(want.nonEmpty)
  }
}
