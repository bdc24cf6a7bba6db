package graft.functions

import graft.expressions.SimHash60
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate tier (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002; applied to web-scale
  * dedup in Manku/Jain/Sarma, WWW 2007 — public literature).
  *
  * The fingerprint is [[graft.expressions.SimHash60]]: a 60-bit md5-based
  * simhash of the distinct whitespace tokens, computed in one codegen'd
  * pass per row. Near-duplicates have small Hamming distance between
  * fingerprints. For candidate generation the fingerprint is split into
  * 4 bands of 15 bits (docs within Hamming distance 3 must agree on ≥1
  * band — pigeonhole), so the join is a bucket join on a band key, never
  * all-pairs.
  */
object SimHash {

  /** Hamming distance between two fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Candidate pairs (id_a < id_b, `dist` bigint) with Hamming distance
    * ≤ maxDist, generated by banding (4×15-bit bands; band i's key is
    * `i·32768 + slice`) then an exact Hamming check — never an all-pairs
    * join. Sound for maxDist ≤ 3 (pigeonhole over 4 bands). The q96
    * oracle rebuilds the identical fingerprints and bands in SQL.
    *
    * `maxBucket` caps each band bucket through the shared
    * [[MinHashLSH.bandPairs]]: a band shared by m docs emits m²/2 pairs,
    * and exact-dup-heavy corpora — the norm at 100 TB — put a large
    * fraction of the corpus on ONE fingerprint. Buckets above the cap are
    * dropped before pairing; run exact dedup first so identical docs never
    * reach this tier.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, maxBucket: Int = 200): DataFrame = {
    val fp = docs.select(col(idCol).as("id"),
      SimHash60.simhash60(col(textCol)).as("fp"))
    val bandCols = (0 until 4).map(i =>
      lit(i.toLong * 32768L) + shiftright(col("fp"), i * 15).bitwiseAND(32767L))
    val banded = fp.select(col("id"), col("fp"),
      explode(array(bandCols: _*)).as("band"))
    MinHashLSH.bandPairs(banded, maxBucket)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.fp"), col("b.fp")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }
}
