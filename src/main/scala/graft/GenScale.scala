package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: deterministic fixture scaling — build an sf-N' dir as
  * `factor` key-offset copies of an existing fixture dir (default: sf1
  * from sf0.1 ×10), for scale evidence past the driver-generated tiers
  * (VERDICT r6 item 7).
  *
  * Each copy i offsets every key column by i·base (base = max key + 1 of
  * the source), so uniqueness and every FK relationship hold per copy —
  * copy i is a parallel universe of the source: per-key densities
  * (events per user, lines per order, docs per source) match the driver's
  * fixtures exactly while global cardinalities scale by `factor`, and the
  * event CALENDAR stays fixed, so daily volumes scale — the "10× more
  * users, same window" axis, which is the one that stresses shuffles.
  * `region`/`nation` stay constant (TPC-H semantics: dimensions don't
  * scale). Value columns are copied verbatim; no randomness anywhere, so
  * regeneration is bit-stable and the DuckDB oracle replays the same
  * parquet.
  *
  * Output is one PLAIN parquet file per table (written via a staging dir,
  * then the single part file is moved to `<dest>/<table>.parquet`) so
  * both `spark.read.parquet` and DuckDB `read_parquet('<file>')` — the
  * tools/compare.py contract — accept it. Events are written as
  * TIMESTAMP(MICROS); [[Tables.events]] footer-probes the encoding.
  *
  * Usage: runMain graft.GenScale <srcDir> <destDir> <factor>
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val Array(srcDir, destDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = GraftSession.harness(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    new java.io.File(destDir).mkdirs()

    def base(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** `factor` copies of `df`, each offsetting `keys` by i·itsBase. */
    def scaled(df: DataFrame, keys: Map[String, Long]): DataFrame =
      (0 until factor).map { i =>
        keys.foldLeft(df) { case (d, (k, b)) =>
          d.withColumn(k, col(k) + lit(i * b))
        }
      }.reduce(_.unionByName(_))

    /** Land as ONE plain parquet file at <dest>/<name>.parquet.
      *
      * Timestamps are written as TIMESTAMP_NTZ: [[Tables]] reads the
      * driver fixtures' naive-µs columns as TimestampType via schema
      * override, and writing that back as TimestampType would flip the
      * parquet logical type to isAdjustedToUTC=true — Spark round-trips
      * the same instants either way (session tz = UTC), but DuckDB maps
      * the adjusted form to TIMESTAMPTZ, so any oracle that projects a
      * raw timestamp column (q04, q123) would dtype-mismatch against the
      * naive driver encoding. The cast keeps the scaled fixture
      * bit-compatible with the source on BOTH engines.
      */
    def write(df: DataFrame, name: String): Unit = {
      val staging = s"$destDir/.$name.staging"
      val naive = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.TimestampType)
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name, col(f.name).cast("timestamp_ntz")))
      // Bounded row groups (8 MiB vs the 128 MiB default): coalesce(1)
      // otherwise lands e.g. sf1's 6M-row lineitem in ONE row group, and
      // a one-row-group file is ONE scan task at any maxPartitionBytes —
      // every scan-bound sf1 number then measures single-thread I/O, not
      // the plan (the BASELINE q20 17× artifact). Small groups keep the
      // one-file DuckDB contract while letting split-sized readers
      // parallelize; the driver's own fixtures are ≤12 MiB so their
      // single group never bit.
      naive.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 8L * 1024 * 1024)
        .parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $staging"))
      val target = new java.io.File(s"$destDir/$name.parquet")
      if (target.exists()) target.delete()
      require(part.renameTo(target), s"rename ${part.getPath} -> $target")
      new java.io.File(staging).listFiles().foreach(_.delete())
      new java.io.File(staging).delete()
      println(s"[genscale] $name: ${spark.read.parquet(target.getPath).count()} rows")
    }

    // dimensions: constant across scale (TPC-H rule)
    write(Tables.region(spark, srcDir), "region")
    write(Tables.nation(spark, srcDir), "nation")

    val cust = Tables.customer(spark, srcDir)
    val custBase = base(cust, "c_custkey")
    write(scaled(cust, Map("c_custkey" -> custBase)), "customer")

    val supp = Tables.supplier(spark, srcDir)
    val suppBase = base(supp, "s_suppkey")
    write(scaled(supp, Map("s_suppkey" -> suppBase)), "supplier")

    val part = Tables.part(spark, srcDir)
    val partBase = base(part, "p_partkey")
    write(scaled(part, Map("p_partkey" -> partBase)), "part")

    val orders = Tables.orders(spark, srcDir)
    val orderBase = base(orders, "o_orderkey")
    write(scaled(orders,
      Map("o_orderkey" -> orderBase, "o_custkey" -> custBase)), "orders")

    write(scaled(Tables.lineitem(spark, srcDir),
      Map("l_orderkey" -> orderBase, "l_partkey" -> partBase,
        "l_suppkey" -> suppBase)), "lineitem")

    val ev = Tables.events(spark, srcDir)
    val evBase = base(ev, "event_id")
    val userBase = base(ev, "user_id")
    write(scaled(ev, Map("event_id" -> evBase, "user_id" -> userBase)),
      "events")

    val docs = Tables.documents(spark, srcDir)
    val docBase = base(docs, "doc_id")
    write(scaled(docs, Map("doc_id" -> docBase)), "documents")

    val emb = Tables.embeddings(spark, srcDir)
    val vecBase = base(emb, "vec_id")
    write(scaled(emb, Map("vec_id" -> vecBase)), "embeddings")

    spark.stop()
  }
}
