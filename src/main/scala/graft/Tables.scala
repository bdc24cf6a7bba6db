package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Schema'd readers for the fixture tables (FIXTURES.md).
  *
  * Every reader applies an explicit `StructType` via `spark.read.schema(...)`
  * so correctness never depends on runtime inference, and so Catalyst can
  * prune columns / push filters against a known schema from the first plan.
  * The reference (mudphone/HawaiiDataPipeline, see /root/reference/README.md:1
  * tombstone) fetched portal-inferred dynamic schemas; here schemas are pinned
  * per SURVEY.md §1.2.
  */
object Tables {

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Raw schema for fixture generations whose `ts` is parquet
    * TIMESTAMP(NANOS), which Spark 4 cannot map to TimestampType (µs) — it
    * is read as epoch-nanos long (`spark.sql.legacy.parquet.nanosAsLong`)
    * and converted in [[events]]. Later fixture generations write
    * TIMESTAMP(MICROS) and use [[eventsSchema]] directly; [[events]]
    * detects which encoding is on disk from the parquet footer.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def read(spark: SparkSession, sfDir: String, table: String,
                   schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$sfDir/$table.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "region", regionSchema)
  def nation(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "nation", nationSchema)
  def supplier(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "supplier", supplierSchema)
  def customer(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "customer", customerSchema)
  def part(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "part", partSchema)
  def orders(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "orders", ordersSchema)
  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "lineitem", lineitemSchema)
  /** `ts` lands as TimestampType (µs) under EITHER fixture encoding.
    * TIMESTAMP(MICROS) files are read directly; TIMESTAMP(NANOS) files
    * (earlier fixture generations) are read as epoch-nanos longs and
    * truncated toward zero via integer `DIV 1000` — bit-identical to
    * DuckDB's ns→µs truncation when it reads the same file, so timestamps
    * hash-match across engines either way. The footer decides, cached
    * per path (one driver-side footer read per fixture dir).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // flip nanosAsLong only for this read, then restore — the flag is
    // session-global and would otherwise silently retype any later
    // nanos-timestamp parquet read (same save/restore as Catalog.list)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val path = s"$sfDir/events.parquet"
      // cache key carries the path's mtime so a fixture regenerated
      // in-place with the OTHER ts encoding is re-probed, not read with a
      // stale schema (LongType nanos as TimestampType or vice versa)
      val nanosOnDisk = tsEncodingCache.getOrElseUpdate(
        (path, new java.io.File(path).lastModified()),
        spark.read.parquet(path)
          .schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
      if (nanosOnDisk)
        read(spark, sfDir, "events", eventsRawSchema)
          .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
      else
        read(spark, sfDir, "events", eventsSchema)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
  private val tsEncodingCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Boolean]
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "documents", documentsSchema)
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    read(spark, sfDir, "embeddings", embeddingsSchema)

  /** All fixture table names, in dependency-ish order. */
  val all: Seq[String] = Seq("region", "nation", "supplier", "customer",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
}
