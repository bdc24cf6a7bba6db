package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Ingest/egress surface (SURVEY §2.3): the reference consumed Socrata
  * JSON/CSV exports and cached CSV locally; the Spark-native equivalents
  * are schema'd CSV/JSON/text readers and parquet/CSV/JSON writers.
  *
  * Readers take an explicit schema — inference is allowed for ad-hoc
  * exploration but correctness paths always pin types (and at 100 TB an
  * inference pass is a full extra read of the data).
  */
object Sources {

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readCsvInferred(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Binary ingestion for multimodal payloads (images/audio/video blobs):
    * each file becomes (path, modificationTime, length, content).
    */
  def readBinary(spark: SparkSession, path: String): DataFrame =
    spark.read.format("binaryFile").load(path)

  /** ORC reader (columnar alternative Spark ships natively; same
    * pushdown/pruning machinery as parquet via the vectorized ORC reader).
    */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Hive-style partitioned parquet layout: one directory per value of
    * `partitionCols` — the 100 TB read path prunes entire directories when
    * a query filters on the partition key (SURVEY §7.4.8: documents
    * partitioned by the blocking key, events by date).
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed + sorted table for co-located joins: two tables bucketed by
    * the same key into the same bucket count join WITHOUT a shuffle (the
    * classic pre-shuffle trade: pay the exchange once at write time).
    * Bucketing requires `saveAsTable` (metastore-tracked layout).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** Write-through materialization (the reference's local dataset cache,
    * SURVEY §4.1): persist `df` at `path` and read it back — downstream
    * stages reuse the materialized copy instead of recomputing the
    * lineage.
    *
    * @param cacheFormat `"parquet"` (default — the columnar copy every
    *                    downstream scan wants) or `"csv"` (the reference
    *                    cached portal fetches as CSV; this knob reproduces
    *                    that observable on-disk behavior for interop with
    *                    tools that expect the gem's cache files). The CSV
    *                    round-trip writes a header and re-infers dtypes on
    *                    read — lossy for exotic types by nature of the
    *                    format, which is exactly why parquet is the
    *                    default.
    */
  def materialize(spark: SparkSession, df: DataFrame, path: String,
                  cacheFormat: String = "parquet"): DataFrame =
    cacheFormat match {
      case "parquet" =>
        writeParquet(df, path)
        spark.read.parquet(path)
      case "csv" =>
        writeCsv(df, path)
        spark.read.option("header", "true").option("inferSchema", "true")
          .csv(path)
      case other =>
        throw new IllegalArgumentException(
          s"materialize: unknown cacheFormat '$other' (parquet|csv)")
    }

  /** Replace the parquet table at `path` with `df`, where `df`'s plan MAY
    * read from `path` itself (the upsert-refresh pattern: merged = cache ∪
    * delta, written back over the cache). A naive overwrite would delete
    * the input out from under the running job; this writes to a staging
    * dir first (fully materializing `df` while the original is still
    * intact), then swaps it in ([[swapParquet]]).
    */
  def replaceParquet(spark: SparkSession, df: DataFrame, path: String)
  : DataFrame = {
    swapParquet(spark, path, "replacing", "replaceParquet") { staging =>
      df.write.mode(SaveMode.Overwrite).parquet(staging)
    }
    spark.read.parquet(path)
  }

  /** Small-file compaction — the maintenance pass every long-lived table
    * needs: streaming sinks, per-batch writers, and fine-grained
    * partitionBy layouts accrete files far smaller than a parquet row
    * group, and at 100 TB the scan's task-scheduling overhead (one task
    * per tiny file, footer reads, no vectorized run length) comes to
    * dominate. Rewrites `path` to `ceil(bytes / targetBytes)` files via
    * `coalesce` (no shuffle — compaction repacks, it does not
    * repartition), then swaps the rewrite in ([[swapParquet]]). Returns
    * the number of files written.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetBytes > 0, s"targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Hive-partitioned layout (key=value subdirs): compact each leaf
    // partition directory independently. A flat rewrite would read the
    // partition columns out of the directory names and re-land everything
    // unpartitioned — destroying directory pruning and the external
    // layout contract. Recursing preserves the tree exactly and sizes
    // files per partition (multi-level key=/key= nests recurse further).
    // Hidden names are not partitions. A leaf that an interrupted swap
    // parked as `.<key=value>.old` is compacted through its live path,
    // where the swap's self-heal restores it (a missing path lists as
    // empty and goes straight to the swap).
    val dirs =
      if (!fs.exists(hPath)) Array.empty[String]
      else fs.listStatus(hPath).filter(_.isDirectory).map(_.getPath.getName)
    val partDirs = (dirs.filterNot(n => n.startsWith(".") || n.startsWith("_")) ++
      dirs.collect { case ParkedLeaf(leaf) => leaf })
      .filter(_.contains("=")).distinct
    if (partDirs.nonEmpty) {
      val files = partDirs.map(d =>
        compactParquet(spark, new org.apache.hadoop.fs.Path(hPath, d).toString,
          targetBytes)).sum
      // a frame over the table root is not under any leaf's path
      spark.catalog.refreshByPath(path)
      return files
    }
    swapParquet(spark, path, "compacting", "compactParquet") { staging =>
      val bytes = fs.getContentSummary(hPath).getLength
      val files = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(path).coalesce(files)
        .write.mode(SaveMode.Overwrite).parquet(staging)
      files.toLong
    }
  }

  /** The live name of a directory [[swapParquet]] parked. */
  private val ParkedLeaf = """\.(.+)\.old""".r

  /** Rewrite the table at `path` through a staging dir: `write` lands the
    * new table at the staging path it is given, then the swap parks the
    * original at `.<name>.old`, promotes the staging dir and drops the
    * parked copy.
    *
    * Crash contract (generic Hadoop FS has no multi-path atomic op, so
    * the swap is RECOVERABLE rather than atomic): every rename's return
    * value is CHECKED (HDFS reports failure by returning false, not by
    * throwing) — a failed step aborts with the data still intact in
    * exactly one of the two named locations, and the next call
    * self-heals before writing: a parked `.old` with no live table is
    * restored; stale staging/`.old` leftovers from an abort after
    * promotion are cleared.
    *
    * The swap bypasses Spark's own overwrite bookkeeping, so the path's
    * entries in the shared Dataset cache are refreshed explicitly: a
    * frame persisted over the old table would otherwise keep serving its
    * rows.
    */
  private def swapParquet[A](spark: SparkSession, path: String,
                             stagingSuffix: String, op: String)
                            (write: String => A): A = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.$stagingSuffix")
    val old = new org.apache.hadoop.fs.Path(
      hPath.getParent, s".${hPath.getName}.old")
    def step(ok: Boolean, what: String): Unit =
      if (!ok) throw new java.io.IOException(
        s"$op: $what failed; data intact at " +
          (if (fs.exists(hPath)) path else old.toString))
    if (fs.exists(old) && !fs.exists(hPath))
      step(fs.rename(old, hPath), s"restore of parked $old")
    if (fs.exists(old)) step(fs.delete(old, true), s"cleanup of stale $old")
    if (fs.exists(staging))
      step(fs.delete(staging, true), s"cleanup of stale $staging")
    val result = write(staging.toString)
    if (fs.exists(hPath)) step(fs.rename(hPath, old), s"park of $path")
    step(fs.rename(staging, hPath), s"promote of $staging")
    fs.delete(old, true) // best-effort; next call clears a leftover
    spark.catalog.refreshByPath(path)
    result
  }
}
