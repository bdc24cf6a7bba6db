package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-sources").toString

  test("parquet → CSV → parquet round-trip preserves data") {
    val dir = tmp()
    val orig = Tables.nation(spark, sfDir)
    Sources.writeCsv(orig, s"$dir/nation_csv")
    val back = Sources.readCsv(spark, s"$dir/nation_csv", Tables.nationSchema)
    assert(back.count() == orig.count())
    assert(back.exceptAll(orig).count() == 0)
    assert(orig.exceptAll(back).count() == 0)
  }

  test("JSON round-trip preserves data and types") {
    val dir = tmp()
    val orig = Tables.region(spark, sfDir)
    Sources.writeJson(orig, s"$dir/region_json")
    val back = Sources.readJson(spark, s"$dir/region_json", Tables.regionSchema)
    assert(back.schema == orig.schema)
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
  }

  test("ORC round-trip preserves data and pushes filters to the scan") {
    val dir = tmp()
    val orig = Tables.customer(spark, sfDir)
    Sources.writeOrc(orig, s"$dir/customer_orc")
    val back = Sources.readOrc(spark, s"$dir/customer_orc", Tables.customerSchema)
    assert(back.schema == orig.schema)
    assert(back.exceptAll(orig).count() == 0 && orig.exceptAll(back).count() == 0)
    // same pushdown machinery as parquet: the filter must reach the scan
    val plan = back.filter(col("c_custkey") === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,42)")
      || plan.contains("EqualTo(c_custkey,42)"), plan.take(1500))
  }

  test("text source reads lines") {
    val dir = tmp()
    Files.write(java.nio.file.Paths.get(dir, "doc.txt"),
      "line one\nline two\n".getBytes)
    val df = Sources.readText(spark, s"$dir/doc.txt")
    assert(df.count() == 2)
    assert(df.columns.toSeq == Seq("value"))
  }

  test("binaryFile source yields content bytes + metadata") {
    val dir = tmp()
    Files.write(java.nio.file.Paths.get(dir, "blob.bin"),
      Array[Byte](1, 2, 3, 4, 5))
    val df = Sources.readBinary(spark, s"$dir/blob.bin")
    val row = df.select("length", "content").collect().head
    assert(row.getLong(0) == 5)
    assert(row.getAs[Array[Byte]](1).toSeq == Seq[Byte](1, 2, 3, 4, 5))
  }

  test("materialize writes through and reads back identical data") {
    val dir = tmp()
    val q = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "P")
    val mat = Sources.materialize(spark, q, s"$dir/p_orders")
    assert(mat.count() == q.count())
    assert(mat.exceptAll(q).count() == 0)
  }

  test("materialize cacheFormat=csv lands reference-style CSV cache files") {
    val dir = tmp()
    val q = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val mat = Sources.materialize(spark, q, s"$dir/nation_csv", "csv")
    // the on-disk cache is genuinely CSV (the gem's observable behavior)
    val files = new java.io.File(s"$dir/nation_csv").listFiles()
    assert(files.exists(_.getName.endsWith(".csv")), files.mkString(","))
    assert(mat.count() == 25)
    val diff = mat.select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .exceptAll(q.select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long")))
    assert(diff.count() == 0)
    intercept[IllegalArgumentException](
      Sources.materialize(spark, q, s"$dir/x", "avro"))
  }

  test("catalog lists every fixture table with schema metadata") {
    val cat = Catalog.list(spark, sfDir).collect()
    val names = cat.map(_.getString(0)).toSet
    assert(Tables.all.toSet.subsetOf(names))
    val li = cat.find(_.getString(0) == "lineitem").get
    assert(li.getInt(2) == 11)
    assert(li.getString(3).contains("l_orderkey"))
  }

  test("partitioned write prunes directories on the partition key") {
    val dir = tmp()
    Sources.writePartitioned(Tables.documents(spark, sfDir),
      s"$dir/docs_by_lang", Seq("lang"))
    val back = spark.read.parquet(s"$dir/docs_by_lang")
    assert(back.count() == Tables.documents(spark, sfDir).count())
    val one = back.filter(col("lang") === "en")
    // the scan leaf must carry the lang predicate as a PartitionFilter
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"partition pruning missing in scan: ${scan.take(400)}")
    val expected = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").count()
    assert(one.count() == expected)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    Sources.writeBucketed(Tables.orders(spark, sfDir), "orders_b", "o_custkey", 4)
    Sources.writeBucketed(
      Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b", "o_custkey", 4)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${plan.take(1500)}")
      assert(j.count() == Tables.orders(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("localCheckpoint truncates lineage, values unchanged") {
    val q = Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "P")
      .select("o_orderkey", "o_custkey")
    val cp = q.localCheckpoint(true)
    assert(cp.collect().toSet == q.collect().toSet)
    // lineage gone: the checkpointed plan is a scan of materialized rows
    assert(!cp.queryExecution.optimizedPlan.toString.contains("Filter"))
  }

  test("permissive CSV ingest captures malformed rows instead of failing") {
    val dir = tmp()
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bad.csv"),
      "r_regionkey,r_name\n0,AFRICA\nnot_an_int,ASIA\n2,EUROPE\n".getBytes)
    val schema = org.apache.spark.sql.types.StructType(
      Tables.regionSchema.fields :+
        org.apache.spark.sql.types.StructField("_corrupt_record",
          org.apache.spark.sql.types.StringType))
    val df = spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(s"$dir/bad.csv").cache()
    try {
      assert(df.count() == 3)
      assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(df.filter(col("r_regionkey").isNull).count() == 1)
    } finally df.unpersist()
  }

  test("compaction repacks a many-small-files table, values unchanged") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val src = Tables.orders(spark, sfDir)
    src.repartition(32).write.parquet(dir) // 32 tiny files
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles >= 32)
    val before = spark.read.parquet(dir).orderBy("o_orderkey").collect()
    val n = Sources.compactParquet(spark, dir, targetBytes = 64L * 1024 * 1024)
    assert(parquetFiles == n, s"expected $n files after compaction")
    assert(parquetFiles < 32)
    val after = spark.read.parquet(dir).orderBy("o_orderkey").collect()
    assert(after.sameElements(before), "compaction changed the data")
  }

  test("compaction of a HIVE-PARTITIONED table preserves the partition " +
    "tree and repacks each leaf independently") {
    val dir = Files.createTempDirectory("graft-compact-part").toString + "/t"
    Tables.documents(spark, sfDir).repartition(8)
      .write.partitionBy("lang").parquet(dir)
    def langDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("lang=")).toSeq
    val before = spark.read.parquet(dir)
      .orderBy("doc_id").collect()
    val nLangs = langDirs.size
    assert(nLangs >= 2, "fixture should have multiple lang partitions")
    val files = Sources.compactParquet(spark, dir)
    // the key=value directories survive; each leaf holds plain parquet
    assert(langDirs.size == nLangs, "compaction destroyed the hive layout")
    assert(files >= nLangs, "expected at least one file per partition")
    langDirs.foreach { d =>
      assert(d.listFiles().exists(_.getName.endsWith(".parquet")),
        s"leaf ${d.getName} lost its files")
    }
    val after = spark.read.parquet(dir).orderBy("doc_id").collect()
    assert(after.sameElements(before), "partitioned compaction changed data")
  }

  test("compaction restores a hive leaf an interrupted swap left parked " +
    "as .<leaf>.old") {
    val dir = Files.createTempDirectory("graft-compact-parked").toString + "/t"
    Tables.documents(spark, sfDir).write.partitionBy("lang").parquet(dir)
    val n = spark.read.parquet(dir).count()
    val leaf = new java.io.File(dir, "lang=en")
    val parked = new java.io.File(dir, ".lang=en.old")
    assert(leaf.renameTo(parked), "could not park the lang=en leaf")
    assert(spark.read.parquet(dir).count() < n, "the parked leaf is visible")
    Sources.compactParquet(spark, dir)
    assert(spark.read.parquet(dir).count() == n)
    assert(leaf.isDirectory && !parked.exists(), "the parked leaf was left")
    assert(!new java.io.File(dir).list().exists(_.endsWith(".old")))
  }

  test("compaction refreshes a Dataset cached over the table, flat or " +
    "hive-partitioned: the cache lists only files that still exist") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val root = Files.createTempDirectory("graft-compact-cache").toString
    Tables.orders(spark, sfDir).repartition(8).write.parquet(s"$root/flat")
    Tables.documents(spark, sfDir).repartition(8)
      .write.partitionBy("lang").parquet(s"$root/part")
    Seq(s"$root/flat", s"$root/part").foreach { dir =>
      val cached = spark.read.parquet(dir).persist()
      try {
        val n = cached.count()
        Sources.compactParquet(spark, dir)
        val reread = spark.read.parquet(dir)
        val listed = reread.queryExecution.withCachedData.collect {
          case r: InMemoryRelation => r.cacheBuilder.cachedPlan.collect {
            case s: FileSourceScanExec => s.relation.location.inputFiles.toSeq
          }.flatten
        }.flatten
        assert(listed.nonEmpty, s"$dir: the re-read missed the cache")
        val gone = listed.filterNot(f =>
          new java.io.File(new java.net.URI(f)).exists())
        assert(gone.isEmpty,
          s"$dir: the cache still lists swapped-out files: ${gone.take(3)}")
        assert(reread.count() == n)
      } finally cached.unpersist()
    }
  }

  test("cached result equals uncached result") {
    val q = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag").agg(round(sum("l_quantity"), 2).as("s"))
    val uncached = q.collect().toSet
    q.cache()
    try {
      assert(q.collect().toSet == uncached)  // populate + compare
      assert(q.collect().toSet == uncached)  // served from cache
    } finally q.unpersist()
  }
}
