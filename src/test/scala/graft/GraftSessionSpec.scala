package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("isLocalMaster: in-process masters are local; everything that " +
    "forks executor JVMs is not (Bench ledger routing depends on this)") {
    assert(GraftSession.isLocalMaster("local"))
    assert(GraftSession.isLocalMaster("local[4]"))
    assert(GraftSession.isLocalMaster("local[32]"))
    assert(GraftSession.isLocalMaster("local[*]"))
    assert(GraftSession.isLocalMaster("local[2,3]"))
    // real executor JVMs: cluster ledger territory
    assert(!GraftSession.isLocalMaster("local-cluster[2,8,4096]"))
    assert(!GraftSession.isLocalMaster("spark://host:7077"))
    assert(!GraftSession.isLocalMaster("yarn"))
    // unknown/malformed masters classify as non-local: they route to the
    // cluster ledger, never into the local one
    assert(!GraftSession.isLocalMaster("localhost"))
  }

  test("harness profile: Bench at CPUS=4 is its literal session confs " +
    "plus UTC") {
    val (master, confs) = GraftSession.harnessConfs(
      Map("SPARK_GRAFT_CPUS" -> "4"), Bench.SessionConfs)
    assert(master == "local[4]")
    assert(confs == Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.cleaner.periodicGC.interval" -> "90s",
      "spark.sql.files.maxPartitionBytes" -> "8388608",
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC"))
    // no env at all: the same 4-core default for every main
    assert(GraftSession.harnessConfs(Map.empty, Bench.SessionConfs) ==
      (master, confs))
  }

  test("harness profile: Verify's layout overrides replace shuffle " +
    "partitions and turn AQE off") {
    val env = Map("SPARK_GRAFT_CPUS" -> "16",
      "SPARK_GRAFT_SHUFFLE_PARTITIONS" -> "7", "SPARK_GRAFT_AQE" -> "0")
    val (master, confs) =
      GraftSession.harnessConfs(env, Verify.layoutConfs(env))
    assert(master == "local[16]")
    assert(confs == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "false"))
    // without the layout env Verify keeps shuffle partitions = cpus
    val plain = Map("SPARK_GRAFT_CPUS" -> "16")
    assert(GraftSession.harnessConfs(plain, Verify.layoutConfs(plain))._2 ==
      Map("spark.sql.shuffle.partitions" -> "16",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false"))
  }

  test("harness profile: the cluster env maps to spark.jars, executor " +
    "memory, the TextCache root and the master") {
    val (master, confs) = GraftSession.harnessConfs(Map(
      "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,2,1536]",
      "SPARK_GRAFT_JARS" -> "/jars/app.jar",
      "SPARK_GRAFT_EXEC_MEM" -> "1g",
      "SPARK_GRAFT_TEXTCACHE_DIR" -> "/shared/tc"))
    assert(master == "local-cluster[2,2,1536]")
    assert(confs("spark.jars") == "/jars/app.jar")
    assert(confs("spark.executor.memory") == "1g")
    assert(confs(graft.functions.TextCache.DirConfKey) == "/shared/tc")
    assert(confs("spark.sql.shuffle.partitions") == "4")
  }

  test("recommended confs scale shuffle partitions with cores and keep AQE on") {
    val c = GraftSession.recommendedConfs(totalCores = 800)
    assert(c("spark.sql.shuffle.partitions") == "1600")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }

  test("builder applies the profile; extensions make graft SQL functions available") {
    // reuse the shared test session's JVM: build a session from the same
    // builder path (getOrCreate returns the active one with confs checked
    // via the extension registration below)
    val spark = SparkSpec.session
    graft.plans.GraftExtensions.register(spark)
    val n = spark.sql(
      "SELECT sorted_intersect_size(array(1L, 2L), array(2L, 3L)) AS n")
      .head().getInt(0)
    assert(n == 1)
    val wb = spark.sql(
      "SELECT within_box(21.3, -157.8, 21.8, -158.4, 21.2, -157.5) AS b")
      .head().getBoolean(0)
    assert(wb)
  }

  test("round-5 text expressions are SQL-callable and match their Column APIs") {
    val spark = SparkSpec.session
    graft.plans.GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT word_ngrams('a b c', 2) AS g, word_ngrams('x x x', 1) AS gd, " +
        "word_ngrams('x x x', 1, false) AS ga, " +
        "size(minhash_bands('a b c', 8, 4)) AS nb, simhash60('a b c') AS sh")
      .head()
    assert(row.getSeq[String](0) == Seq("a b", "b c"))
    assert(row.getSeq[String](1) == Seq("x"))
    assert(row.getSeq[String](2) == Seq("x", "x", "x"))
    assert(row.getInt(3) == 4)
    // simhash60 must agree with the Column API on the same literal
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val viaCol = Seq("a b c").toDF("t")
      .select(graft.expressions.SimHash60.simhash60(col("t"))).head().getLong(0)
    assert(row.getLong(4) == viaCol)
  }
}
