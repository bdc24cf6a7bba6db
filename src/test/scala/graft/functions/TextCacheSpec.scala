package graft.functions

import graft.{SparkSpec, Tables}
import graft.operators.CorpusQueries
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class TextCacheSpec extends SparkSpec {

  // Each test uses its own spark.newSession() so release never touches
  // artifacts another spec holds in the shared session. `counted` is a
  // form build that records each time it runs.
  private def counted(s: SparkSession,
                      builds: java.util.concurrent.atomic.AtomicInteger,
                      n: Long): DataFrame = {
    builds.incrementAndGet()
    s.range(n).selectExpr("id", "id * id AS sq")
  }

  test("forms are memoized per (session, sfDir): same frame comes back") {
    val s = spark.newSession()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val a = TextCache.form(s, sfDir, "spec-memo")(counted(s, builds, 5))
    assert(TextCache.form(s, sfDir, "spec-memo")(counted(s, builds, 5)) eq a)
    assert(builds.get() == 1)
    // a different name is a different form
    assert(!(TextCache.form(s, sfDir, "spec-memo2")(
      counted(s, builds, 5)) eq a))
    assert(builds.get() == 2)
    TextCache.release(s)
  }

  test("forms are file-backed artifacts: sweep-immune, released on demand") {
    val s = spark.newSession()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val f = TextCache.form(s, sfDir, "spec-file")(counted(s, builds, 9))
    assert(f.count() == 9)
    // materialization must NOT depend on session cache state: a harness
    // sweep between queries (Checkpoints.sweep clears the plan cache and
    // every persistent RDD) leaves the artifact read path untouched —
    // the exact failure mode that cost q100 a 10x regression when the
    // forms were persist()-backed
    Checkpoints.sweep(s)
    assert(s.sparkContext.getPersistentRDDs.isEmpty)
    assert(TextCache.form(s, sfDir, "spec-file")(
      counted(s, builds, 9)).count() == 9)
    assert(builds.get() == 1)
    // the memoized reader scans parquet files, not an in-memory relation
    val files = f.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("graft-textcache")),
      s"expected materialized textcache files, got ${files.take(2).toSeq}")
    TextCache.release(s)
    // files are gone after release...
    assert(!new java.io.File(new java.net.URI(files.head).getPath).exists())
    // ...and the form rebuilds transparently on next access
    assert(TextCache.form(s, sfDir, "spec-file")(
      counted(s, builds, 9)).count() == 9)
    assert(builds.get() == 2)
    TextCache.release(s)
  }

  test("shared tier: the corpus fingerprint tracks content — a changed " +
    "file re-keys the artifacts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fptest-")
    val f = dir.resolve("part.txt")
    java.nio.file.Files.writeString(f, "alpha")
    val fp1 = TextCache.corpusFingerprint(spark, dir.toString)
    java.nio.file.Files.writeString(f, "alpha beta") // longer file
    val fp2 = TextCache.corpusFingerprint(spark, dir.toString)
    assert(fp1 != fp2, "fingerprint missed a content change")
    // unchanged content -> stable key
    assert(fp2 == TextCache.corpusFingerprint(spark, dir.toString))
  }

  test("a table rewritten in the session re-keys cc94: q100 after a " +
    "refresh equals a fresh session's, one artifact left on disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stale-")
    java.nio.file.Files.list(java.nio.file.Paths.get(sfDir)).forEach { src =>
      val dst = dir.resolve(src.getFileName)
      java.nio.file.Files.copy(src, dst)
      dst.toFile.setWritable(true)
    }
    val corpus = dir.toString
    val s = spark.newSession()
    val first = CorpusQueries.q100_dedup_components(s, corpus)
      .collect().toSeq
    assert(first.nonEmpty)
    // the refresh: append a verbatim copy of a clustered document under a
    // new doc_id, swapped in the way PortalSync.refresh does
    val docsPath = s"$corpus/documents.parquet"
    val docs = s.read.schema(Tables.documentsSchema).parquet(docsPath)
    val newId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val copy = docs.filter(col("doc_id") === first.head.getLong(0))
      .withColumn("doc_id", lit(newId))
    Sources.replaceParquet(s, docs.unionByName(copy), docsPath)
    val second = CorpusQueries.q100_dedup_components(s, corpus)
      .collect().toSeq
    val fresh = spark.newSession()
    val expected = CorpusQueries.q100_dedup_components(fresh, corpus)
      .collect().toSeq
    val matchesFresh = second == expected
    assert(matchesFresh, "same-session q100 served a stale cc94")
    val changed = second != first
    assert(changed, "the refresh did not change q100")
    assert(second.exists(_.getLong(0) == newId))
    // the superseded artifact was deleted with the re-key
    val artifact = new java.io.File(new java.net.URI(
      CorpusQueries.q100_dedup_components(s, corpus).inputFiles.head)
      .getPath)
    val root = Iterator.iterate(artifact)(_.getParentFile)
      .takeWhile(_ != null)
      .find(_.getName.startsWith("graft-textcache-")).get
    val cc94 = java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => p.toFile.isDirectory &&
        p.getFileName.toString.startsWith("cc94"))
      .toSeq
    assert(cc94.size == 1, s"expected one cc94 artifact, got $cc94")
    TextCache.release(s)
    TextCache.release(fresh)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
