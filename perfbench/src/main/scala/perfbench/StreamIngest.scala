package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.Tables
import graft.sources.PortalSync
import graft.streaming.{IdempotentSink, StreamTwins, StreamingCuration}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.TimestampType

/** The write path: micro-batch parquet files of `events` and `documents`
  * rows (cut and duplicated by `run.py` from the seed) are published into
  * the source directories of three file-source streams:
  *
  *  - `dedup`: `StreamTwins.dedupKeyed` into an `IdempotentSink`;
  *  - `tumbling`: `StreamTwins.tumbling` into an `IdempotentSink`;
  *  - `curated`: `StreamingCuration.run` into an `IdempotentSink`; once
  *    committed, each batch is also upserted into a parquet cache with
  *    `PortalSync.refresh`, before the stream takes its next batch.
  *
  * Phases: a cold backlog drain in the fresh session, `warm-rounds` warm
  * backlog drains, then a paced phase (open loop, fixed `rate` in files
  * per second) whose latency runs from each file's due time to the commit
  * of its batch in every stream. The outputs are read back through
  * `IdempotentSink.committedRead` and the cache, as named queries whose
  * digests `run.py` checks against the pins. */
object StreamIngest {

  final case class Cfg(dir: String, nDrain: Int, nWarm: Int, warmRounds: Int,
                       nPaced: Int, rate: Double, cutoffMs: Long) {
    def total: Int = nDrain + nWarm * warmRounds + nPaced
  }

  private def cfg(a: Map[String, String], p: String) = Cfg(
    a(s"${p}dir"), a(s"${p}n-drain").toInt, a(s"${p}n-warm").toInt,
    a(s"${p}warm-rounds").toInt, a(s"${p}n-paced").toInt,
    a(s"${p}rate").toDouble, a(s"${p}cutoff-ms").toLong)

  val Streams: Seq[String] = Seq("dedup", "tumbling", "curated")

  /** The stream workload: all phases plus the traced read-back. */
  def run(spark: SparkSession, a: Map[String, String]): Seq[(String, Any)] = {
    val ex = new Executor(spark, a("fixture"), a.getOrElse("trace", "0") == "1")
    val c = cfg(a, "stream-")
    val stats = measure(spark, c, Some(ex))
    val traced = ex.finish(a("spans"))
    val layers = if (ex.trace) Seq("exec_totals" -> ex.totals(),
      "expressions" -> ListMap(ExprBench.run(Batch.exprTexts(spark, a("fixture"))): _*))
    else Nil
    Seq("stream" -> stats, "execs" -> ex.execs) ++ traced ++ layers
  }

  /** A small fixed run of the same write path, for the stream-layer
    * figures of a traced batch workload. */
  def probe(spark: SparkSession, a: Map[String, String]): ListMap[String, Any] =
    measure(spark, cfg(a, "probe-"), None)

  private def offsetOf(ckpt: String, batchId: Long): Int = {
    val lines = Files.readAllLines(new File(s"$ckpt/offsets/$batchId").toPath)
    """"logOffset"\s*:\s*(\d+)""".r.findFirstMatchIn(lines.asScala.last)
      .map(_.group(1).toInt).getOrElse(-1)
  }

  private def dirBytes(f: File): (Long, Int) =
    if (f.isFile) (f.length, if (f.getName.endsWith(".parquet")) 1 else 0)
    else Option(f.listFiles).map(_.toSeq.map(dirBytes))
      .getOrElse(Nil).foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  def measure(spark: SparkSession, c: Cfg, ex: Option[Executor]): ListMap[String, Any] = {
    val staged = s"${c.dir}/staged"
    val src = s"${c.dir}/src"
    val out = s"${c.dir}/out"
    Seq("events", "docs").foreach(t => new File(s"$src/$t").mkdirs())
    val inputBytes = dirBytes(new File(staged))._1

    var lastMtime = 0L
    def publish(i: Int): Long = {
      val now = System.currentTimeMillis()
      Seq("events", "docs").foreach { t =>
        val name = f"b$i%05d.parquet"
        val to = new File(s"$src/$t/$name")
        Files.move(new File(s"$staged/$t/$name").toPath, to.toPath,
          StandardCopyOption.ATOMIC_MOVE)
        lastMtime = math.max(now, lastMtime + 1)
        to.setLastModified(lastMtime)
      }
      now
    }

    val commits = new ConcurrentHashMap[String, java.lang.Long]()
    val settled = new ConcurrentHashMap[String, java.lang.Long]()
    val sinkMs = new ConcurrentLinkedQueue[Double]()
    val refreshMs = new ConcurrentLinkedQueue[Double]()
    val cache = s"$out/cache"

    def sink(name: String, refresh: Boolean): (DataFrame, Long) => Unit = {
      val path = s"$out/$name"
      val ckpt = s"$out/_ckpt/$name"
      (batch: DataFrame, id: Long) => {
        // the curated batch feeds two writers: persist it once
        val df = if (refresh) batch.persist() else batch
        val t0 = System.nanoTime()
        IdempotentSink.parquetExactlyOnce(path)(df, id)
        sinkMs.add((System.nanoTime() - t0) / 1e6)
        val file = s"$name/${offsetOf(ckpt, id)}"
        commits.putIfAbsent(file, System.currentTimeMillis())
        if (refresh) {
          val t1 = System.nanoTime()
          PortalSync.refresh(spark, cache, Seq("doc_id"), "ts",
            fetchFull = () => df, fetchDelta = pred => df.where(pred))
          refreshMs.add((System.nanoTime() - t1) / 1e6)
          df.unpersist()
        }
        settled.putIfAbsent(file, System.currentTimeMillis())
      }
    }

    def start(name: String, df: DataFrame, refresh: Boolean): StreamingQuery =
      df.writeStream.queryName(name)
        .option("checkpointLocation", s"$out/_ckpt/$name")
        .foreachBatch(sink(name, refresh))
        .start()

    def stream(t: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$src/$t")

    def waitFor(files: Range, queries: Seq[StreamingQuery],
                marks: ConcurrentHashMap[String, java.lang.Long] = commits): Long = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      def done = files.forall(i => Streams.forall(s => marks.containsKey(s"$s/$i")))
      while (!done) {
        queries.flatMap(_.exception).headOption.foreach(e => throw e)
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"stream did not commit files $files")
        Thread.sleep(2)
      }
      files.map(i => Streams.map(s => marks.get(s"$s/$i").longValue).max).max
    }

    // between phases: every published file fully processed (its cache
    // refresh included) and no stream running a trigger, so one phase's
    // tail does not leak into the next phase's timings
    def settle(upTo: Int, queries: Seq[StreamingQuery]): Unit = {
      waitFor(0 until upTo, queries, settled)
      var quiet = 0
      val deadline = System.nanoTime() + 20L * 1000000000L
      while (quiet < 5 && System.nanoTime() < deadline) {
        quiet = if (queries.exists(_.status.isTriggerActive)) 0 else quiet + 1
        Thread.sleep(10)
      }
    }

    def mark(what: String): Unit =
      System.err.println(s"${java.time.LocalTime.now()} [stream] $what")
    val jit0 = Main.jitMs
    // cold drain: the backlog is waiting when the streams start
    val pub0 = (0 until c.nDrain).map(publish).head
    val t0 = System.currentTimeMillis()
    val events = stream("events", Tables.eventsSchema)
    val docs = stream("docs", Tables.documentsSchema.add("ts", TimestampType))
    val queries = Seq(
      start("dedup", StreamTwins.dedupKeyed(events), refresh = false),
      start("tumbling", StreamTwins.tumbling(events), refresh = false),
      start("curated", StreamingCuration.run(docs), refresh = true))
    val coldEnd = waitFor(0 until c.nDrain, queries)
    val coldS = (coldEnd - math.min(pub0, t0)) / 1000.0
    val jitCold = Main.jitMs - jit0
    settle(c.nDrain, queries)
    mark("cold drain done")

    // warm drains
    val gc0 = Main.gcMs
    var next = c.nDrain
    val warm = (1 to c.warmRounds).map { _ =>
      val files = next until next + c.nWarm
      val p = files.map(publish).head
      next += c.nWarm
      val wall = (waitFor(files, queries) - p) / 1000.0
      settle(next, queries)
      wall
    }

    mark("warm drains done")
    // paced phase: open loop at a fixed rate, timed from each due time
    val pacedFiles = next until next + c.nPaced
    val start0 = System.currentTimeMillis() + 50
    val due = pacedFiles.zipWithIndex.map { case (_, j) =>
      start0 + math.round(j * 1000.0 / c.rate) }
    val lateness = pacedFiles.zip(due).map { case (i, d) =>
      val wait = d - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      (publish(i) - d).toDouble
    }
    waitFor(pacedFiles, queries)
    // every batch, its cache refresh included, has finished
    waitFor(0 until c.total, queries, settled)
    val latency = pacedFiles.zip(due).map { case (i, d) =>
      (Streams.map(s => commits.get(s"$s/$i").longValue).max - d).toDouble }
    val gcMs = Main.gcMs - gc0

    mark("paced phase done")
    val progress = queries.map(q => q.name -> q.recentProgress.toSeq).toMap
    queries.foreach(_.stop())
    mark("streams stopped")
    val data = progress.values.flatten.filter(_.numInputRows > 0).toSeq
    def dur(k: String) = data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val finalState = progress.values.flatMap(_.lastOption).flatMap(_.stateOperators)
    val (bytes, files) = Seq("dedup", "tumbling", "curated", "cache")
      .map(n => dirBytes(new File(s"$out/$n")))
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

    // read back what the streams committed
    ex.foreach { e =>
      def read(name: String) = IdempotentSink.committedRead(spark, s"$out/$name")
      e.runOne(1, "stream.dedup_keys",
        (_, _) => read("dedup").select("user_id", "event_type").distinct())
      e.runOne(1, "stream.tumbling", (_, _) => read("tumbling")
        .where(col("window_start") < lit(new java.sql.Timestamp(c.cutoffMs))))
      e.runOne(1, "stream.curated", (_, _) => read("curated"))
      e.runOne(1, "stream.cache", (s, _) => s.read.parquet(cache))
    }

    mark("read-back done")
    ListMap(
      "cold_drain_s" -> coldS, "warm_drain_s" -> warm,
      "latency_ms" -> latency, "lateness_ms" -> lateness,
      "trigger_ms" -> dur("triggerExecution"), "add_batch_ms" -> dur("addBatch"),
      "wal_commit_ms" -> dur("walCommit"), "query_planning_ms" -> dur("queryPlanning"),
      "sink_commit_ms" -> sinkMs.asScala.toSeq, "refresh_ms" -> refreshMs.asScala.toSeq,
      "state_rows" -> finalState.map(_.numRowsTotal).sum,
      "state_mem_mb" -> finalState.map(_.memoryUsedBytes).sum / 1048576.0,
      "bytes_written" -> bytes, "files_written" -> files, "input_bytes" -> inputBytes,
      "jit_cold_ms" -> jitCold, "gc_ms" -> gcMs)
  }
}
