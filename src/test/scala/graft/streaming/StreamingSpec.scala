package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

/** [[Ev]] with a nullable value column — exercises SQL-sum NULL parity. */
case class EvN(event_id: Long, ts: Timestamp, user_id: Long,
               event_type: String, value: Option[Double], props: String)

case class LangDoc(lang: String, text: String)

case class LangDoc2(doc_id: Long, text: String)

case class TsDoc(doc_id: Long, ts: Timestamp, text: String)

/** Streaming-equivalence suite (SURVEY §5.2.3): the q60–q63 streaming twins
  * produce the same rows as their batch twins on identical input, and the
  * watermark actually drops late data in append mode.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    Ev(1, t("2024-01-01 00:05:00"), 1, "click", 1.0, "{}"),
    Ev(2, t("2024-01-01 00:20:00"), 1, "click", 2.0, "{}"),
    Ev(3, t("2024-01-01 01:10:00"), 1, "view", 3.0, "{}"),   // >30min gap → new session
    Ev(4, t("2024-01-01 00:10:00"), 2, "click", 4.0, "{}"),
    Ev(5, t("2024-01-02 06:00:00"), 2, "click", 5.0, "{}"),  // second day
    Ev(6, t("2024-01-02 06:00:00"), 2, "click", 6.0, "{}"),  // dup key (u2,click)
    Ev(7, t("2024-01-03 00:00:00"), 3, "view", 7.0, "{}"))

  /** run a streaming transform over a MemoryStream of `data`, complete mode */
  private def runStream(data: Seq[Ev], f: DataFrame => DataFrame,
                        mode: OutputMode, name: String): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(data)
    val q = f(mem.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("q60 twin: streaming tumbling agg == batch tumbling agg") {
    val batch = StreamTwins.tumbling(rows.toDF()).collect().toSet
    val stream = runStream(rows, StreamTwins.tumbling(_), OutputMode.Complete(),
      "t60").collect().toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("q61 twin: streaming sliding agg == batch sliding agg") {
    val batch = StreamTwins.sliding(rows.toDF()).collect().toSet
    val stream = runStream(rows, StreamTwins.sliding(_), OutputMode.Complete(),
      "t61").collect().toSet
    assert(stream == batch)
  }

  test("q62 twin: streaming session windows == batch session windows") {
    val batch = StreamTwins.sessions(rows.toDF()).collect().toSet
    val stream = runStream(rows, StreamTwins.sessions(_), OutputMode.Complete(),
      "t62").collect().toSet
    assert(stream == batch)
    // the >30min gap split user 1 into two sessions
    assert(batch.count(_.getLong(0) == 1L) == 2)
  }

  test("q63 twin: dropDuplicatesWithinWatermark keeps one row per key") {
    val stream = runStream(rows, StreamTwins.dedupKeyed(_), OutputMode.Append(),
      "t63")
    val keys = stream.select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(keys.length == keys.distinct.length)
    // (u2, click) appeared 3 times in input → exactly once out
    assert(keys.count(_ == (2L, "click")) == 1)
  }

  test("session-assign twin: streaming session ids == batch Sessionize, " +
    "state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 30L * 60 * 1000000
    val mem = MemoryStream[Ev]
    val q = StreamTwins.sessionAssign(mem.toDF(), gapUs).writeStream
      .format("memory").queryName("tsess").outputMode(OutputMode.Append())
      .start()
    try {
      // split MID-SESSION for user 1: events 1,2 then 3 — the ordinal and
      // the gap anchor must survive the batch boundary in state
      mem.addData(rows.take(2))
      q.processAllAvailable()
      mem.addData(rows.drop(2))
      q.processAllAvailable()
      val stream = spark.table("tsess").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toMap
      val batch = graft.operators.Sessionize
        .assign(rows.toDF(), Seq("user_id"), "ts", "30 MINUTE",
          Seq("event_id"))
        .select("event_id", "session_seq")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(stream == batch)
      // the >30min gap really split: user 1 has two sessions
      assert(stream(1L) == 1L && stream(2L) == 1L && stream(3L) == 2L)
    } finally q.stop()
  }

  test("funnel twin: converts once within 3 days of FIRST signup, state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val funnel = Seq(
      Ev(1, t("2024-01-01 00:00:00"), 1, "signup", 0.0, "{}"),
      Ev(2, t("2024-01-01 12:00:00"), 1, "purchase", 5.0, "{}"),  // converts
      Ev(3, t("2024-01-02 00:00:00"), 1, "purchase", 6.0, "{}"),  // ignored (once)
      Ev(4, t("2024-01-01 00:00:00"), 2, "signup", 0.0, "{}"),
      Ev(5, t("2024-01-05 00:00:00"), 2, "purchase", 7.0, "{}"),  // > 3 days: no
      Ev(6, t("2024-01-02 00:00:00"), 3, "purchase", 8.0, "{}"),  // no signup: no
      Ev(7, t("2024-01-03 00:00:00"), 4, "signup", 0.0, "{}"),
      Ev(8, t("2024-01-06 00:00:00"), 4, "purchase", 9.0, "{}"))  // exactly +3d: yes
    val mem = MemoryStream[Ev]
    val q = StreamTwins.funnelConversions(mem.toDF()).writeStream
      .format("memory").queryName("tfun").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(funnel.take(3))   // u1 signup+purchase, u1 extra purchase
      q.processAllAvailable()
      mem.addData(funnel.drop(3))   // u4's purchase needs u4 signup state
      q.processAllAvailable()
      val stream = spark.table("tfun").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      val batch = StreamTwins.funnelConversions(funnel.toDF()).collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(stream == batch)
      // exactly users 1 and 4 convert; delay is 12h and exactly 3 days
      assert(stream == Set((1L, 43200000000L), (4L, 259200000000L)))
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals: streaming == batch, state carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamTwins.runningTotals(mem.toDF()).writeStream
      .format("memory").queryName("trt").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows.take(4))
      q.processAllAvailable()
      mem.addData(rows.drop(4))     // second batch: state must carry over
      q.processAllAvailable()
      val stream = spark.table("trt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val batch = StreamTwins.runningTotals(rows.toDF()).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(stream == batch)
      // user 2 saw events 4,5,6 -> n_so_far must reach 3 across batches
      assert(stream.exists(t => t._1 == 2L && t._3 == 3L))
    } finally q.stop()
  }

  test("file-based stream source: q60 twin over parquet files == batch") {
    val dir = java.nio.file.Files.createTempDirectory("stream-src").toString
    rows.toDF().write.mode("overwrite").parquet(dir)
    val batch = StreamTwins.tumbling(rows.toDF()).collect().toSet
    val stream = spark.readStream
      .schema(rows.toDF().schema)
      .parquet(dir)
    val q = StreamTwins.tumbling(stream).writeStream
      .format("memory").queryName("tfile")
      .outputMode(OutputMode.Complete()).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("tfile").collect().toSet == batch)
  }

  test("session boundary: a gap of EXACTLY 30:00 merges; strictly greater splits") {
    // Spark session_window merges an event landing exactly gap-length
    // after the previous one (verified here); the q62 oracle's
    // gaps-and-islands SQL uses the same strictly-greater split rule
    val boundary = Seq(
      Ev(1, t("2024-01-01 00:00:00"), 1, "click", 1.0, "{}"),
      Ev(2, t("2024-01-01 00:30:00"), 1, "click", 1.0, "{}"),     // == gap: merges
      Ev(3, t("2024-01-01 01:00:00.000001"), 1, "click", 1.0, "{}")) // > gap: splits
    val sessions = StreamTwins.sessions(boundary.toDF()).collect()
    assert(sessions.length == 2, sessions.mkString(";"))
    val byStart = sessions.sortBy(_.getTimestamp(1).getTime)
    assert(byStart(0).getLong(2) == 2)   // first session holds events 1+2
    assert(byStart(1).getLong(2) == 1)
  }

  test("generated event streams: tumbling twin is streaming==batch under random batching") {
    implicit val sqlCtx = spark.sqlContext
    // deterministic pseudo-random corpus (seeded), split into two batches
    val rnd = new scala.util.Random(42)
    val gen = (0 until 300).map { i =>
      Ev(i.toLong,
        t(f"2024-01-${1 + rnd.nextInt(20)}%02d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"),
        rnd.nextInt(7).toLong,
        Seq("click", "view", "purchase")(rnd.nextInt(3)),
        math.floor(rnd.nextDouble() * 1000) / 100, "{}")
    }
    val (b1, b2) = gen.splitAt(137)
    val mem = MemoryStream[Ev]
    val q = StreamTwins.tumbling(mem.toDF()).writeStream
      .format("memory").queryName("tgen").outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      val stream = spark.table("tgen").collect().toSet
      val batch = StreamTwins.tumbling(gen.toDF()).collect().toSet
      assert(stream == batch)
      assert(batch.size > 10)
    } finally q.stop()
  }

  test("stream-stream interval join: streaming == batch, across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      Ev(10, t("2024-01-01 10:00:00"), 1, "click", 0, "{}"),
      Ev(11, t("2024-01-01 10:30:00"), 1, "click", 0, "{}"),
      Ev(12, t("2024-01-01 09:00:00"), 2, "click", 0, "{}"))
    val purchases = Seq(
      Ev(20, t("2024-01-01 10:45:00"), 1, "purchase", 0, "{}"), // joins 10 & 11
      Ev(21, t("2024-01-01 11:30:00"), 1, "purchase", 0, "{}"), // joins 11 only
      Ev(22, t("2024-01-01 11:00:00"), 2, "purchase", 0, "{}")) // 2h after click: no join
    val batch = StreamTwins.intervalJoin(clicks.toDF(), purchases.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((1L, 10L, 20L), (1L, 11L, 20L), (1L, 11L, 21L)))

    val memC = MemoryStream[Ev]; val memP = MemoryStream[Ev]
    val q = StreamTwins.intervalJoin(memC.toDF(), memP.toDF()).writeStream
      .format("memory").queryName("tssj").outputMode(OutputMode.Append()).start()
    try {
      // clicks arrive first, purchases in a LATER micro-batch — the join
      // state must hold the clicks until their matches arrive
      memC.addData(clicks); q.processAllAvailable()
      memP.addData(purchases); q.processAllAvailable()
      val stream = spark.table("tssj").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("stream-static semi join: contamination hits match the batch twin " +
    "across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    case class Doc(doc_id: Long, text: String)
    val docs = Seq(
      (1L, "the quick brown fox jumps high"),
      (2L, "completely unrelated words here today"),
      (3L, "a quick brown fox appears again"),
      (4L, "the quick brown fox jumps high")) // duplicate of 1
    val evalGrams = Seq("quick brown fox").toDF("gram")
    val batch = StreamTwins.contaminationHits(
        docs.toDF("doc_id", "text"), evalGrams)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(batch == Set((1L, "quick brown fox"), (3L, "quick brown fox"),
      (4L, "quick brown fox")))

    val mem = MemoryStream[(Long, String)]
    val q = StreamTwins.contaminationHits(
        mem.toDF().toDF("doc_id", "text"), evalGrams)
      .writeStream.format("memory").queryName("tcontam")
      .outputMode(OutputMode.Append()).start()
    try {
      // static side is re-joined per micro-batch; stateless append
      mem.addData(docs.take(2)); q.processAllAvailable()
      mem.addData(docs.drop(2)); q.processAllAvailable()
      val stream = spark.table("tcontam").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("watermark drops rows later than watermark + delay in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamTwins.tumbling(mem.toDF(), watermark = "1 hour")
    val q = agg.writeStream.format("memory").queryName("twm")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: events on Jan 1 + a Jan 5 event that pushes the watermark
      mem.addData(rows.take(4))
      q.processAllAvailable()
      mem.addData(Seq(Ev(100, t("2024-01-05 12:00:00"), 9, "click", 1.0, "{}")))
      q.processAllAvailable()
      // batch 2: a straggler from Jan 1 — far behind watermark (Jan 5 11:00)
      mem.addData(Seq(Ev(101, t("2024-01-01 00:30:00"), 9, "late", 99.0, "{}")))
      q.processAllAvailable()
      val out = spark.table("twm")
      assert(out.filter($"event_type" === "late").count() == 0,
        "late row past the watermark must be dropped")
      // the on-time Jan-1 window was finalized and emitted
      assert(out.filter($"event_type" === "click").count() >= 1)
    } finally q.stop()
  }

  test("streaming curation funnel: quality gate + scrub + watermarked dedup " +
    "matches the batch twin across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val good = "the quick brown fox jumps over the lazy dog again and again today" // passes quality
    val pii = s"$good contact me at alice@example.com for details ok"
    val docs = Seq(
      (1L, good, t("2024-01-01 00:01:00")),
      (2L, good, t("2024-01-01 00:05:00")),          // dup of 1 within watermark
      (3L, pii, t("2024-01-01 00:10:00")),           // scrubbed, then unique
      (4L, "join join join !!!", t("2024-01-01 00:12:00")), // fails quality gate
      (5L, pii, t("2024-01-01 00:20:00")))           // dup of 3 post-scrub
    val batch = StreamingCuration.run(
        docs.toDF("doc_id", "text", "ts"))
      .select("text").collect().map(_.getString(0)).toSet
    assert(batch.size == 2 && batch.exists(_.contains("[EMAIL]")))

    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = StreamingCuration.run(
        mem.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("tcur")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(docs.take(3)); q.processAllAvailable()
      mem.addData(docs.drop(3)); q.processAllAvailable()
      val stream = spark.table("tcur").collect()
        .map(_.getAs[String]("text")).toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("LOCF twin: settled grid rows match the batch fill minus the open day, " +
    "state across batches, same-day overwrite, late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    // day numbers are relative to 2024-01-01 = day d0
    val locf = Seq(
      Ev(1, t("2024-01-01 08:00:00"), 1, "purchase", 1.00, "{}"),
      Ev(2, t("2024-01-01 18:00:00"), 1, "purchase", 2.00, "{}"),  // same day: wins
      Ev(3, t("2024-01-04 00:00:00"), 1, "purchase", 9.00, "{}"),  // settles d0, carries d0+1,d0+2
      Ev(4, t("2024-01-02 00:00:00"), 2, "purchase", 3.00, "{}"),
      Ev(5, t("2024-01-03 00:00:00"), 2, "purchase", 4.00, "{}"),  // settles u2 day1
      Ev(6, t("2024-01-01 00:00:00"), 2, "purchase", 8.00, "{}"))  // LATE (< settled): dropped
    val d0 = Math.floorDiv(t("2024-01-01 00:00:00").getTime, 86400000L)
    val mem = MemoryStream[Ev]
    val q = StreamTwins.locfFill(mem.toDF()).writeStream
      .format("memory").queryName("tlocf").outputMode(OutputMode.Append()).start()
    try {
      mem.addData(locf.take(2))   // u1 day 0 still open — nothing emitted yet
      q.processAllAvailable()
      assert(spark.table("tlocf").isEmpty)
      mem.addData(locf.slice(2, 5)) // settling events arrive in a later batch
      q.processAllAvailable()
      mem.addData(locf.drop(5))   // ev6 is late ONLY if it arrives after u2
      q.processAllAvailable()     // settled day 1 (in-batch rows get sorted)
      val got = spark.table("tlocf").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Set(
        (1L, d0, 200L), (1L, d0 + 1, 200L), (1L, d0 + 2, 200L), // settled + carried
        (2L, d0 + 1, 300L))                                     // u2 day1 settled
      assert(got == want)
      // open days (u1 day3, u2 day2) are pending in state, not emitted —
      // they are exactly what batch q144's full-history grid adds
    } finally q.stop()
  }

  test("q127 twin: multi-step funnel transitions == batch min-chain, " +
    "boundaries exact, split-invariant") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      // u1: full conversion — click strictly after signup, purchase after click
      Ev(1, t("2024-01-01 00:00:00"), 1, "signup", 0, "{}"),
      Ev(2, t("2024-01-02 00:00:00"), 1, "click", 0, "{}"),
      Ev(3, t("2024-01-08 00:00:00"), 1, "purchase", 0, "{}"), // EXACTLY t1+7d: counts (<=)
      // u2: click BEFORE signup never qualifies; later click does; purchase
      // before the click (but after signup) does NOT (strict order)
      Ev(4, t("2024-01-01 00:00:00"), 2, "click", 0, "{}"),
      Ev(5, t("2024-01-01 06:00:00"), 2, "signup", 0, "{}"),
      Ev(6, t("2024-01-01 08:00:00"), 2, "purchase", 0, "{}"),
      Ev(7, t("2024-01-01 10:00:00"), 2, "click", 0, "{}"),
      // u3: click past the 7-day window → funnel stalls at step 1
      Ev(8, t("2024-01-01 00:00:00"), 3, "signup", 0, "{}"),
      Ev(9, t("2024-01-09 00:00:00"), 3, "click", 0, "{}"))
    def us(s: String): Long = t(s).getTime * 1000L
    val want = Set(
      (1L, 1L, us("2024-01-01 00:00:00")),
      (1L, 2L, us("2024-01-02 00:00:00")),
      (1L, 3L, us("2024-01-08 00:00:00")),
      (2L, 1L, us("2024-01-01 06:00:00")),
      (2L, 2L, us("2024-01-01 10:00:00")),
      (3L, 1L, us("2024-01-01 00:00:00")))
    def run(chunks: Seq[Seq[Ev]], name: String): Set[(Long, Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.windowFunnelSteps(mem.toDF()).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      } finally q.stop()
    }
    assert(run(Seq(evs), "twf1") == want)
    assert(run(Seq(evs.take(3), evs.slice(3, 7), evs.drop(7)), "twf3") == want)
    // batch evaluation of the twin agrees, and the q127 report is a
    // stateless rollup of emissions: cohort u%4 → step counts
    val batch = StreamTwins.windowFunnelSteps(evs.toDF())
    assert(batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
    val rollup = batch.groupBy(($"user_id" % 4).as("cohort"))
      .agg(
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"step" === 1, 1).otherwise(0))
          .as("n_step1"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"step" === 2, 1).otherwise(0))
          .as("n_step2"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when($"step" === 3, 1).otherwise(0))
          .as("n_step3"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rollup == Set((1L, 1L, 1L, 1L), (2L, 1L, 1L, 0L),
      (3L, 1L, 0L, 0L)))
  }

  test("q126 twin: streamed last-touch attribution == batch evaluation, " +
    "split-invariant; rollup matches q126's touch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, t("2024-01-01 10:00:00"), 1, "click", 0.50, "{}"),
      Ev(2, t("2024-01-01 12:00:00"), 1, "purchase", 10.00, "{}"), // click
      Ev(3, t("2024-01-02 11:30:00"), 1, "purchase", 20.00, "{}"), // 25.5h since click → none
      Ev(4, t("2024-01-02 12:00:00"), 1, "view", 0.00, "{}"),
      Ev(5, t("2024-01-03 12:00:00"), 1, "purchase", 30.00, "{}"), // view, EXACTLY 24h (closed boundary)
      Ev(6, t("2024-01-05 00:00:00"), 2, "purchase", 40.00, "{}"), // no prior → none
      Ev(7, t("2024-01-05 00:10:00"), 2, "purchase", 50.00, "{}")) // purchases never touch → none
    val want = Set(
      (1L, 2L, "click", 1000L),
      (1L, 3L, "none", 2000L),
      (1L, 5L, "view", 3000L),
      (2L, 6L, "none", 4000L),
      (2L, 7L, "none", 5000L))
    def run(chunks: Seq[Seq[Ev]], name: String): Set[(Long, Long, String, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.lastTouch(mem.toDF()).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getLong(4)))
          .toSet
      } finally q.stop()
    }
    assert(run(Seq(evs), "tlt1") == want)
    // per-user in-order batch splits: same emissions (state carries the
    // touch across the 4|5 boundary)
    assert(run(Seq(evs.take(2), evs.slice(2, 4), evs.drop(4)), "tlt3") == want)
    // batch evaluation of the same twin (flatMapGroupsWithState on a
    // static frame) agrees row-for-row
    val batch = StreamTwins.lastTouch(evs.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getLong(4)))
      .toSet
    assert(batch == want)
    // q126's report = stateless rollup of the emissions
    val rollup = StreamTwins.lastTouch(evs.toDF())
      .groupBy($"touch").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_purchases"),
        org.apache.spark.sql.functions.sum($"cents").as("revenue_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rollup == Set(("click", 1L, 1000L), ("view", 1L, 3000L),
      ("none", 3L, 11000L)))
  }

  test("q162 twin: streamed daily EWMA == driver Horner fold with FLOOR " +
    "division (negative sums), batch-split invariant") {
    implicit val sqlCtx = spark.sqlContext
    // refund-heavy days: daily micro sums 1250000, -375000, -2000000 —
    // settling d2 gives num = -7500000, denom = 7, where floor (-1071429,
    // the r7 semantics matching batch q162's pmod-floored DIV and DuckDB
    // //) differs from the old truncation (-1071428)
    val evs = Seq(
      Ev(1, t("2024-01-01 12:00:00"), 1, "purchase", 1.25, "{}"),
      Ev(2, t("2024-01-02 12:00:00"), 1, "refund", -0.375, "{}"),
      Ev(3, t("2024-01-03 12:00:00"), 1, "refund", -2.0, "{}"),
      Ev(4, t("2024-01-04 12:00:00"), 1, "purchase", 0.5, "{}"), // open day
      Ev(5, t("2024-01-01 12:00:00"), 2, "purchase", 3.0, "{}"),
      Ev(6, t("2024-01-03 12:00:00"), 2, "purchase", 4.0, "{}")) // settles u2 d0
    def day(ts: Timestamp): Long =
      Math.floorDiv(ts.getTime * 1000L, 86400000000L)
    val d0 = day(t("2024-01-01 12:00:00"))
    val want = Set(
      (1L, d0, 1L, 1250000L),        // k=1: num=1250000, denom=1
      (1L, d0 + 1, 2L, 166666L),     // num=500000, denom=3 (floor==trunc)
      (1L, d0 + 2, 3L, -1071429L),   // num=-7500000, denom=7: FLOOR
      (2L, d0, 1L, 3000000L))
    def run(chunks: Seq[Seq[Ev]], name: String): Set[(Long, Long, Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.ewmaDaily(mem.toDF()).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      } finally q.stop()
    }
    assert(run(Seq(evs), "tewma1") == want)
    // state carries across batches: split mid-history, same emissions
    assert(run(Seq(evs.take(2), evs.slice(2, 4), evs.drop(4)), "tewma3")
      == want)
  }

  test("top-k twin: emitted entries are batch-split invariant and contain the final top-k") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, t("2024-01-01 00:00:00"), 1, "click", 5.00, "{}"),
      Ev(2, t("2024-01-01 00:01:00"), 1, "click", 3.00, "{}"),
      Ev(3, t("2024-01-01 00:02:00"), 1, "click", 7.00, "{}"),  // enters, evicts 3.00
      Ev(4, t("2024-01-01 00:03:00"), 1, "click", 1.00, "{}"),  // below kth: not emitted
      Ev(5, t("2024-01-01 00:04:00"), 1, "click", 6.00, "{}"),  // enters, evicts 5.00
      Ev(6, t("2024-01-01 00:05:00"), 1, "view", 2.00, "{}"),   // other key: enters
      Ev(7, t("2024-01-01 00:06:00"), 1, "click", 7.00, "{}"))  // ties cents w/ 3; id 7 > 3 loses to it but beats 6.00
    def runSplit(chunks: Seq[Seq[Ev]], name: String): Set[(String, Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.topKEntries(mem.toDF(), 2).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      } finally q.stop()
    }
    val oneBatch = runSplit(Seq(evs), "tk1")
    val threeBatches = runSplit(Seq(evs.take(3), evs.slice(3, 5), evs.drop(5)), "tk3")
    assert(oneBatch == threeBatches)
    // entry history: 5.00 and 3.00 enter first, then 7.00(id3), 6.00, view, 7.00(id7)
    assert(oneBatch == Set(
      ("click", 1L, 500L), ("click", 2L, 300L), ("click", 3L, 700L),
      ("click", 5L, 600L), ("view", 6L, 200L), ("click", 7L, 700L)))
    // the final top-2 per key is contained in the emitted history
    val finalTop = Set(("click", 3L, 700L), ("click", 7L, 700L), ("view", 6L, 200L))
    assert(finalTop.subsetOf(oneBatch))
  }

  test("q173 twin: streaming event pivot == batch, batch-split-invariant") {
    val batch = StreamTwins.eventPivot(rows.toDF()).collect().toSet
    val oneBatch = runStream(rows, StreamTwins.eventPivot(_),
      OutputMode.Complete(), "pv1").collect().toSet
    assert(oneBatch == batch && batch.nonEmpty)
    // split delivery: same final complete-mode answer
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamTwins.eventPivot(mem.toDF()).writeStream
      .format("memory").queryName("pv3").outputMode(OutputMode.Complete())
      .start()
    try {
      Seq(rows.take(2), rows.slice(2, 5), rows.drop(5)).foreach { c =>
        mem.addData(c); q.processAllAvailable()
      }
      assert(spark.table("pv3").collect().toSet == batch)
    } finally q.stop()
  }

  test("streaming LSH candidates == batch candidatePairs (no overflow), " +
    "batch-split-invariant; overflowing buckets go dead") {
    import graft.functions.MinHashLSH
    implicit val sqlCtx = spark.sqlContext
    // fixture docs: near-dup pairs (0,1) and (10,11); 20 distinct others
    val docs = Seq(
      LangDoc2(0L, "spark shuffles partition data across the cluster nodes"),
      LangDoc2(1L, "spark shuffles partition data across the cluster racks"),
      LangDoc2(10L, "filter pushdown reaches the parquet row group stats"),
      LangDoc2(11L, "filter pushdown reaches the parquet row group index")) ++
      (20L until 40L).map(i => LangDoc2(i,
        s"unique document number $i with content token${i}a token${i}b"))
    val batch = MinHashLSH.candidatePairs(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        k = 8, bands = 4, maxBucket = 200)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def runChunks(chunks: Seq[Seq[LangDoc2]], name: String): Set[(Long, Long)] = {
      val mem = MemoryStream[LangDoc2]
      val q = StreamTwins.lshCandidatePairs(mem.toDF(), "doc_id", "text")
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    }
    val one = runChunks(Seq(docs), "lsh1")
    val three = runChunks(Seq(docs.take(2), docs.slice(2, 10), docs.drop(10)),
      "lsh3")
    assert(one == batch && three == batch, s"\nbatch=$batch\none=$one")
    assert(batch.contains((0L, 1L)) && batch.contains((10L, 11L)))
    // overflow: 50 copies of one template with maxBucket=10 — emission
    // stops at the cap instead of going quadratic
    val hot = (100L until 150L).map(i => LangDoc2(i, "the same hot text"))
    val mem = MemoryStream[LangDoc2]
    val q = StreamTwins.lshCandidatePairs(mem.toDF(), "doc_id", "text",
        maxBucket = 10)
      .writeStream.format("memory").queryName("lshhot")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(hot.take(30)); q.processAllAvailable()
      mem.addData(hot.drop(30)); q.processAllAvailable()
      val n = spark.table("lshhot").count()
      // ≤ bands × C(maxBucket, 2) pairs, never C(50, 2) × bands
      assert(n <= 4L * 45L, s"hot bucket emitted $n pairs")
      assert(n > 0L)
    } finally q.stop()
  }

  test("q172 twin: codegen subword counting runs inside a streaming agg " +
    "and matches batch") {
    val docs = Seq(
      LangDoc("en", "the theory of scanning"), LangDoc("en", "sort and merge"),
      LangDoc("de", "apfel Baum"), LangDoc("de", ""), LangDoc("fr", "tion ation"))
    val batch = StreamTwins.tokenStats(docs.toDF()).collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[LangDoc]
    mem.addData(docs)
    val q = StreamTwins.tokenStats(mem.toDF()).writeStream
      .format("memory").queryName("tok1").outputMode(OutputMode.Complete())
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("tok1").collect().toSet
      assert(got == batch && batch.nonEmpty)
      // spot values (BpeTokenCountSpec pins the per-word segmentation):
      // "the theory of scanning" = 1+3+1+5, "sort and merge" = 2+1+3
      val en = spark.table("tok1").filter($"lang" === "en").collect().head
      assert(en.getAs[Long]("n_docs") == 2L)
      assert(en.getAs[Long]("bpe_tokens") == 16L,
        s"en bpe=${en.getAs[Long]("bpe_tokens")}")
      assert(en.getAs[Long]("ws_tokens") == 7L)
    } finally q.stop()
  }

  test("q123 twin: streamed closed SCD2 intervals == batch change-row " +
    "intervals with non-null valid_to, batch-split-invariant") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lag, lead, row_number, unix_micros}
    // extend the shared fixture so user 1 cycles status twice more —
    // three closed intervals total instead of one
    val sc = rows ++ Seq(
      Ev(8, t("2024-01-01 02:00:00"), 1, "click", 1.0, "{}"),
      Ev(9, t("2024-01-01 03:00:00"), 1, "view", 1.0, "{}"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val want = sc.toDF()
      .select(col("user_id"), col("event_type").as("status"), col("ts"),
        col("event_id"))
      .withColumn("prev", lag(col("status"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("status"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("status"), unix_micros(col("ts")).as("f"),
        unix_micros(col("valid_to")).as("t"), col("version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(want.size == 3, s"fixture should close 3 intervals: $want")
    def runChunks(chunks: Seq[Seq[Ev]], name: String): Set[(Long, String, Long, Long, Long)] = {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Ev]
      val q = StreamTwins.scd2Maintain(mem.toDF()).writeStream
        .format("memory").queryName(name).outputMode(OutputMode.Append())
        .start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSet
      } finally q.stop()
    }
    assert(runChunks(Seq(sc), "scd1") == want)
    // per-user in-order chunking (global interleave differs) — same set
    assert(runChunks(Seq(sc.take(4), sc.slice(4, 7), sc.drop(7)), "scd2")
      == want)
  }

  test("q183 twin: online target encoding == batch m-estimate formula, " +
    "batch-split-invariant; encodings move toward user means as events " +
    "arrive") {
    // batch reference: the q183 arithmetic at the fixture's global prior
    val cents = rows.map(e => (e.user_id, math.round(e.value * 100)))
    val prior = cents.map(_._2).sum / cents.size
    val want = cents.groupBy(_._1).map { case (u, cs) =>
      val n = cs.size.toLong
      val s = cs.map(_._2).sum
      (u, n, s, prior, (s + 20L * prior) * 1000L / (n + 20L))
    }.toSet
    val oneBatch = runStream(rows, StreamTwins.targetEncode(_, prior),
      OutputMode.Complete(), "te1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(oneBatch == want && want.nonEmpty)
    // split delivery: per-user integer sums have no order hazard, so the
    // final complete-mode table is identical however the stream chunks
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamTwins.targetEncode(mem.toDF(), prior).writeStream
      .format("memory").queryName("te2").outputMode(OutputMode.Complete())
      .start()
    try {
      mem.addData(rows.take(3)); q.processAllAvailable()
      // user 1 after 3 events: fully absorbed, encoding at its final value
      val mid = spark.table("te2").filter($"user_id" === 1L).collect().head
      assert(mid.getAs[Long]("n") == 3L)
      mem.addData(rows.drop(3)); q.processAllAvailable()
      val got = spark.table("te2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("streaming new/returning increments == batch first-day " +
    "classification, batch-split-invariant (q196 twin)") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val d = rows.toDF().select($"user_id",
      expr("unix_micros(ts) div 86400000000").as("day")).distinct()
    val f = d.groupBy("user_id").agg(min($"day").as("fd"))
    val expect = d.join(f, "user_id")
      .select($"user_id", $"day",
        when($"day" === $"fd", 1L).otherwise(0L).as("is_new"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def runChunks(chunks: Seq[Seq[Ev]], name: String): Set[(Long, Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.newReturning(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      } finally q.stop()
    }
    val one = runChunks(Seq(rows), "nr1")
    // per-user in-order chunking (the documented delivery contract)
    val split = runChunks(
      Seq(rows.take(3), rows.slice(3, 5), rows.drop(5)), "nr3")
    assert(expect.nonEmpty && one == expect && split == expect)
    // a user's second active day is returning, not new
    assert(one.count { case (u, _, n) => u == 2L && n == 1L } == 1)
    assert(one.count { case (u, _, n) => u == 2L && n == 0L } == 1)
  }

  test("q223 twin: streaming daily-active arm emissions == batch " +
    "distinct with Spark's md5 arm, batch-split-invariant; each " +
    "(day, user) emitted exactly once") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val expect = rows.toDF()
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        $"user_id").distinct()
      .withColumn("arm",
        when(substring(md5($"user_id".cast("string")), 1, 4) < "8000",
          "A").otherwise("B"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    def runChunks(chunks: Seq[Seq[Ev]], name: String)
        : Seq[(Long, Long, String)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.dailyActiveArms(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      } finally q.stop()
    }
    val one = runChunks(Seq(rows), "arm1")
    val split = runChunks(
      Seq(rows.take(2), rows.slice(2, 6), rows.drop(6)), "arm3")
    // exactly-once: no duplicate (day, user) rows even when the same
    // user's duplicate-day events arrive in separate batches
    assert(one.size == one.toSet.size && split.size == split.toSet.size)
    assert(expect.nonEmpty && one.toSet == expect && split.toSet == expect)
    // the JVM-side md5 arm agrees with Spark's md5 for every user
    assert(one.map(_._3).toSet.subsetOf(Set("A", "B")))
  }

  test("q121 twin: streamed transition pairs == batch lead() pairs, " +
    "split-invariant across the state carry") {
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, t("2024-01-01 00:00:00"), 1, "view", 0.0, "{}"),
      Ev(2, t("2024-01-01 00:05:00"), 1, "click", 0.0, "{}"),   // ts ties id3:
      Ev(3, t("2024-01-01 00:05:00"), 1, "signup", 0.0, "{}"),  // id order breaks it
      Ev(4, t("2024-01-01 01:00:00"), 1, "purchase", 0.0, "{}"),
      Ev(5, t("2024-01-01 00:00:00"), 2, "click", 0.0, "{}"),
      Ev(6, t("2024-01-02 00:00:00"), 2, "click", 0.0, "{}"),   // self-pair
      Ev(7, t("2024-01-01 00:00:00"), 3, "view", 0.0, "{}"))    // lone event: none
    val want = Set(
      (1L, 2L, "view", "click"), (1L, 3L, "click", "signup"),
      (1L, 4L, "signup", "purchase"), (2L, 6L, "click", "click"))
    def run(chunks: Seq[Seq[Ev]], name: String)
        : Set[(Long, Long, String, String)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.transitions(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getString(3))).toSet
      } finally q.stop()
    }
    assert(run(Seq(evs), "ttr1") == want)
    // the 2|3 tie-pair split lands in one batch; the 5|6 carry crosses one
    assert(run(Seq(evs.take(3), evs.slice(3, 5), evs.drop(5)), "ttr3") == want)
    // q121's matrix == stateless rollup of emissions == lead() on the log
    val rollup = StreamTwins.transitions(evs.toDF())
      .groupBy($"from_type", $"to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val lead = evs.toDF()
      .withColumn("next_type", org.apache.spark.sql.functions
        .lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type", $"next_type").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(rollup == lead && rollup.nonEmpty)
  }

  test("q120 twin: streamed retention increments == batch min-day/" +
    "countDistinct formula; cents boundary and bitset exactly-once hold") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, t("2024-01-01 10:00:00"), 1, "purchase", 200.0, "{}"),  // k=0
      Ev(2, t("2024-01-01 23:00:00"), 1, "purchase", 300.0, "{}"),  // same day: no emit
      Ev(3, t("2024-01-03 10:00:00"), 1, "purchase", 151.0, "{}"),  // k=2 (15100 cents)
      Ev(4, t("2024-01-03 11:00:00"), 1, "click", 500.0, "{}"),     // wrong type
      Ev(5, t("2024-01-04 10:00:00"), 1, "purchase", 150.0, "{}"),  // ==15000: excluded
      Ev(6, t("2024-01-02 10:00:00"), 2, "purchase", 500.0, "{}"),  // cohort d+1, k=0
      Ev(7, t("2024-01-04 10:00:00"), 2, "purchase", 400.0, "{}"))  // k=2
    def day(ts: Timestamp): Long =
      Math.floorDiv(ts.getTime * 1000L, 86400000000L)
    val d0 = day(t("2024-01-01 10:00:00"))
    val want = Set((1L, d0, 0L), (1L, d0, 2L), (2L, d0 + 1, 0L),
      (2L, d0 + 1, 2L))
    def run(chunks: Seq[Seq[Ev]], name: String): Seq[(Long, Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.cohortRetention(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      } finally q.stop()
    }
    val one = run(Seq(evs), "tret1")
    // same-day duplicate split across batches: the bitset still emits once
    val split = run(Seq(evs.take(1), evs.slice(1, 4), evs.drop(4)), "tret3")
    assert(one.size == one.toSet.size && split.size == split.toSet.size)
    assert(one.toSet == want && split.toSet == want)
    // q120's (cohort_day, k, n_users) == stateless rollup of emissions ==
    // the batch min/countDistinct formula on the same rows
    val rollup = StreamTwins.cohortRetention(evs.toDF())
      .groupBy($"cohort_day", $"k").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val active = evs.toDF()
      .filter($"event_type" === "purchase" &&
        org.apache.spark.sql.functions.round($"value" * 100)
          .cast("long") > 15000L)
      .select($"user_id", expr("unix_micros(ts) div 86400000000").as("d"))
    val firsts = active.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.min($"d").as("cohort_day"))
    val batch = active.join(firsts, Seq("user_id"))
      .groupBy($"cohort_day", ($"d" - $"cohort_day").as("k"))
      .agg(org.apache.spark.sql.functions.countDistinct($"user_id").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rollup == batch && rollup.nonEmpty)
  }

  test("q138 twin: dedup-state activity marks are exactly-once; DAU/WAU " +
    "rollups of the marks match q138's distinct formulas") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val evs = Seq(
      Ev(1, t("2024-01-01 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(2, t("2024-01-01 11:00:00"), 1, "view", 0.0, "{}"),     // dup (u1, d0)
      Ev(3, t("2024-01-02 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(4, t("2024-01-01 10:30:00"), 2, "click", 0.0, "{}"),
      Ev(5, t("2024-01-08 10:00:00"), 2, "click", 0.0, "{}"),    // outside d0's week
      Ev(6, t("2024-01-08 10:05:00"), 2, "click", 0.0, "{}"))    // dup (u2, d7)
    def day(ts: Timestamp): Long =
      Math.floorDiv(ts.getTime * 1000L, 86400000000L)
    val d0 = day(t("2024-01-01 10:00:00"))
    val wantMarks = Set((1L, d0), (1L, d0 + 1), (2L, d0), (2L, d0 + 7))
    def run(chunks: Seq[Seq[Ev]], name: String): Seq[(Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.activeMarks(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
      } finally q.stop()
    }
    val one = run(Seq(evs), "tdw1")
    val split = run(Seq(evs.take(2), evs.slice(2, 5), evs.drop(5)), "tdw3")
    assert(one.size == one.toSet.size && split.size == split.toSet.size)
    assert(one.toSet == wantMarks && split.toSet == wantMarks)
    // q138 from the marks: DAU = marks per day; WAU = distinct users over
    // the 7 report days each mark feeds — matches the batch formula's
    // explode + countDistinct on the raw log
    val marks = one.toDF("user_id", "day")
    val dau = marks.groupBy($"day")
      .agg(org.apache.spark.sql.functions.countDistinct($"user_id")
        .as("dau"))
    val wau = marks
      .withColumn("rday", explode(org.apache.spark.sql.functions
        .sequence($"day", $"day" + 6)))
      .groupBy($"rday")
      .agg(org.apache.spark.sql.functions.countDistinct($"user_id")
        .as("wau"))
    val got = dau.join(wau, dau("day") === wau("rday"))
      .select($"day", $"dau", $"wau")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // hand-checked: d0 {u1,u2}, d1 {u1}, d7 {u2}; d1's week covers d0+d1
    // ({u1,u2}), d7's week covers d1..d7 ({u1, u2})
    assert(got == Set((d0, 2L, 2L), (d0 + 1, 1L, 2L), (d0 + 7, 1L, 2L)))
  }

  test("q153 twin: streak state converges under splits and DISORDER; " +
    "latest emission per user == the batch island formula") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // u1 in order: days 0,1,2,5,6 (+ a same-day dup) -> 5 days, streak 3
    // u2 out of order ACROSS batches: 10 first, then 8, then 9 -> the
    // late day 8 re-anchors the bitset, day 9 merges two runs -> streak 3
    val evs = Seq(
      Ev(1, t("2024-03-01 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(2, t("2024-03-02 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(3, t("2024-03-02 18:00:00"), 1, "view", 0.0, "{}"),  // dup day
      Ev(4, t("2024-03-03 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(5, t("2024-03-06 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(6, t("2024-03-07 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(7, t("2024-03-11 10:00:00"), 2, "click", 0.0, "{}"),
      Ev(8, t("2024-03-09 10:00:00"), 2, "click", 0.0, "{}"),  // late-early
      Ev(9, t("2024-03-10 10:00:00"), 2, "click", 0.0, "{}"))  // merges
    def run(chunks: Seq[Seq[Ev]], name: String): Map[Long, (Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.dayStreaks(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        // LATEST emission per user: the memory sink appends in batch
        // order, so the last row per user is the converged summary
        spark.table(name).collect().zipWithIndex
          .groupBy(_._1.getLong(0))
          .map { case (u, rows) =>
            val r = rows.maxBy(_._2)._1
            u -> (r.getLong(1), r.getLong(2))
          }
      } finally q.stop()
    }
    val want = Map(1L -> ((5L, 3L)), 2L -> ((3L, 3L)))
    val one = run(Seq(evs), "tstreak1")
    val split = run(evs.map(Seq(_)), "tstreak9") // fully split: max disorder
    assert(one == want, s"one-shot: $one")
    assert(split == want, s"per-event split: $split")
    // and the batch island formula on the same rows agrees
    val d = evs.toDF()
      .select($"user_id", expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"day")
    val batch = d
      .withColumn("island", $"day" - row_number().over(w))
      .groupBy($"user_id", $"island").agg(count(lit(1)).as("streak"))
      .groupBy($"user_id")
      .agg(sum($"streak").as("n_days"), max($"streak").as("max_streak"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(batch == want)
  }

  test("q218 twin: span state converges under splits and DISORDER; " +
    "the stateless rollup over spans == the batch cohort matrix") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // u1 out of order ACROSS batches: last day 03-05 arrives before the
    // first day 03-01 (min/max folds absorb it); u2 one-day lifetime on
    // the horizon day (active); u3 last seen 03-04 (lapsing at h=03-05)
    val evs = Seq(
      Ev(1, t("2024-03-05 10:00:00"), 1, "click", 0.0, "{}"),
      Ev(2, t("2024-03-01 10:00:00"), 1, "view", 0.0, "{}"),  // late-early
      Ev(3, t("2024-03-03 10:00:00"), 1, "click", 0.0, "{}"), // interior: no emit
      Ev(4, t("2024-03-05 09:00:00"), 2, "click", 0.0, "{}"),
      Ev(5, t("2024-03-01 09:00:00"), 3, "click", 0.0, "{}"),
      Ev(6, t("2024-03-04 09:00:00"), 3, "click", 0.0, "{}"))
    def day(s: String): Long =
      Math.floorDiv(t(s).getTime * 1000L, 86400000000L)
    val want = Map(
      1L -> ((day("2024-03-01 00:00:00"), day("2024-03-05 00:00:00"))),
      2L -> ((day("2024-03-05 00:00:00"), day("2024-03-05 00:00:00"))),
      3L -> ((day("2024-03-01 00:00:00"), day("2024-03-04 00:00:00"))))
    def run(chunks: Seq[Seq[Ev]], name: String): Map[Long, (Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.userSpan(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect().zipWithIndex
          .groupBy(_._1.getLong(0))
          .map { case (u, rows) =>
            val r = rows.maxBy(_._2)._1
            u -> (r.getLong(1), r.getLong(2))
          }
      } finally q.stop()
    }
    val one = run(Seq(evs), "tspan1")
    val split = run(evs.map(Seq(_)), "tspan6") // fully split: max disorder
    assert(one == want, s"one-shot: $one")
    assert(split == want, s"per-event split: $split")
    // an interior day widens nothing: the one-shot run emits exactly one
    // row per user, the split run at most one row per span-widening event
    // (u1: 2 widenings, u2: 1, u3: 2) — checked via the sink row counts
    assert(spark.table("tspan1").count() == 3)
    assert(spark.table("tspan6").count() == 5)
    // q218's matrix from the spans == the batch formula on the same rows
    def matrix(spans: DataFrame): Set[(Long, String, Long, Long)] = {
      val h = spans.agg(max($"d1").as("hday"))
      spans.crossJoin(broadcast(h))
        .select(expr(graft.Det.floorDivSql("d0 + 3", "7")).as("cohort_week"),
          ($"hday" - $"d1").as("age"))
        .select($"cohort_week",
          when($"age" === 0, "1_active")
            .when($"age" === 1, "2_lapsing")
            .otherwise("3_churned").as("state"))
        .groupBy($"cohort_week", $"state")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("share_bp",
          expr("n_users * 10000 div sum(n_users) over " +
            "(partition by cohort_week)"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    }
    val fromTwin = matrix(
      one.toSeq.map { case (u, (a, b)) => (u, a, b) }
        .toDF("user_id", "d0", "d1"))
    val fromBatch = matrix(evs.toDF()
      .select($"user_id", expr(graft.Det.epochDaySql("ts")).as("day"))
      .groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1")))
    assert(fromTwin == fromBatch, s"twin: $fromTwin batch: $fromBatch")
    // hand-check: 03-01 cohort week holds u1 (active) + u3 (lapsing),
    // each 5000 bp; 03-05 cohort week holds u2 alone (active, 10000 bp)
    val w1 = Math.floorDiv(day("2024-03-01 00:00:00") + 3, 7L)
    val w2 = Math.floorDiv(day("2024-03-05 00:00:00") + 3, 7L)
    assert(fromTwin == Set(
      (w1, "1_active", 1L, 5000L), (w1, "2_lapsing", 1L, 5000L),
      (w2, "1_active", 1L, 10000L)))
  }

  test("q122 twin: RFM state converges under splits and DISORDER; " +
    "the stateless segment rollup over emissions == the batch rows") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // u1 out of order ACROSS batches (last day arrives first — the max
    // fold absorbs it); u2 single touch two days before the horizon;
    // u3 a zero-value event on the horizon day (counts for f, not m)
    val evs = Seq(
      Ev(1, t("2024-03-05 10:00:00"), 1, "purchase", 7.50, "{}"),
      Ev(2, t("2024-03-01 10:00:00"), 1, "purchase", 5.00, "{}"),
      Ev(3, t("2024-03-03 10:00:00"), 2, "view", 2.25, "{}"),
      Ev(4, t("2024-03-05 09:00:00"), 3, "click", 0.0, "{}"),
      Ev(5, t("2024-03-04 09:00:00"), 3, "purchase", 3.10, "{}"))
    def day(s: String): Long =
      Math.floorDiv(t(s).getTime * 1000L, 86400000000L)
    val want = Map(
      1L -> ((day("2024-03-05 00:00:00"), 2L, 1250L)),
      2L -> ((day("2024-03-03 00:00:00"), 1L, 225L)),
      3L -> ((day("2024-03-05 00:00:00"), 2L, 310L)))
    def run(chunks: Seq[Seq[Ev]], name: String)
        : (Map[Long, (Long, Long, Long)], Long) = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.userRfm(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        val latest = spark.table(name).collect().zipWithIndex
          .groupBy(_._1.getLong(0))
          .map { case (u, rows) =>
            val r = rows.maxBy(_._2)._1
            u -> (r.getLong(1), r.getLong(2), r.getLong(3))
          }
        (latest, spark.table(name).count())
      } finally q.stop()
    }
    val (one, nOne) = run(Seq(evs), "trfm1")
    val (split, nSplit) = run(evs.map(Seq(_)), "trfm5") // max disorder
    assert(one == want, s"one-shot: $one")
    assert(split == want, s"per-event split: $split")
    // one emission per (user, batch that touched them): 3 one-shot,
    // 5 per-event — the bounded feature-store feed, not an event echo
    assert(nOne == 3 && nSplit == 5)
    // batch q122's (r_days, segment) rollup replayed from the emissions
    // == the same formula on the raw rows
    def rfmRows(perUser: DataFrame): Set[(Long, Long, Long, Long, String)] = {
      val ref = perUser.agg(max($"last_day").as("ref_day"))
      perUser.crossJoin(broadcast(ref))
        .select($"user_id", ($"ref_day" - $"last_day").as("r_days"),
          $"f", $"m_cents")
        .withColumn("segment",
          when($"r_days" <= 0 && $"f" >= 67, "core")
            .when($"r_days" <= 0, "active")
            .when($"f" >= 67, "whale")
            .otherwise("casual"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4)))
        .toSet
    }
    val fromTwin = rfmRows(
      one.toSeq.map { case (u, (d, f, m)) => (u, d, f, m) }
        .toDF("user_id", "last_day", "f", "m_cents"))
    val fromBatch = rfmRows(evs.toDF()
      .select($"user_id", expr(graft.Det.epochDaySql("ts")).as("d"),
        round($"value" * 100).cast("long").as("cents"))
      .groupBy($"user_id")
      .agg(max($"d").as("last_day"), count(lit(1)).as("f"),
        sum($"cents").as("m_cents")))
    assert(fromTwin == fromBatch, s"twin: $fromTwin batch: $fromBatch")
    assert(fromTwin == Set(
      (1L, 0L, 2L, 1250L, "active"), (2L, 2L, 1L, 225L, "casual"),
      (3L, 0L, 2L, 310L, "active")))
    // SQL-sum NULL parity: a user whose every value is NULL gets
    // m_cents = NULL (not 0), one with a mix sums the non-nulls —
    // exactly the batch aggregate's semantics
    val nmem = MemoryStream[EvN]
    val nq = StreamTwins.userRfm(nmem.toDF()).writeStream
      .format("memory").queryName("trfmnull")
      .outputMode(OutputMode.Append()).start()
    try {
      nmem.addData(Seq(
        EvN(1, t("2024-03-01 10:00:00"), 9, "view", None, "{}"),
        EvN(2, t("2024-03-02 10:00:00"), 9, "view", None, "{}"),
        EvN(3, t("2024-03-01 10:00:00"), 8, "view", None, "{}"),
        EvN(4, t("2024-03-02 10:00:00"), 8, "purchase", Some(1.25), "{}")))
      nq.processAllAvailable()
      val got = spark.table("trfmnull").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))))
        .toMap
      assert(got == Map(9L -> ((2L, None)), 8L -> ((2L, Some(125L)))),
        s"null-sum emissions: $got")
    } finally nq.stop()
  }

  test("randomized split-invariance: dayStreaks/userSpan converge to the " +
    "batch formulas on seeded random streams under random batch splits") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // seeded PRNG => deterministic test; random day sets + random splits
    // exercise the re-anchor shift paths no hand-written case covers
    def randomEvents(seed: Int): Seq[Ev] = {
      val rnd = new scala.util.Random(seed)
      (1 to 40).map { i =>
        val u = 1 + rnd.nextInt(4)
        val d = rnd.nextInt(40) // epoch-day offset within a 40-day window
        val ts = new Timestamp(
          Timestamp.valueOf("2024-02-01 00:00:00").getTime +
            d * 86400000L + rnd.nextInt(86400000).toLong)
        Ev(i.toLong, ts, u.toLong, "click", 0.0, "{}")
      }
    }
    def randomSplit(evs: Seq[Ev], seed: Int): Seq[Seq[Ev]] = {
      val rnd = new scala.util.Random(seed * 31 + 7)
      val shuffled = rnd.shuffle(evs) // disorder ACROSS batches too
      shuffled.grouped(4 + rnd.nextInt(6)).toSeq // ~5-10 micro-batches
    }
    def latest(table: String, width: Int): Map[Long, Seq[Long]] =
      spark.table(table).collect().zipWithIndex
        .groupBy(_._1.getLong(0))
        .map { case (u, rows) =>
          val r = rows.maxBy(_._2)._1
          u -> (1 to width).map(r.getLong(_))
        }
    def runTwin(f: DataFrame => DataFrame, chunks: Seq[Seq[Ev]],
                name: String, width: Int): Map[Long, Seq[Long]] = {
      val mem = MemoryStream[Ev]
      val q = f(mem.toDF()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        latest(name, width)
      } finally q.stop()
    }
    Seq(11, 42, 97).foreach { seed =>
      val evs = randomEvents(seed)
      val split = randomSplit(evs, seed)
      val d = evs.toDF()
        .select($"user_id", expr(graft.Det.epochDaySql("ts")).as("day"))
      // batch oracles on the same rows
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"day")
      val streakWant = d.distinct()
        .withColumn("island", $"day" - row_number().over(w))
        .groupBy($"user_id", $"island").agg(count(lit(1)).as("streak"))
        .groupBy($"user_id")
        .agg(sum($"streak").as("n_days"), max($"streak").as("max_streak"))
        .collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2)))
        .toMap
      val spanWant = d.groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2)))
        .toMap
      val streakGot = runTwin(StreamTwins.dayStreaks(_), split,
        s"trand_streak_$seed", 2)
      val spanGot = runTwin(StreamTwins.userSpan, split,
        s"trand_span_$seed", 2)
      assert(streakGot == streakWant, s"seed=$seed dayStreaks: $streakGot")
      assert(spanGot == spanWant, s"seed=$seed userSpan: $spanGot")
      // userRfm shares the commutative-fold family (max/count/sum): same
      // random stream, same random split, batch q122's per-user aggregate
      val rfmWant = evs.toDF()
        .select($"user_id", expr(graft.Det.epochDaySql("ts")).as("day"),
          round($"value" * 100).cast("long").as("cents"))
        .groupBy($"user_id")
        .agg(max($"day").as("ld"), count(lit(1)).as("f"),
          sum($"cents").as("m"))
        .collect()
        .map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val rfmGot = runTwin(StreamTwins.userRfm, split, s"trand_rfm_$seed", 3)
      assert(rfmGot == rfmWant, s"seed=$seed userRfm: $rfmGot")
    }
  }

  test("q166 twin: conversion feed under in-order splits == the batch " +
    "first-view/first-later-purchase rule; rollup replays the batch rows") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // u1 converts; u2's purchase BEFORE its first view must not count
    // (the later one does); u3's purchase at the SAME microsecond as its
    // view must not convert (strict >); u4 never converts (view only);
    // u5's second view is EARLIER within the batch (intra-batch disorder:
    // vus must still be the earlier view)
    val evs = Seq(
      Ev(1, t("2024-03-04 10:00:00"), 1, "view", 0.0, "{}"),
      Ev(2, t("2024-03-04 12:00:00"), 1, "purchase", 5.0, "{}"),
      Ev(3, t("2024-03-04 13:00:00"), 1, "purchase", 5.0, "{}"), // post-conv
      Ev(4, t("2024-03-04 08:00:00"), 2, "purchase", 5.0, "{}"), // pre-view
      Ev(5, t("2024-03-04 09:00:00"), 2, "view", 0.0, "{}"),
      Ev(6, t("2024-03-05 09:30:00"), 2, "purchase", 5.0, "{}"),
      Ev(7, t("2024-03-04 10:00:00"), 3, "view", 0.0, "{}"),
      Ev(8, t("2024-03-04 10:00:00"), 3, "purchase", 5.0, "{}"), // same µs
      Ev(9, t("2024-03-04 10:00:00"), 4, "view", 0.0, "{}"),
      Ev(10, t("2024-03-06 11:00:00"), 5, "view", 0.0, "{}"),
      Ev(11, t("2024-03-06 07:00:00"), 5, "view", 0.0, "{}"),    // earlier
      Ev(12, t("2024-03-06 08:00:00"), 5, "purchase", 5.0, "{}"))
    def us(s: String): Long = t(s).getTime * 1000L
    val want = Map(
      1L -> ((us("2024-03-04 10:00:00"), us("2024-03-04 12:00:00"))),
      2L -> ((us("2024-03-04 09:00:00"), us("2024-03-05 09:30:00"))),
      5L -> ((us("2024-03-06 07:00:00"), us("2024-03-06 08:00:00"))))
    def run(chunks: Seq[Seq[Ev]], name: String): Map[Long, (Long, Long)] = {
      val mem = MemoryStream[Ev]
      val q = StreamTwins.timeToConvert(mem.toDF()).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      } finally q.stop()
    }
    val one = run(Seq(evs), "tconv1")
    // per-user in-order split (the declared contract): chunks cut along
    // global ts order, u5's intra-batch disorder kept inside one chunk
    val ordered = evs.sortBy(e => (e.ts.getTime, e.event_id))
    val split = run(ordered.grouped(3).toSeq, "tconv3")
    assert(one == want, s"one-shot: $one")
    assert(split == want, s"in-order split: $split")
    // exactly one emission per converted user, ever
    assert(spark.table("tconv1").count() == 3)
    assert(spark.table("tconv3").count() == 3)
    // q166's weekday p50/p90 rollup replayed from the emissions == the
    // batch formula on the raw events (expressions verbatim)
    def rollup(perUser: DataFrame): Set[(Long, Long, Long, Long)] = {
      val lat = perUser.select(
        expr("weekday(timestamp_micros(vus)) + 1").cast("long").as("wday"),
        expr("(pus - vus) DIV 1000000").as("lat_s"),
        $"user_id")
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy($"wday").orderBy($"lat_s".asc, $"user_id".asc)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy($"wday")
      lat.withColumn("rn", row_number().over(wOrd))
        .withColumn("nw", count(lit(1)).over(wAll))
        .groupBy($"wday")
        .agg(count(lit(1)).as("n_users"),
          min(when($"rn" * 10 >= $"nw" * 5, $"lat_s")).as("p50_s"),
          min(when($"rn" * 10 >= $"nw" * 9, $"lat_s")).as("p90_s"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    }
    val fromTwin = rollup(
      one.toSeq.map { case (u, (v, p)) => (u, v, p) }
        .toDF("user_id", "vus", "pus"))
    val ev = evs.toDF()
      .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("vus"))
    val p = ev.filter($"event_type" === "purchase")
      .join(v, "user_id").filter($"us" > $"vus")
      .groupBy($"user_id").agg(min($"us").as("pus"))
    val fromBatch = rollup(p.join(v, "user_id")
      .select($"user_id", $"vus", $"pus"))
    assert(fromTwin == fromBatch, s"twin: $fromTwin batch: $fromBatch")
  }

  test("q97 funnel twin: streaming survivors (accepts minus LSH rejects) " +
    "== batch CurationPipeline survivors, batch-split-invariant") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def words(off: Int, drop: Seq[Int] = Nil,
              extra: Seq[String] = Nil): String =
      (((off until off + 20).filterNot(drop.contains).map(i => f"tok$i%03d"))
        ++ extra).mkString(" ")
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(i: Int) = new Timestamp(base + i * 60000L)
    val docs = Seq(
      TsDoc(1L, ts(1), words(0)),                         // survivor
      TsDoc(2L, ts(2), words(0)),                         // exact dup of 1
      TsDoc(3L, ts(3), words(0, drop = Seq(19),           // near dup of 1:
        extra = Seq("tok999"))),                          // J = 19/21 ≈ .905
      TsDoc(4L, ts(4), words(100)),                       // survivor
      TsDoc(5L, ts(5), "join join join !!!"),             // fails the gate
      TsDoc(6L, ts(6), words(100, drop = Seq(119),
        extra = Seq("tok998"))),                          // near dup of 4
      TsDoc(7L, ts(7), words(200)),                       // survivor
      TsDoc(8L, ts(8), words(100)),                       // exact dup of 4
      TsDoc(9L, ts(9), words(0, drop = Seq(18, 19),       // near dup of the
        extra = Seq("tok999", "tok997"))))                // REJECTED 3 only:
    // doc3 = {tok000..018, tok999}, doc9 = {tok000..017, tok999, tok997}:
    // J(3,9)=19/21 ≥ .9 but J(1,9)=18/22 < .9 — pins the batch rule that
    // losers keep rejecting others (id 9 must fall via already-loser 3)
    val cfg = graft.operators.CurationPipeline.Config()
    val want = graft.operators.CurationPipeline
      .run(docs.toDF(), cfg, collectStats = false)
      .curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want == Set(1L, 4L, 7L), s"batch fixture drifted: $want")
    def runFunnel(chunks: Seq[Seq[TsDoc]], name: String)
    : (Set[Long], Set[Long]) = {
      val memDocs = MemoryStream[TsDoc]
      val memAcc = MemoryStream[LangDoc2]
      val q1 = StreamTwins.funnelAccepts(memDocs.toDF())
        .writeStream.format("memory").queryName(s"${name}_acc")
        .outputMode(OutputMode.Append()).start()
      val q2 = StreamTwins.funnelNearDupRejects(memAcc.toDF(),
          maxBucket = cfg.maxBucket, minJaccard = cfg.nearDupJaccard,
          k = cfg.minhashK, bands = cfg.minhashBands)
        .writeStream.format("memory").queryName(s"${name}_rej")
        .outputMode(OutputMode.Append()).start()
      try {
        // the production layout: stage 1's append output feeds stage 2
        // through a checkpointed hop — replayed here chunk by chunk
        var fed = 0L
        chunks.foreach { c =>
          memDocs.addData(c); q1.processAllAvailable()
          val acc = spark.table(s"${name}_acc")
            .select("doc_id", "text").collect()
            .map(r => LangDoc2(r.getLong(0), r.getString(1)))
          memAcc.addData(acc.drop(fed.toInt).toSeq); fed = acc.length
          q2.processAllAvailable()
        }
        (spark.table(s"${name}_acc").select("doc_id").collect()
            .map(_.getLong(0)).toSet,
          spark.table(s"${name}_rej").collect().map(_.getLong(0)).toSet)
      } finally { q1.stop(); q2.stop() }
    }
    Seq(11, 42, 97).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // id-ascending arrival (the documented ordering contract), split at
      // random boundaries — invariance over WHERE the batches cut
      val chunks = docs.grouped(1 + rnd.nextInt(4)).toSeq
      val (accepts, rejects) = runFunnel(chunks, s"funnel$seed")
      assert(accepts == Set(1L, 3L, 4L, 6L, 7L, 9L),
        s"seed=$seed stage-1 accepts: $accepts")
      assert(rejects == Set(3L, 6L, 9L), s"seed=$seed rejects: $rejects")
      assert(accepts -- rejects == want,
        s"seed=$seed survivors != batch: ${accepts -- rejects} vs $want")
    }
  }

  test("q97 funnel END-TO-END: stage 1 -> IdempotentSink file hop -> " +
    "file-source stage 2, with a mid-stream stage-2 crash-restart from " +
    "checkpoint - survivors == batch CurationPipeline") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def words(off: Int, drop: Seq[Int] = Nil,
              extra: Seq[String] = Nil): String =
      (((off until off + 20).filterNot(drop.contains).map(i => f"tok$i%03d"))
        ++ extra).mkString(" ")
    val base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    def ts(i: Int) = new Timestamp(base + i * 60000L)
    val docs = Seq(
      TsDoc(1L, ts(1), words(0)),                         // survivor
      TsDoc(2L, ts(2), words(0)),                         // exact dup of 1
      TsDoc(3L, ts(3), words(0, drop = Seq(19), extra = Seq("tok999"))),
      TsDoc(4L, ts(4), words(100)),                       // survivor
      TsDoc(5L, ts(5), "join join join !!!"),             // fails the gate
      TsDoc(6L, ts(6), words(100, drop = Seq(119), extra = Seq("tok998"))),
      TsDoc(7L, ts(7), words(200)),                       // survivor
      TsDoc(8L, ts(8), words(100)),                       // exact dup of 4
      TsDoc(9L, ts(9), words(0, drop = Seq(18, 19),       // near dup of the
        extra = Seq("tok999", "tok997"))))                // REJECTED 3 only
    val cfg = graft.operators.CurationPipeline.Config()
    val want = graft.operators.CurationPipeline
      .run(docs.toDF(), cfg, collectStats = false)
      .curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want == Set(1L, 4L, 7L), s"batch fixture drifted: $want")

    val root = java.nio.file.Files.createTempDirectory("funnel-e2e")
      .toString
    val hop = s"$root/accepts"; val rej = s"$root/rejects"
    val memDocs = MemoryStream[TsDoc]
    // stage 1: quality gate + watermarked exact dedup -> exactly-once
    // parquet hop (the production layout the in-memory twin test replays
    // by hand)
    val q1 = StreamTwins.funnelAccepts(memDocs.toDF())
      .writeStream.option("checkpointLocation", s"$root/cp1")
      .foreachBatch(IdempotentSink.parquetExactlyOnce(hop) _)
      .outputMode(OutputMode.Append()).start()
    // stage 2: a real file SOURCE over the hop directory (batch=N dirs;
    // the _commits marker dir is underscore-hidden from the source) ->
    // per-band-bucket LSH rejection -> its own exactly-once sink
    def startStage2() = {
      val accStream = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[TsDoc].schema)
        .parquet(s"$hop/batch=*")
      StreamTwins.funnelNearDupRejects(accStream,
          maxBucket = cfg.maxBucket, minJaccard = cfg.nearDupJaccard,
          k = cfg.minhashK, bands = cfg.minhashBands)
        .writeStream.option("checkpointLocation", s"$root/cp2")
        .foreachBatch(IdempotentSink.parquetExactlyOnce(rej) _)
        .outputMode(OutputMode.Append()).start()
    }
    // chunk 1 flows end-to-end: accepts {1,3}, stage 2 rejects {3}
    memDocs.addData(docs.take(3)); q1.processAllAvailable()
    var q2 = startStage2()
    q2.processAllAvailable()
    q2.stop() // CRASH stage 2; stage 1 keeps ingesting meanwhile
    memDocs.addData(docs.slice(3, 6)); q1.processAllAvailable()
    memDocs.addData(docs.slice(6, 9)); q1.processAllAvailable()
    // RESTART from the checkpoint: file-source offsets must skip the
    // already-processed batch=0 files, and the restored per-bucket state
    // must still hold already-loser doc 3 so doc 9 falls via it (the
    // losers-keep-rejecting rule ACROSS the restart)
    q2 = startStage2()
    q2.processAllAvailable()
    q2.stop(); q1.stop()
    val accepts = IdempotentSink.committedRead(spark, hop)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val rejects = IdempotentSink.committedRead(spark, rej)
      .collect().map(_.getLong(0)).toSet
    assert(accepts == Set(1L, 3L, 4L, 6L, 7L, 9L), s"accepts: $accepts")
    assert(rejects == Set(3L, 6L, 9L),
      s"rejects (9 requires doc 3's state to survive the restart): " +
        s"$rejects")
    assert(accepts -- rejects == want,
      s"survivors != batch: ${accepts -- rejects} vs $want")
  }
}
