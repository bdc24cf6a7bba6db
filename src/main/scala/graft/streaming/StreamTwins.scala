package graft.streaming

import graft.Det
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}

/** True-streaming twins of declared batch shapes (SURVEY §2.2.G / §5.2.3):
  * the windowed q60–q63 set plus a ledger of stateful twins
  * (sessionization, funnels, attribution, retention, churn spans, RFM,
  * streaks, conversion latency, SCD2, dedup, and the composed q97
  * curation funnel: [[funnelAccepts]] → [[funnelNearDupRejects]]). Each
  * takes an
  * events-shaped DataFrame — batch or streaming (`readStream` /
  * MemoryStream) — and applies the SAME transformation; the unit tests
  * assert streaming output == the batch formula on identical rows, pinned
  * batch-split-invariant, and that rows later than watermark+delay are
  * dropped in append mode.
  *
  * Two state disciplines, declared per twin:
  *  - disorder-proof folds (commutative min/max/count/sum — userSpan,
  *    userRfm) or exact re-anchoring state (dayStreaks): any arrival
  *    order converges;
  *  - per-user in-order delivery (the newReturning rule) where the batch
  *    semantics are inherently order-sensitive (sessions, funnels,
  *    conversion latency) — intra-batch disorder is absorbed by sorting,
  *    and each doc says why the shape can't be disorder-proof.
  *
  * The watermark bounds windowed state: at 100 TB/day the aggregation
  * state for tumbling windows is |windows in flight| × |keys|, evicted as
  * the watermark passes — without it, state grows without bound. Keyed
  * twins state their per-user state size (8–300 B) in each doc.
  */
object StreamTwins {

  /** Row encoder for a twin's emission schema — one (name -> type)
    * pair per field, replacing the per-twin StructType/StructField
    * boilerplate (field lists stay visible at each call site).
    */
  private def rowEnc(fields: (String, DataType)*)
      : org.apache.spark.sql.Encoder[Row] =
    Encoders.row(org.apache.spark.sql.types.StructType(fields.map {
      case (n, t) => org.apache.spark.sql.types.StructField(n, t)
    }))

  /** q60 twin: tumbling 1-day counts/sums per event_type. */
  def tumbling(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Det.r2(Det.sumMoney(col("value"))).as("sum_v"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_v"))

  /** q61 twin: sliding 1-day/6-hour window counts. */
  def sliding(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day", "6 hours"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("n"))

  /** q62 twin: per-user session windows with a 30-minute gap. */
  def sessions(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        Det.r2(Det.sumMoney(col("value"))).as("sum_v"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_v"))

  /** q63 twin: keyed dedup — first event per (user_id, event_type) within
    * the watermark. Streaming uses `dropDuplicatesWithinWatermark` (state
    * evicted past the watermark; plain dropDuplicates would keep all keys
    * forever).
    */
  def dedupKeyed(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("event_id"))

  /** Stream-STREAM interval join: purchases matched to the same user's
    * clicks that happened within the preceding hour. Both sides carry a
    * watermark and the join condition carries the time bound — that pair is
    * what lets Spark evict join state (a side's rows older than
    * watermark + interval can never match again). Without the time bound,
    * stream-stream state grows without limit; this is THE pattern for
    * joining two live feeds at scale.
    */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame,
                   watermark: String = "1 hour"): DataFrame = {
    val l = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val r = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    l.join(r,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** STREAM-STATIC join (the remaining join mode a live pipeline needs
    * beside [[intervalJoin]]'s stream-stream): incoming docs checked
    * against a STATIC benchmark-gram table — the streaming twin of q101's
    * contamination screen. Stateless (no watermark required): each
    * micro-batch semi-joins the static side, which Spark re-plans per
    * batch and typically broadcasts. Emits (doc_id, gram) contamination
    * hits; a downstream exact screen aggregates per doc like q101.
    */
  def contaminationHits(docs: DataFrame, evalGrams: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.Dedup.ngrams(col("text"), 3)).as("gram"))
      .join(evalGrams.select(col("gram")), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("gram"))

  /** Custom arbitrary state (SURVEY §2.3 "session state"): per-user running
    * totals via `flatMapGroupsWithState` — the escape hatch when built-in
    * windows can't express the state machine. Emits one row per input
    * event: (user_id, event_id, n_so_far, sum_so_far). State is one
    * (count, sum) pair per user — bounded by |users|, not |events| — and
    * works identically on a batch or streaming input frame.
    */
  def runningTotals(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "event_id" -> LongType, "n_so_far" -> LongType,
      "sum_so_far" -> DoubleType)
    val in = events.select(col("user_id"), col("event_id"), col("value"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Double), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(Long, Double)]) =>
          var (n, s) = state.getOption.getOrElse((0L, 0.0))
          // event-id order within the batch for deterministic output
          val out = rows.toSeq.sortBy(_.getLong(1)).map { r =>
            n += 1; s += r.getDouble(2)
            // same rounding rule as Det.r2 (Spark round = HALF_UP), not
            // rint's half-to-even — keeps totals comparable with the
            // declared window surfaces on exact .5 boundaries
            Row(user, r.getLong(1), n,
              BigDecimal(s).setScale(2, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
          }
          state.update((n, s))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), enc)
      .toDF()
  }

  /** q131's streaming twin: per-event session assignment via
    * `flatMapGroupsWithState` — the canonical stateful-streaming operator.
    * State = (last event µs, session ordinal) per user — two longs
    * regardless of stream length. Each event is emitted immediately with
    * its session id: a new session starts when the gap since the previous
    * event is STRICTLY greater than `gapUs` (the batch `Sessionize.assign`
    * / `session_window` merge rule).
    *
    * Rows are processed in (ts, event_id) order within each micro-batch,
    * so any batch split of a per-user in-order stream reproduces the
    * batch assignment exactly (spec-pinned). Out-of-order arrivals get
    * the prefix semantics every gap-based streaming sessionizer has; pair
    * with a watermark-driven state timeout in production to evict idle
    * users (state is then bounded by ACTIVE users, not all-time users).
    */
  def sessionAssign(events: DataFrame, gapUs: Long): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "event_id" -> LongType,
      "session_seq" -> LongType)
    val in = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("ts_us"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(Long, Long)]) =>
          var (lastUs, seq) = state.getOption.getOrElse((Long.MinValue, 0L))
          val out = rows.toSeq.sortBy(r => (r.getLong(2), r.getLong(1)))
            .map { r =>
              val ts = r.getLong(2)
              if (seq == 0L || ts > lastUs + gapUs) seq += 1
              lastUs = ts
              Row(user, r.getLong(1), seq)
            }
          state.update((lastUs, seq))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q119's streaming twin: per-user funnel state machine via
    * `flatMapGroupsWithState`. State = (first signup µs | MaxValue,
    * converted 0/1) per user — two longs regardless of event volume. Emits
    * ONE row per user at the first `purchase` within 3 days of the first
    * `signup`: (user_id, signup_us, purchase_us, delay_us).
    *
    * Rows are processed in (ts, event_id) order within each micro-batch,
    * so any batch split of an in-order stream yields the batch answer; an
    * out-of-order purchase-before-signup arrival cannot convert — that is
    * the streaming semantics (the batch twin q119 sees all history, a
    * stream sees a prefix). Pair with a watermark-driven state timeout in
    * production to evict users whose 3-day window has passed.
    */
  def funnelConversions(events: DataFrame): DataFrame = {
    val windowUs = 3L * 24 * 3600 * 1000000
    val enc = rowEnc(
      "user_id" -> LongType, "signup_us" -> LongType,
      "purchase_us" -> LongType, "delay_us" -> LongType)
    val in = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(Long, Long)]) =>
          var (first, converted) = state.getOption.getOrElse((Long.MaxValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(r => (r.getLong(3), r.getLong(1))).foreach { r =>
            val ts = r.getLong(3)
            r.getString(2) match {
              case "signup" if first == Long.MaxValue => first = ts
              case "purchase" if converted == 0L && first != Long.MaxValue &&
                ts >= first && ts <= first + windowUs =>
                converted = 1L
                out += Row(user, first, ts, ts - first)
              case _ => ()
            }
          }
          state.update((first, converted))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q144's streaming twin: last-observation-carried-forward onto the
    * dense daily grid via `flatMapGroupsWithState`. State = the PENDING
    * (still-open) day's (day, cents) per user — two longs regardless of
    * stream length. A grid row is emitted only once its day SETTLES (an
    * event from a later day arrives): first the pending day with its
    * final value — later (ts, event_id) within a day wins, the q144 pick
    * rule — then one carried row per gap day. The trailing day never
    * settles (a stream cannot know the last observation has happened);
    * batch q144 closes it because it sees all history — the spec pins
    * exactly that one-row-per-user difference. Late arrivals for
    * already-settled days are dropped: their fill was already emitted in
    * append mode (the same prefix semantics as [[sessionAssign]]).
    */
  def locfFill(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "day" -> LongType, "cents" -> LongType)
    val in = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"),
      round(col("value") * 100).cast("long").as("cents"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(Long, Long)]) =>
          var (pd, pc) = state.getOption.getOrElse((Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(r => (r.getLong(2), r.getLong(1))).foreach { r =>
            val day = Math.floorDiv(r.getLong(2), 86400000000L)
            val c = r.getLong(3)
            if (pd == Long.MinValue) { pd = day; pc = c }
            else if (day == pd) pc = c
            else if (day > pd) {
              out += Row(user, pd, pc)
              var d = pd + 1
              while (d < day) { out += Row(user, d, pc); d += 1 }
              pd = day; pc = c
            } // day < pd: late for a settled day — dropped
          }
          state.update((pd, pc))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q128's streaming twin: a running per-key top-k leaderboard via
    * `flatMapGroupsWithState`. State = the current top-k of
    * (cents desc, event_id asc) per event_type — AT MOST k entries, the
    * whole point versus buffering the stream. An arriving event is
    * emitted exactly when it ENTERS the current top-k (leaderboard
    * history in append mode). Rows are processed in event_id order
    * within each micro-batch, so entry depends only on the stream
    * prefix — the emitted set is identical however the stream is split
    * into micro-batches (spec-pinned), and the final state is the exact
    * batch top-k of everything seen.
    */
  def topKEntries(events: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val enc = rowEnc(
      "event_type" -> StringType, "event_id" -> LongType, "cents" -> LongType)
    val in = events.select(col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    // (cents desc, event_id asc) total order, as a max-first sort key
    def beats(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getString(0))(Encoders.STRING)
      .flatMapGroupsWithState[List[(Long, Long)], Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Row],
         state: GroupState[List[(Long, Long)]]) =>
          var top = state.getOption.getOrElse(Nil) // sorted best-first
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(_.getLong(1)).foreach { r =>
            val e = (r.getLong(2), r.getLong(1))
            if (top.size < k || beats(e, top.last)) {
              val (better, worse) = top.partition(beats(_, e))
              top = (better ::: e :: worse).take(k)
              out += Row(key, e._2, e._1)
            }
          }
          state.update(top)
          out.iterator
      }(Encoders.kryo[List[(Long, Long)]], enc)
      .toDF()
  }

  /** q162's streaming twin: exact integer α=½ EWMA of daily user spend via
    * `flatMapGroupsWithState`. State per user = the ≤16 most recent
    * SETTLED (day, micro) observations plus the open day's running sum —
    * bounded at 17 pairs regardless of stream length (the q162 window
    * constant). A day's EWMA is emitted when the day SETTLES (an event
    * from a later day arrives): the settled daily sum joins the history,
    * and the emitted value is the identical integer Horner fold batch
    * q162 computes — newest weight 2^(k−1), denominator 2^k−1, floored
    * division. The trailing day never settles (a stream cannot know the
    * day is over); batch q162 includes it because it sees all history —
    * the spec pins exactly that per-user difference. Late rows for
    * settled days are dropped (their EWMA was already emitted in append
    * mode — the [[locfFill]] prefix discipline).
    */
  def ewmaDaily(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "day" -> LongType, "n_obs" -> LongType,
      "ewma_micro" -> LongType)
    // state: (history oldest-first ≤16 of (day, micro), pendingDay,
    // pendingSum); pendingDay = Long.MinValue marks "no day open yet"
    type S = (List[(Long, Long)], Long, Long)
    val in = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"),
      round(col("value") * 1e6).cast("long").as("micro"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[S]) =>
          var (hist, pd, ps) = state.getOption.getOrElse(
            (List.empty[(Long, Long)], Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          def settle(): Unit = {
            hist = (hist :+ (pd, ps)).takeRight(16)
            val k = hist.size
            // newest gets 2^(k-1): fold newest-first, acc*2 + x — the
            // exact q162 integer Horner scheme
            val num = hist.reverseIterator.foldLeft(0L)((acc, e) => acc * 2 + e._2)
            val denom = (1L << k) - 1L
            // FLOOR division, matching batch q162's r7 pmod-floored DIV
            // (and DuckDB `//`) exactly at every numerator sign
            out += Row(user, pd, k.toLong, Math.floorDiv(num, denom))
          }
          rows.toSeq.sortBy(r => (r.getLong(2), r.getLong(1))).foreach { r =>
            val day = Math.floorDiv(r.getLong(2), 86400000000L)
            val m = r.getLong(3)
            if (pd == Long.MinValue) { pd = day; ps = m }
            else if (day == pd) ps += m
            else if (day > pd) { settle(); pd = day; ps = m }
            // day < pd: late for a settled day — dropped
          }
          state.update((hist, pd, ps))
          out.iterator
      }(Encoders.kryo[S], enc)
      .toDF()
  }

  /** Streaming LSH candidate generation — near-dup dedup at INGESTION
    * time (the q85 batch shape as a stream): each arriving doc is banded
    * with the identical codegen `MinHashBands` keys and paired against
    * the prior members of each of its band buckets via
    * `flatMapGroupsWithState` keyed on the band hash. State per bucket is
    * a ≤maxBucket id list; a bucket that would EXCEED the cap goes dead
    * — its id list is dropped and it emits nothing further (state stays
    * tiny under the hot-template skew that motivates the cap).
    *
    * Semantics vs batch `MinHashLSH.candidatePairs`: identical pair
    * set when no bucket overflows (spec-pinned, batch-split-invariant);
    * on overflow the batch path drops the WHOLE bucket retroactively,
    * while a stream cannot retract — pairs emitted before the cap was
    * hit stand. Cross-band duplicate pairs are emitted like the batch
    * path's raw pairs; callers dedupe in the verify join.
    */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, bands: Int = 4,
                        maxBucket: Int = 200): DataFrame = {
    import docs.sparkSession.implicits._
    val banded = docs
      .select(col(idCol).cast("long").as("id"),
        explode(graft.expressions.MinHashBands.bandKeys(
          col(textCol), k, bands)).as("bandStr"))
      // same band compression as the batch path (blockCols = Nil)
      .select(col("id"), xxhash64(col("bandStr")).as("band"))
    type S = (List[Long], Boolean) // (bucket members, dead)
    banded.as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[S, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Long)], state: GroupState[S]) =>
          var (ids, dead) = state.getOption.getOrElse(
            (List.empty[Long], false))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          // id-sorted within the batch: pair emission is deterministic
          // under any batching of the same arrivals
          rows.map(_._1).toSeq.distinct.sorted.foreach { id =>
            if (!dead && !ids.contains(id)) {
              if (ids.size + 1 > maxBucket) { dead = true; ids = Nil }
              else {
                ids.foreach(p =>
                  out += ((math.min(p, id), math.max(p, id))))
                ids ::= id
              }
            }
          }
          state.update((ids, dead))
          out.iterator
      }(Encoders.kryo[S], Encoders.product[(Long, Long)])
      .toDF("id_a", "id_b")
  }

  /** q173's streaming twin: the event pivot as a running conditional
    * aggregation — cent totals per event_type × ISO weekday, weekdays to
    * columns. State is 7 longs + 7 null flags per event type (the
    * alphabet-bounded pivot frame), however long the stream runs; the
    * weekday CASE arms are exactly the ones Spark lowers batch `pivot`
    * to, so streaming == batch row-for-row in complete mode.
    */
  def eventPivot(events: DataFrame): DataFrame = {
    val arms = (1 to 7).map(d =>
      sum(when(expr("weekday(ts) + 1") === d,
        round(col("value") * 100).cast("long"))).as(s"d$d"))
    events.groupBy(col("event_type")).agg(arms.head, arms.tail: _*)
  }

  /** q123's streaming twin: SCD2 dimension maintenance from a change
    * stream — the CDC consumer that keeps a type-2 slowly-changing
    * dimension current. State = ONE open interval per user (status,
    * valid_from µs, version); an arriving event that CHANGES the status
    * closes the open interval and emits it (append mode — closed rows
    * are immutable), same-status events fold in silently. Intervals are
    * emitted as epoch MICROSECONDS (the locfFill/ewmaDaily integer
    * convention). Rows are processed in (ts, event_id) order within each
    * micro-batch, so for per-user in-order delivery the emitted closed
    * set equals batch q123's `valid_to IS NOT NULL` rows however the
    * stream is split (spec-pinned); the open interval stays in state,
    * exactly the row q123 reports with a null valid_to.
    */
  def scd2Maintain(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "status" -> StringType,
      "valid_from_us" -> LongType, "valid_to_us" -> LongType,
      "version" -> LongType)
    val in = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[(String, Long, Long), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row],
         state: GroupState[(String, Long, Long)]) =>
          var (st, from, ver) = state.getOption.getOrElse((null: String, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(r => (r.getLong(2), r.getLong(1))).foreach { r =>
            val s = r.getString(3)
            val us = r.getLong(2)
            if (st == null) { st = s; from = us; ver = 1L }
            else if (s != st) {
              out += Row(user, st, from, us, ver)
              st = s; from = us; ver += 1
            }
          }
          state.update((st, from, ver))
          out.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong,
        Encoders.scalaLong), enc)
      .toDF()
  }

  /** q183's streaming twin: ONLINE target encoding — per-user running
    * (n, Σcents) as streaming aggregation state, with the m-estimate
    * encoding computed against a FROZEN prior (the train-time global mean
    * cents, passed in). This is the feature-store reading of the encoder:
    * the prior is fitted once on the training corpus, per-user statistics
    * keep absorbing live events, and every micro-batch re-emits the
    * refreshed encoding in complete mode. State = two longs per user.
    * With `priorCents` equal to the batch corpus prior, the final
    * complete-mode table matches q183 row-for-row (spec-pinned,
    * batch-split-invariant — integer sums have no order hazard).
    */
  def targetEncode(events: DataFrame, priorCents: Long, m: Int = 20): DataFrame =
    events
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("user_id"), col("n"), col("sum_cents"),
        lit(priorCents).as("prior_cents"),
        expr(s"(sum_cents + $m * ${priorCents}L) * 1000 div (n + $m)")
          .as("enc_milli"))

  /** q172's streaming twin: running per-language subword/whitespace token
    * totals — the codegen `BpeTokenCount` expression running inside a
    * streaming aggregation (scan-speed stateless projection feeding
    * alphabet-bounded state: 3 longs per lang).
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"),
        graft.expressions.BpeTokenCount.bpeTokenCount(col("text")).as("btok"),
        size(split(col("text"), " ")).cast("long").as("wtok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("btok")).as("bpe_tokens"),
        sum(col("wtok")).as("ws_tokens"))

  /** q196's streaming twin: growth-accounting increments from a live
    * event stream. Emits one (user_id, day, is_new) row per ACTIVE
    * (user, day) pair in append mode — is_new = 1 exactly on the user's
    * first-ever active day; a batch-side `groupBy(day)` rollup of these
    * increments reproduces q196's (dau, new, returning) frame
    * row-for-row. State = two longs per user (first-seen day, last
    * emitted day) regardless of stream length. Contract: per-user
    * in-order delivery across batches (the [[scd2Maintain]] rule —
    * within a batch the group sorts by day, so intra-batch disorder is
    * absorbed); a cross-batch late day ≤ the last emitted day is
    * dropped, its (user, day) row having already been published in
    * append mode (prefix semantics, as [[sessionAssign]]/[[locfFill]]).
    */
  def newReturning(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "day" -> LongType, "is_new" -> LongType)
    val in = events.select(col("user_id"),
      expr(Det.epochDaySql("ts")).as("day"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[(Long, Long), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(Long, Long)]) =>
          var (fd, last) =
            state.getOption.getOrElse((Long.MaxValue, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.map(_.getLong(1)).sorted.foreach { day =>
            if (fd == Long.MaxValue) fd = day
            if (day > last) {
              out += Row(user, day, if (day == fd) 1L else 0L)
              last = day
            }
          }
          state.update((fd, last))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q223 twin: streaming daily-active arm emissions — each (day, user)
    * is emitted EXACTLY ONCE across all batches (Append mode), tagged
    * with q134/q223's md5 hash arm computed JVM-side (identical hex to
    * Spark's `md5` — spec-asserted). The SRM χ² is then a stateless
    * rollup of these emissions, so the streaming monitor sees the same
    * numbers q223 reads in batch.
    *
    * State per user = the day set already emitted — bounded by the
    * calendar, not the log; a production deployment adds a watermark
    * timeout to expire days the χ² report has already closed.
    */
  def dailyActiveArms(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "day" -> LongType, "user_id" -> LongType, "arm" -> StringType)
    val in = events.select(col("user_id"),
      expr(Det.epochDaySql("ts")).as("day"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[Array[Long], Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[Array[Long]]) =>
          val seen = scala.collection.mutable.SortedSet[Long](
            state.getOption.getOrElse(Array.empty[Long]).toSeq: _*)
          val arm = if (md5Hex4(user.toString) < "8000") "A" else "B"
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.foreach { r =>
            val d = r.getLong(1)
            if (!seen(d)) { seen += d; out += Row(d, user, arm) }
          }
          state.update(seen.toArray)
          out.iterator
      }(Encoders.kryo[Array[Long]], enc)
      .toDF()
  }

  /** first 4 hex chars of md5(s) — byte-identical to Spark's `md5`
    * (lowercase hex of the full 16-byte digest, truncated). */
  private def md5Hex4(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(2)
      .map(b => f"${b & 0xff}%02x").mkString

  /** q127's streaming twin (round 7): the ORDERED multi-step window
    * funnel (signup → click → purchase, strict order, every step within
    * 7 days of the first signup) as a per-user state machine. State =
    * (t1, t2, t3) step timestamps (µs, MaxValue = not reached) — three
    * longs per user regardless of volume. Emits one (user_id, step,
    * step_us) row in Append mode at each FIRST step transition; q127's
    * per-cohort (n_step1, n_step2, n_step3) report is then a stateless
    * `groupBy(user % 4, step)` count of the emissions.
    *
    * Equivalence contract: with per-user in-order delivery (the
    * [[funnelConversions]]/[[newReturning]] rule; intra-batch disorder is
    * absorbed by the (ts, event_id) sort), "first qualifying event seen"
    * IS batch q127's min-chain — each batch min() over a time-filtered
    * set is the earliest qualifying arrival. Steps use q127's exact
    * boundaries: strictly after the previous step (`>`), closed at
    * `t1 + 7 days` (`<=`).
    */
  def windowFunnelSteps(events: DataFrame): DataFrame = {
    val windowUs = 7L * 24 * 3600 * 1000000
    val enc = rowEnc(
      "user_id" -> LongType, "step" -> LongType, "step_us" -> LongType)
    val in = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    type S = (Long, Long, Long)
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[S]) =>
          var (t1, t2, t3) = state.getOption.getOrElse(
            (Long.MaxValue, Long.MaxValue, Long.MaxValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(r => (r.getLong(3), r.getLong(1))).foreach { r =>
            val ts = r.getLong(3)
            r.getString(2) match {
              case "signup" if t1 == Long.MaxValue =>
                t1 = ts; out += Row(user, 1L, ts)
              case "click" if t2 == Long.MaxValue && t1 != Long.MaxValue &&
                ts > t1 && ts <= t1 + windowUs =>
                t2 = ts; out += Row(user, 2L, ts)
              case "purchase" if t3 == Long.MaxValue &&
                t2 != Long.MaxValue && ts > t2 && ts <= t1 + windowUs =>
                t3 = ts; out += Row(user, 3L, ts)
              case _ => ()
            }
          }
          state.update((t1, t2, t3))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong), enc)
      .toDF()
  }

  /** q126's streaming twin (round 7, the VERDICT r6 follow-through):
    * per-purchase last-touch attribution via `flatMapGroupsWithState`.
    * State per user = the most recent NON-purchase event's (type, µs) —
    * one string + one long regardless of stream length; each `purchase`
    * emits exactly one (user_id, event_id, purchase_us, touch, cents) row
    * in Append mode, touch = the carried type when it is within the 1-day
    * lookback (`prev_us >= purchase_us − 1 day`, the same closed boundary
    * as batch q126's `prev_ts >= ts − INTERVAL 1 DAY`), else 'none'.
    * Batch q126's (touch → n_purchases, revenue_cents) table is then a
    * STATELESS rollup of these emissions — the streaming marketing
    * monitor reads the same numbers.
    *
    * Ordering contract: rows are processed in (ts, event_id) order within
    * each micro-batch (intra-batch disorder absorbed); cross-batch order
    * must be per-user in-order (the [[scd2Maintain]]/[[newReturning]]
    * rule) — a purchase arriving before its touch crossed the wire
    * attributes to 'none', which is the only honest answer a prefix can
    * give. Purchases never become touches (q126's non-purchase filter).
    */
  def lastTouch(events: DataFrame): DataFrame = {
    val lookbackUs = 24L * 3600 * 1000000
    val enc = rowEnc(
      "user_id" -> LongType, "event_id" -> LongType,
      "purchase_us" -> LongType, "touch" -> StringType, "cents" -> LongType)
    val in = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"),
      round(col("value") * 100).cast("long").as("cents"))
    // state: (last non-purchase type | "", its µs | MinValue)
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[(String, Long), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[(String, Long)]) =>
          var (prevType, prevUs) =
            state.getOption.getOrElse(("", Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(r => (r.getLong(3), r.getLong(1))).foreach { r =>
            val ts = r.getLong(3)
            if (r.getString(2) == "purchase") {
              val touch =
                if (prevUs != Long.MinValue && prevUs >= ts - lookbackUs)
                  prevType
                else "none"
              out += Row(user, r.getLong(1), ts, touch, r.getLong(4))
            } else { prevType = r.getString(2); prevUs = ts }
          }
          state.update((prevType, prevUs))
          out.iterator
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q121's streaming twin: the Markov transition feed. State per user =
    * the type of the last event seen ("" = none) — one string regardless
    * of stream length; each event with a predecessor emits one
    * (user_id, event_id, from_type, to_type) row in Append mode, keyed by
    * the SUCCESSOR's event_id (exactly-once identifiable). Batch q121's
    * (event_type, next_type, n_pairs) matrix is then a stateless
    * `groupBy(from_type, to_type).count()` of the emissions — `lead()`
    * over the full history and "previous event chained forward" are the
    * same pairs read from opposite ends.
    *
    * Ordering contract: rows sort by (ts, event_id) within each batch
    * (q121's exact tie-break); cross-batch delivery must be per-user
    * in-order (the [[lastTouch]]/[[newReturning]] rule) — an event
    * arriving before its true predecessor crossed the wire pairs with the
    * prefix's last event, which is the only answer a prefix can give.
    */
  def transitions(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "event_id" -> LongType,
      "from_type" -> StringType, "to_type" -> StringType)
    val in = events.select(col("user_id"), col("event_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[String, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[String]) =>
          var prev = state.getOption.getOrElse("")
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.sortBy(r => (r.getLong(3), r.getLong(1))).foreach { r =>
            val cur = r.getString(2)
            if (prev.nonEmpty) out += Row(user, r.getLong(1), prev, cur)
            prev = cur
          }
          state.update(prev)
          out.iterator
      }(Encoders.STRING, enc)
      .toDF()
  }

  /** q120's streaming twin: cohort-retention increments with EXPLICITLY
    * BOUNDED state. State per user = (cohort day, H-bit bitset of offsets
    * already emitted) — 8 + H/8 bytes however long the stream runs; the
    * horizon H (default 512 days) is the retention window a live
    * dashboard actually plots, and offsets past it are not tracked
    * (batch q120 has no horizon, so parity holds on corpora whose span
    * fits — the fixtures' 90-day calendar does many times over). Each
    * qualifying event (purchase above 150.00, compared in integer cents
    * like q120) emits one (user_id, cohort_day, k) row in Append mode on
    * the user's FIRST activity at day-offset k; q120's
    * (cohort_day, k, n_users) frame is then a stateless
    * `groupBy(cohort_day, k).count()` — countDistinct collapses to count
    * because the state already guarantees one row per (user, k).
    *
    * Ordering contract: per-user in-order delivery across batches (the
    * [[newReturning]] rule; intra-batch disorder is absorbed by the day
    * sort) — the first qualifying day seen IS batch q120's `min(d)`.
    */
  def cohortRetention(events: DataFrame, horizonDays: Int = 512): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "cohort_day" -> LongType, "k" -> LongType)
    val in = events
      .filter(col("event_type") === "purchase" &&
        round(col("value") * 100).cast("long") > 15000L)
      .select(col("user_id"),
        expr(Det.epochDaySql("ts")).as("d"))
    type S = (Long, Array[Byte])
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[S]) =>
          var (cohort, bits) = state.getOption.getOrElse(
            (Long.MaxValue, new Array[Byte](horizonDays / 8 + 1)))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          rows.toSeq.map(_.getLong(1)).sorted.foreach { d =>
            if (cohort == Long.MaxValue) cohort = d
            val k = d - cohort
            if (k >= 0 && k <= horizonDays) {
              val (byte, mask) = ((k / 8).toInt, (1 << (k % 8)).toByte)
              if ((bits(byte) & mask) == 0) {
                bits(byte) = (bits(byte) | mask).toByte
                out += Row(user, cohort, k)
              }
            }
          }
          state.update((cohort, bits))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY), enc)
      .toDF()
  }

  /** q138's streaming twin: exactly-once first-activity marks via the
    * engine's own dedup state. `dropDuplicatesWithinWatermark(user, day)`
    * emits each (user_id, day) pair ONCE, with state evicted as the
    * watermark passes — per-key state is bounded by the watermark delay,
    * not the calendar (the q63 eviction rule applied to the activity
    * grain). The heavy part of q138 at 100 TB is exactly this
    * per-(user, day) distinct; DAU (`groupBy(day).count()`) and WAU
    * (explode each mark to its 7 report days, distinct users per day) are
    * then rollups over |active users × days| marks — millions, not the
    * billions of raw events — and the spec replays both from the
    * emissions to q138's numbers.
    *
    * The exactly-once guarantee is only as wide as the dedup state's
    * life: `dropDuplicatesWithinWatermark` may re-emit a key once the
    * watermark has passed its first arrival + delay. A (user, day) key
    * can recur until the day ends, so the delay must cover a full day
    * PLUS the stream's disorder bound — hence the 26-hour default
    * (24 h of same-day recurrence + 2 h of lateness), not the 1-hour
    * default the interval twins use. A shorter delay degrades marks to
    * at-least-once and the count-based DAU rollup to an upper bound.
    */
  def activeMarks(events: DataFrame,
                  watermark: String = "26 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("day", expr(Det.epochDaySql("ts")))
      .dropDuplicatesWithinWatermark(Seq("user_id", "day"))
      .select(col("user_id"), col("day"))

  /** q153's streaming twin: per-user activity-streak maintenance.
    * State = (anchor day, day BITSET anchored at the user's earliest
    * seen day, current summary); each event marks its epoch day, and a
    * (user_id, n_days, max_streak) row is emitted in Append mode
    * whenever a batch CHANGES the user's summary — the latest emission
    * per user equals q153's batch row on the same events.
    *
    * Disorder handling is exact, not order-dependent: a day EARLIER
    * than the anchor re-anchors the bitset with a bounded shift (the
    * bitset is horizon/8 ≈ 256 B — same state family as
    * cohortRetention's retention bits), so any batch split of the same
    * rows, in any order, converges to the same final summary. Days
    * outside [anchor, anchor + horizon] after re-anchoring are dropped
    * under the same documented horizon cap as cohortRetention's k-cap;
    * recomputing the summary is one linear scan of the bitset per
    * CHANGED user per batch, not per event.
    */
  def dayStreaks(events: DataFrame, horizonDays: Int = 2048): DataFrame = {
    val enc = rowEnc("user_id" -> LongType, "n_days" -> LongType,
      "max_streak" -> LongType)
    val in = events.select(col("user_id"),
      expr(Det.epochDaySql("ts")).as("d"))
    type S = (Long, Array[Byte], Long, Long)
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[S]) =>
          var (anchor, bits, n0, s0) = state.getOption.getOrElse(
            (Long.MaxValue, new Array[Byte](horizonDays / 8 + 1), 0L, 0L))
          def get(k: Int): Boolean = (bits(k / 8) & (1 << (k % 8))) != 0
          def set(k: Int): Unit =
            bits(k / 8) = (bits(k / 8) | (1 << (k % 8))).toByte
          var changed = false
          rows.foreach { r =>
            val d = r.getLong(1)
            if (anchor == Long.MaxValue) {
              anchor = d; set(0); changed = true
            } else if (d >= anchor) {
              val k = d - anchor
              if (k <= horizonDays && !get(k.toInt)) {
                set(k.toInt); changed = true
              }
            } else { // re-anchor: shift every mark up by (anchor - d)
              val shift = anchor - d
              if (shift <= horizonDays) {
                val nb = new Array[Byte](bits.length)
                var k = 0
                while (k + shift <= horizonDays) {
                  if (get(k)) {
                    val j = k + shift.toInt
                    nb(j / 8) = (nb(j / 8) | (1 << (j % 8))).toByte
                  }
                  k += 1
                }
                bits = nb; anchor = d; set(0); changed = true
              } // else: beyond the horizon window — dropped (documented)
            }
          }
          if (changed) {
            var n = 0L; var best = 0L; var cur = 0L
            var k = 0
            while (k <= horizonDays) {
              if (get(k)) { n += 1; cur += 1; if (cur > best) best = cur }
              else cur = 0
              k += 1
            }
            state.update((anchor, bits, n, best))
            if (n != n0 || best != s0) Iterator(Row(user, n, best))
            else Iterator.empty
          } else {
            if (anchor != Long.MaxValue) state.update((anchor, bits, n0, s0))
            Iterator.empty
          }
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY,
        Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q218's streaming twin: per-user lifecycle-span maintenance. State
    * per user is the pair (first day, last day) — 16 bytes however long
    * the stream runs, the smallest state of any twin in this ledger —
    * and both folds are min/max, so the converged value is independent
    * of batch split AND arrival order by construction (no re-anchor
    * machinery needed, unlike [[dayStreaks]]'s bitset). A
    * (user_id, d0, d1) row is emitted in Append mode whenever a batch
    * widens the span; the LATEST emission per user equals batch q218's
    * per-user `agg(min(day), max(day))` row on the same events.
    *
    * q218's cohort×state matrix is then a stateless rollup over the
    * |users| span frame — horizon = max(d1), cohort week =
    * floorDiv(d0 + 3, 7), state by (horizon − d1) recency — exactly the
    * post-collapse half of the batch plan (see
    * [[graft.operators.EventQueries.q218_churn_state]]'s scale note:
    * everything after the user agg runs on the collapsed frame). The
    * spec replays that rollup from the emissions to the batch numbers.
    */
  def userSpan(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "d0" -> LongType, "d1" -> LongType)
    val in = events.select(col("user_id"),
      expr(Det.epochDaySql("ts")).as("d"))
    type S = (Long, Long) // (first day, last day)
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[S]) =>
          val (p0, p1) = state.getOption.getOrElse(
            (Long.MaxValue, Long.MinValue))
          var (d0, d1) = (p0, p1)
          rows.foreach { r =>
            val d = r.getLong(1)
            if (d < d0) d0 = d
            if (d > d1) d1 = d
          }
          if (d0 != p0 || d1 != p1) {
            state.update((d0, d1))
            Iterator(Row(user, d0, d1))
          } else Iterator.empty
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q122's streaming twin: live RFM feature maintenance. State per
    * user = (last epoch day, event count, cents sum) — 24 bytes of
    * max/count/sum folds, every one commutative, so like [[userSpan]]
    * the converged value is batch-split- and order-invariant by
    * construction (cents are rounded PER ROW before the sum, q122's
    * own order-independence rule). One (user_id, last_day, f, m_cents)
    * row is emitted per user per batch that touched them — the
    * feature-store feed an online RFM scorer consumes, fresh after
    * every micro-batch; the LATEST emission per user equals batch
    * q122's per-user aggregate on the same events.
    *
    * q122's recency + segment label deliberately stay OUT of the
    * state: recency is relative to the corpus max day (a 1-row
    * broadcast), which in a live stream is "now" — a moving reference
    * no per-user state should bake in. The spec replays the stateless
    * (r_days, segment) rollup from the emissions to the batch rows.
    */
  def userRfm(events: DataFrame): DataFrame = {
    val enc = rowEnc("user_id" -> LongType, "last_day" -> LongType,
      "f" -> LongType, "m_cents" -> LongType)
    val in = events.select(col("user_id"),
      expr(Det.epochDaySql("ts")).as("d"),
      round(col("value") * 100).cast("long").as("cents"))
    // (last day, count, cents sum, non-null cents count) — the 4th fold
    // reproduces SQL sum semantics exactly: a user whose every value is
    // NULL gets m_cents = NULL, not 0, matching the batch aggregate
    type S = (Long, Long, Long, Long)
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[S]) =>
          var (ld, f, m, nm) = state.getOption.getOrElse(
            (Long.MinValue, 0L, 0L, 0L))
          var any = false
          rows.foreach { r =>
            val d = r.getLong(1)
            if (d > ld) ld = d
            f += 1
            if (!r.isNullAt(2)) { m += r.getLong(2); nm += 1 }
            any = true
          }
          if (any) {
            state.update((ld, f, m, nm))
            Iterator(Row(user, ld, f, if (nm == 0) null else m))
          } else Iterator.empty
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** q166's streaming twin: funnel-conversion detection. State per user =
    * (first view µs, first later purchase µs) — two longs; one
    * (user_id, vus, pus) row is emitted the moment a user CONVERTS
    * (their first purchase STRICTLY after their first view — batch
    * q166's `us > vus` rule, including the same-microsecond exclusion),
    * and never again. This is the live conversion feed a funnel-latency
    * dashboard consumes; q166's per-weekday p50/p90 latencies are a
    * stateless rollup over the |converted users| emissions, replaying
    * the batch formula's expressions verbatim (spec-pinned).
    *
    * Ordering contract: per-user in-order delivery across batches (the
    * [[newReturning]] rule; intra-batch disorder is absorbed by the µs
    * sort) — the first arriving view IS batch q166's `min(vus)`, and a
    * purchase that precedes every view correctly converts nobody. A
    * late-arriving EARLIER view could in general re-qualify an already-
    * discarded earlier purchase, which no bounded state can recover —
    * the reason this twin declares the in-order contract instead of the
    * [[userSpan]]-style disorder-proof fold (its folds aren't
    * commutative: the answer is min-purchase-ABOVE-min-view).
    */
  def timeToConvert(events: DataFrame): DataFrame = {
    val enc = rowEnc(
      "user_id" -> LongType, "vus" -> LongType, "pus" -> LongType)
    val in = events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("event_type") === "purchase").cast("long").as("p"))
    type S = (Long, Long) // (first view µs | MaxValue, conversion µs | MaxValue)
    in.as(Encoders.row(in.schema))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroupsWithState[S, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Row], state: GroupState[S]) =>
          var (vus, pus) = state.getOption.getOrElse(
            (Long.MaxValue, Long.MaxValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          // views before purchases at equal µs: a same-instant pair must
          // NOT convert (strict > in batch q166), and processing the view
          // first makes that exclusion order-independent within the batch
          rows.toSeq.sortBy(r => (r.getLong(1), r.getLong(2))).foreach { r =>
            val us = r.getLong(1)
            if (r.getLong(2) == 0L) { if (us < vus) vus = us }
            else if (pus == Long.MaxValue && us > vus) {
              pus = us
              out += Row(user, vus, pus)
            }
          }
          state.update((vus, pus))
          out.iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), enc)
      .toDF()
  }

  /** merge-intersect Jaccard over sorted distinct id arrays — the scala
    * mirror of [[graft.functions.Dedup.jaccardSortedIds]] for use inside
    * streaming state (both-empty → no match, like the batch NaN ≥ θ).
    */
  private def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** q97 curation-funnel streaming twin, stage 1 of 2 (round 8): quality
    * gate → ingest-time exact dedup. The gate is the SAME stateless
    * expression as the batch funnel ([[graft.operators.CurationPipeline
    * .qualityGate]] — shared code, not a re-implementation); exact dedup
    * is `dropDuplicatesWithinWatermark` on the batch funnel's content
    * digest, so state is evicted as the watermark passes (a dup arriving
    * after eviction re-emits — the honest streaming contract; unbounded
    * exactness needs the batch pass).
    *
    * Ordering contract (same family as newReturning): batch exact dedup
    * keeps the MIN id per digest; a stream keeps the FIRST ARRIVAL.
    * These agree under id-ascending arrival (the replay discipline the
    * spec pins); out-of-order arrival picks a different representative of
    * the same dup cluster — cluster membership is arrival-invariant.
    */
  def funnelAccepts(docs: DataFrame, textCol: String = "text",
                    tsCol: String = "ts", watermark: String = "1 hour",
                    minQuality: Double = 0.5,
                    stopwords: Seq[String] = Seq("join", "filter", "scan"))
  : DataFrame = {
    val cfg = graft.operators.CurationPipeline.Config(
      textCol = textCol, minQuality = minQuality, stopwords = stopwords)
    graft.operators.CurationPipeline.qualityGate(docs, cfg)
      .withColumn("__digest", md5(to_json(struct(col(textCol)))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("__digest"))
      .drop("__digest")
  }

  /** q97 curation-funnel streaming twin, stage 2 of 2: ingest-time LSH
    * near-dup rejection over the accepted stream (stage 1's output — in
    * production a checkpointed topic/files hop, since Spark can't chain
    * flatMapGroupsWithState behind another stateful operator in one
    * query). State per MinHash band bucket: up to `maxBucket`
    * (id, token-id-array) members. An arriving doc is REJECTED if any
    * already-seen co-member verifies at Jaccard ≥ `minJaccard` — exactly
    * the batch loser rule (larger id loses every verified pair; batch
    * losers also keep rejecting others, so members store regardless of
    * verdict) under id-ascending arrival. Bucket overflow kills the
    * bucket like [[lshCandidatePairs]] (the batch path drops overflowing
    * buckets retroactively; a stream cannot retract). A rejected id is
    * emitted once per bucket that catches it — serving dedups (toSet /
    * distinct at read time), because append mode cannot re-aggregate.
    * Survivors = stage-1 accepts MINUS these rejects, the lambda-serving
    * anti-join the spec replays.
    */
  def funnelNearDupRejects(accepted: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", k: Int = 8,
                           bands: Int = 4, maxBucket: Int = 200,
                           minJaccard: Double = 0.9): DataFrame = {
    import accepted.sparkSession.implicits._
    val banded = accepted
      .select(col(idCol).cast("long").as("id"),
        graft.functions.Dedup.tokenIds(col(textCol)).as("tok"),
        explode(graft.expressions.MinHashBands.bandKeys(
          col(textCol), k, bands)).as("bandStr"))
      .select(col("id"), col("tok"), xxhash64(col("bandStr")).as("band"))
    type S = (List[(Long, Array[Long])], Boolean) // (members, dead)
    banded.as[(Long, Array[Long], Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[S, Long](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[(Long, Array[Long], Long)],
         state: GroupState[S]) =>
          var (members, dead) = state.getOption.getOrElse(
            (List.empty[(Long, Array[Long])], false))
          val out = scala.collection.mutable.ArrayBuffer.empty[Long]
          // id-sorted within the batch — rejection is deterministic under
          // any batching of the same arrivals (the split-invariance pin)
          rows.toSeq.sortBy(_._1).foreach { case (id, tok, _) =>
            if (!dead && !members.exists(_._1 == id)) {
              if (members.size + 1 > maxBucket) { dead = true; members = Nil }
              else {
                if (members.exists(m => jaccardSorted(m._2, tok)
                    >= minJaccard)) out += id
                members ::= ((id, tok))
              }
            }
          }
          state.update((members, dead))
          out.iterator
      }(Encoders.kryo[S], Encoders.scalaLong)
      .toDF(idCol)
  }
}
