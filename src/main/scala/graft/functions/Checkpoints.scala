package graft.functions

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.storage.StorageLevel

/** The lineage-cut policy of every iterative operator (PageRank, BFS,
  * hierarchy flattening, k-core peel, connected components, k-means):
  * when a round is cut, when it stays lazy, which frame may be released,
  * and which counts ride in the materializing job. Operators keep only
  * their step and their stop test.
  *
  * Two defects this fixes over calling `localCheckpoint` directly in a
  * loop:
  *
  *  1. **Superseded checkpoint blocks leak.** `Dataset.localCheckpoint`
  *     persists the materialized rows in executor storage; a k-round loop
  *     that checkpoints per round strands k copies of the state frame in
  *     storage memory until the session dies (`Dataset.unpersist` does NOT
  *     free them — it talks to the plan cache manager, while the
  *     checkpoint blocks belong to the underlying RDD). Measured: q202's
  *     repeats grew 1.4 s → 5.6 s as blocks accumulated. [[release]]
  *     reaches the `LogicalRDD` leaf the checkpoint planted and unpersists
  *     the RDD itself; the loop drivers release each superseded round.
  *
  *  2. **`localCheckpoint` is non-reliable storage.** On a real cluster an
  *     executor loss mid-iteration is unrecoverable (the lineage was
  *     truncated, the blocks are gone). [[cutCounted]] upgrades to a
  *     reliable `checkpoint(dir)` when the session has a checkpoint
  *     directory and `graft.checkpoint.reliable=true` — the cluster
  *     profile — and stays on the fast local path everywhere else (local
  *     mode keeps the JVM, so local blocks are as durable as the job).
  *
  * One materializing primitive: [[cutCounted]] plants a LAZY checkpoint
  * and folds the row count (and a flag count) in the one job that
  * materializes it; [[cut]] is the same cut without its counts, at the
  * same job count on both profiles (one job locally; on the reliable
  * profile the fold job, whose end writes the checkpoint files).
  *
  * One loop driver, two forms:
  *  - [[iterate]], fixed rounds whose state frame is read once per round
  *    and whose result one caller action materializes (PageRank, BFS):
  *    lazy rounds on the local profile, a cut and a release per round on
  *    the reliable one;
  *  - [[iterateCounted]], rounds that need their sizes (convergence
  *    tests, broadcast gates) or a bound on plan growth (hierarchy
  *    flattening, component propagation, distributed k-core, k-means):
  *    one counted cut per round on both profiles.
  *
  * Safety rule, kept here so no operator has to: a frame is released
  * only once a LATER cut derived from it has materialized, and never
  * while the RETURNED (lazy) plan still reads it — a truncated lineage
  * cannot recompute freed blocks. The drivers therefore release each
  * superseded round as soon as its successor is cut, and the loop inputs
  * a caller hands them only once the returned frame reads nothing but its
  * own checkpoint (always for [[iterateCounted]]; on the reliable profile
  * for [[iterate]], whose local rounds stay lazy over their inputs, which
  * the between-queries [[sweep]] reclaims).
  *
  * Two loops stay hand-wired on `cut`/`cutCounted`/`release` because the
  * driver's one-frame-per-round state does not fit them:
  * `Hierarchy.ancestorClosure` returns a union of EVERY round's block
  * (each closure pair is materialized exactly once), so its per-round
  * blocks stay pinned — O(log depth) frames totalling the closure's bytes
  * — and only its superseded pointer frames are released; and
  * `Components.contract` recurses level by level, choosing per level
  * between the one-task base case, the next level and the propagation
  * loop.
  */
object Checkpoints {

  /** Spark conf key: set `true` (with `sparkContext.setCheckpointDir`) to
    * route every cut through reliable checkpoints on cluster profiles. */
  val ReliableConfKey = "graft.checkpoint.reliable"

  /** A materialized frame with the counts its cut job folded: all rows,
    * and the rows whose flag column is true (0 without a flag column). */
  final case class Counted[T](frame: Dataset[T], rows: Long, flagged: Long)

  /** Eagerly materialize `ds` and cut its lineage: [[cutCounted]] without
    * the counts. */
  def cut[T](ds: Dataset[T]): Dataset[T] = cutCounted(ds).frame

  /** Materialize `ds`, cut its lineage, and count its rows plus, with
    * `flagCol`, the rows whose boolean column `flagCol` is true (a null
    * flag counts as false) — all in ONE job. Loops need per-round sizes
    * (convergence checks, and the driver-count-gated broadcasts of
    * [[Escalation.bcastIfSmall]] — a checkpoint's `LogicalRDD` carries no
    * stats); a separate count job per round doubled every loop's driver
    * round-trips.
    *
    * The checkpoint is planted LAZILY (no job) and the counts fold over
    * its RDD; the end of that job persists the marked blocks (local) or
    * writes the checkpoint files (reliable) and truncates the lineage.
    * The reliable write is Spark's second job over the same RDD, so the
    * RDD is persisted for the fold and unpersisted once both jobs are
    * done — without it every reliable cut COMPUTES TWICE, which the r12
    * cluster bench measured as the whole iterative tier running 1.5–3.2×
    * over the uniform cluster-overhead model (BASELINE §4.0f). The
    * returned frame then reads the checkpoint files. Reliable without a
    * checkpoint dir would throw deep in the job, so it fails fast here. */
  def cutCounted[T](ds: Dataset[T],
                    flagCol: Option[String] = None): Counted[T] = {
    val flagIdx = flagCol.fold(-1) { c =>
      val i = ds.schema.fieldIndex(c)
      require(ds.schema(i).dataType == BooleanType,
        s"cutCounted: $c must be boolean, got ${ds.schema(i)}")
      i
    }
    val reliable = isReliable(ds.sparkSession)
    val cp = if (reliable) {
      require(ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConfKey=true requires sparkContext.setCheckpointDir")
      ds.checkpoint(eager = false)
    } else ds.localCheckpoint(eager = false)
    // both lazy checkpoints plant a LogicalRDD leaf; its absence is a
    // Spark behaviour change to surface
    val rdd = cp.queryExecution.analyzed
      .collectFirst { case l: LogicalRDD => l.rdd }
      .getOrElse(sys.error("Checkpoints: checkpoint left no LogicalRDD " +
        "leaf:\n" + cp.queryExecution.analyzed.treeString))
    if (reliable) rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (rows, flagged) = rdd.mapPartitions { it =>
        var n = 0L; var t = 0L
        it.foreach { r =>
          n += 1L
          if (flagIdx >= 0 && !r.isNullAt(flagIdx) && r.getBoolean(flagIdx))
            t += 1L
        }
        Iterator.single((n, t))
      }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      Counted(cp, rows, flagged)
    } finally if (reliable) rdd.unpersist(blocking = false)
  }

  /** Fixed-round loop driver: `rounds` applications of `step` to `init`,
    * for a state frame that each round reads ONCE and whose result a
    * single caller action materializes.
    *
    * `init` is cut. On the local profile the rounds then stay LAZY: the
    * unrolled plan is linear in the rounds (one reference per round — a
    * second reference must end at an exchange AQE reuses, as BFS's union
    * and step do), one action executes every round exactly once, and a
    * per-round cut bought only k driver round-trips — a materialization
    * job plus a fresh analysis/planning pass per round, measured as ~60%
    * of q157's wall at sf0.1 (43 jobs, ~1.5 s of inter-job driver gaps
    * for ~1.1 s of stage time). On the reliable (cluster) profile each
    * round is cut and its predecessor released: there the checkpoint is
    * durability — an executor loss resumes from the last round instead of
    * recomputing the chain, the property the executor-kill gate pins —
    * and the loop `inputs` (frames every round reads) are released after
    * the last round. */
  def iterate[T](init: Dataset[T], rounds: Int,
                 inputs: Seq[Dataset[_]] = Nil)(
      step: Dataset[T] => Dataset[T]): Dataset[T] = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val reliable = isReliable(init.sparkSession)
    var cur = cut(init)
    for (_ <- 1 to rounds) {
      val next = step(cur)
      cur = if (reliable) {
        val cp = cut(next)
        release(cur)
        cp
      } else next
    }
    if (reliable) inputs.foreach(release)
    cur
  }

  /** Counted loop driver: `init` and every round are materialized by one
    * [[cutCounted]] (counting `flagCol`), and each round releases the
    * round it superseded. `step` sees the previous round with its
    * counts; `done(previous, current)` sees this round's counts (the
    * previous round is `None` for `init`) and ends the loop, as does the
    * bound of `maxRounds` steps — 0 returns `init` cut. The loop
    * `inputs` are released at the end, when the returned round reads only
    * its own checkpoint. On the local profile a counted cut is one job,
    * the same as an eager checkpoint, so a bounded loop with no flag and
    * no stop test pays nothing for its counts. */
  def iterateCounted[T](init: Dataset[T], maxRounds: Int,
                        flagCol: Option[String] = None,
                        inputs: Seq[Dataset[_]] = Nil)(
      step: Counted[T] => Dataset[T],
      done: (Option[Counted[T]], Counted[T]) => Boolean =
        (_: Option[Counted[T]], _: Counted[T]) => false): Counted[T] = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    var prev: Option[Counted[T]] = None
    var cur = cutCounted(init, flagCol)
    var k = 0
    while (k < maxRounds && !done(prev, cur)) {
      val next = cutCounted(step(cur), flagCol)
      release(cur.frame)
      prev = Some(cur)
      cur = next
      k += 1
    }
    inputs.foreach(release)
    cur
  }

  /** Free a checkpointed frame's storage: its blocks, and — for reliable
    * checkpoints — its files. No-op on frames that were never
    * checkpointed (no `LogicalRDD` leaf). The file deletion matters on
    * the cluster profile: Spark only garbage-collects checkpoint dirs
    * when `spark.cleaner.referenceTracking.cleanCheckpoints` is on (off
    * by default), so a k-round loop would otherwise strand k full state
    * snapshots on durable storage — the same accumulation defect as the
    * block leak, relocated to the checkpoint volume. Deletion is safe
    * under the header's rule: callers only release a frame no live plan
    * reads. */
  def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collect {
      case l: LogicalRDD =>
        l.rdd.unpersist(blocking = false)
        l.rdd.getCheckpointFile.foreach { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(
            ds.sparkSession.sparkContext.hadoopConfiguration)
            .delete(path, true)
        }
    }

  /** Free EVERY persisted RDD and Dataset cache in the session — the
    * between-queries sweep the bench/verify harnesses run so one query's
    * pinned final-round checkpoint can't skew the next query's storage
    * memory. (The final round of an iterative operator stays pinned by
    * design — the returned plan reads it — so only a session-level sweep
    * between queries can reclaim it.)
    *
    * Dataset caches MUST go through `catalog.clearCache()`, not raw
    * RDD-level unpersist: the latter frees the blocks but leaves the
    * plan→InMemoryRelation entry registered with a builder whose buffers
    * RDD is now at StorageLevel.NONE, so the NEXT run of the SAME plan
    * "hits" a cache that never re-fills — every consumer recomputes the
    * cached subtree plus a columnar encode, worse than no cache at all
    * (observed on q97's exact-dedup prefix: repeats never re-persisted).
    * The RDD sweep stays for checkpoint blocks, which the CacheManager
    * does not track.
    *
    * SCOPE: both `clearCache()` (shared CacheManager) and the persistent-
    * RDD sweep act on the whole SparkContext — including caches owned by
    * OTHER sessions sharing that context. Correct for the single-session
    * bench/verify harnesses this serves; do NOT call it from a shared-
    * context app expecting session isolation (evicted caches recompute —
    * a performance surprise, not a correctness one). */
  def sweep(spark: SparkSession, blocking: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
  }

  private def isReliable(spark: SparkSession): Boolean =
    spark.conf.get(ReliableConfKey, "false").toBoolean

  /** Storage-block RDD ids currently pinned by `ds`'s checkpoint leaves —
    * test hook for asserting [[release]] actually freed them. */
  def checkpointRddIds(ds: Dataset[_]): Seq[Int] =
    ds.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }

  // touch the classic package so an accidental cross-module Dataset split
  // (sql-api vs classic) fails to compile here, next to the explanation:
  // queryExecution/analyzed come from the classic Dataset, which is what
  // every frame in this engine is at runtime.
  private[graft] type ClassicDF = classic.DataFrame
}
