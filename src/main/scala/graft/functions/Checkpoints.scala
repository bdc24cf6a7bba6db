package graft.functions

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cut discipline for iterative operators (PageRank, BFS,
  * hierarchy flattening, k-core peel, connected components, k-means).
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
  *     the RDD itself; [[rotate]] packages the resulting
  *     checkpoint-then-free-predecessor loop step.
  *
  *  2. **`localCheckpoint` is non-reliable storage.** On a real cluster an
  *     executor loss mid-iteration is unrecoverable (the lineage was
  *     truncated, the blocks are gone). [[cut]] upgrades to a reliable
  *     `checkpoint(dir)` when the session has a checkpoint directory and
  *     `graft.checkpoint.reliable=true` — the cluster profile — and stays
  *     on the fast local path everywhere else (local mode keeps the JVM,
  *     so local blocks are as durable as the job).
  *
  * Safety rule callers must follow: only [[release]] a frame once a LATER
  * eager checkpoint derived from it has materialized, and never release a
  * frame the operator's RETURNED (lazy) plan still reads — a truncated
  * lineage cannot recompute freed blocks. In practice most loops follow
  * the same shape: the returned frame depends only on the final round's
  * checkpoint, so all predecessors are releasable. The exception is
  * `Hierarchy.ancestorClosure`, whose returned plan unions EVERY round's
  * block (each closure pair is materialized exactly once): there the
  * per-round blocks stay pinned — O(log depth) frames totalling the
  * closure's bytes — and only the superseded pointer frames are released.
  */
object Checkpoints {

  /** Spark conf key: set `true` (with `sparkContext.setCheckpointDir`) to
    * route [[cut]] through reliable checkpoints on cluster profiles. */
  val ReliableConfKey = "graft.checkpoint.reliable"

  /** Eagerly materialize `ds` and cut its lineage. Local checkpoint by
    * default; reliable `checkpoint` when [[ReliableConfKey]] is true and a
    * checkpoint dir is set (reliable without a dir would throw deep in the
    * job — fail the misconfiguration fast here instead). */
  def cut[T](ds: Dataset[T]): Dataset[T] = {
    val reliable =
      ds.sparkSession.conf.get(ReliableConfKey, "false").toBoolean
    if (reliable) {
      require(
        ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConfKey=true requires sparkContext.setCheckpointDir")
      // A reliable checkpoint writes its files in a SECOND job over the
      // same RDD (the eager count, then ReliableCheckpointRDD's write
      // job) — without a persist every iterative round COMPUTES TWICE,
      // which the r12 cluster bench measured as the whole iterative
      // tier running 1.5–3.2× over the uniform cluster-overhead model
      // (BASELINE §4.0f). Persisting first makes the write job read the
      // cached rows instead; MEMORY_AND_DISK so memory pressure spills
      // rather than recomputes. The persist must precede the FIRST
      // physical planning of `ds` (cache substitution happens at plan
      // time) — true for every cut/rotate call site, which checkpoint
      // freshly-built frames. Unpersisted in `finally`: both jobs have
      // completed by then, and the returned frame reads the checkpoint
      // RDD, not this plan's cache.
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(true)
      finally { ds.unpersist(blocking = false); () }
    } else ds.localCheckpoint(true)
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
  def sweep(spark: org.apache.spark.sql.SparkSession,
            blocking: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
  }

  /** One loop step: eagerly checkpoint `next`, then free its now-
    * superseded predecessor `prev`. Returns the checkpointed frame. Safe
    * because [[cut]] is eager — by the time `prev` is freed, `next` no
    * longer needs it. */
  def rotate[T](next: Dataset[T], prev: Dataset[_]): Dataset[T] = {
    val cp = cut(next)
    release(prev)
    cp
  }

  /** [[rotate]] for FIXED-round loops whose state frame is consumed by
    * exactly ONE downstream reference per round (PageRank's rank frame:
    * `inflow` reads `pr` once, the recombine produces the next `pr`) and
    * whose result is materialized by a single caller action.
    *
    * On the local profile this is the IDENTITY: the unrolled k-round
    * plan is linear in k (single reference ⇒ no subtree doubling), one
    * action executes every round exactly once, and the per-round eager
    * localCheckpoint bought nothing except k driver round-trips — a
    * materialization job plus a fresh analysis/planning pass per round,
    * measured as ~60% of q157's wall at sf0.1 (43 jobs, ~1.5 s of
    * inter-job driver gaps for ~1.1 s of stage time).
    *
    * On the reliable (cluster) profile it keeps the full per-round
    * checkpoint+release discipline: there the checkpoint is durability —
    * an executor loss resumes from the last round instead of recomputing
    * the whole chain — which is exactly the property the executor-kill
    * gate pins, and worth k materialization jobs on a long job.
    *
    * Callers whose state is referenced MORE than once per round (BFS's
    * union+step reads `dist` twice) must NOT use this without verifying
    * exchange reuse covers the extra reference — a non-reused second
    * read doubles per-round work between cuts. */
  def rotateIfReliable[T](next: Dataset[T], prev: Dataset[_]): Dataset[T] =
    if (next.sparkSession.conf.get(ReliableConfKey, "false").toBoolean)
      rotate(next, prev)
    else next

  /** [[cut]] that also returns the frame's row count — in the SAME job
    * as the materialization on the local path (round 12). The iterative
    * loops all need per-round sizes (convergence checks, and the
    * driver-count-gated broadcast decisions in [[Escalation.bcastIfSmall]]
    * — a checkpoint's `LogicalRDD` carries no stats, so Catalyst alone
    * can never pick a broadcast join inside a loop); paying a separate
    * count job per round doubled the action count of every loop. See
    * [[cutAndCount]]. */
  def cutCounted[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val (cp, n, _) = cutAndCount(ds, flagIdx = -1)
    (cp, n)
  }

  /** [[cutCounted]] that ALSO counts rows whose boolean column `flagCol`
    * is true — still ONE job (round 13). Convergence loops need both the
    * state size (broadcast gating) and a frontier/settled count per
    * round; paying a separate filtered-count job doubled every round's
    * driver round-trips (measured: ~40–80 ms of job gap each at sf0.1).
    * A null flag counts as false. */
  def cutCountedFlag[T](ds: Dataset[T],
                        flagCol: String): (Dataset[T], Long, Long) = {
    val idx = ds.schema.fieldIndex(flagCol)
    require(ds.schema(idx).dataType ==
      org.apache.spark.sql.types.BooleanType,
      s"cutCountedFlag: $flagCol must be boolean, got ${ds.schema(idx)}")
    cutAndCount(ds, idx)
  }

  /** Materialize `ds`, cut its lineage, and count its rows plus, when
    * `flagIdx >= 0`, the rows whose boolean column at `flagIdx` is true.
    * The local path plants a LAZY local checkpoint (no job) and folds both
    * counts in ONE job over its RDD — computing the plan, persisting the
    * marked blocks and truncating lineage at job end. The reliable
    * (cluster) path keeps [[cut]]'s persist-then-checkpoint discipline and
    * counts the checkpointed RDD directly (a cheap file-backed scan, no
    * SQL agg plan). */
  private def cutAndCount[T](ds: Dataset[T],
                             flagIdx: Int): (Dataset[T], Long, Long) = {
    val reliable =
      ds.sparkSession.conf.get(ReliableConfKey, "false").toBoolean
    val cp = if (reliable) cut(ds) else ds.localCheckpoint(eager = false)
    // a lazy localCheckpoint and a reliable checkpoint both plant a
    // LogicalRDD leaf; its absence is a Spark behaviour change to surface
    val rdd = rddOf(cp).getOrElse(sys.error(
      s"Checkpoints: checkpoint left no LogicalRDD leaf:\n" +
        cp.queryExecution.analyzed.treeString))
    val (rows, flagged) = rdd.mapPartitions { it =>
      var n = 0L; var t = 0L
      it.foreach { r =>
        n += 1L
        if (flagIdx >= 0 && !r.isNullAt(flagIdx) && r.getBoolean(flagIdx))
          t += 1L
      }
      Iterator.single((n, t))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (cp, rows, flagged)
  }

  /** [[rotate]] returning (frame, rows, rows with `flagCol` true) in one
    * materializing job ([[cutCountedFlag]]). */
  def rotateCountedFlag[T](next: Dataset[T], prev: Dataset[_],
                           flagCol: String): (Dataset[T], Long, Long) = {
    val r = cutCountedFlag(next, flagCol)
    release(prev)
    r
  }

  private def rddOf(ds: Dataset[_]) =
    ds.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }

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
