package graft.functions

import graft.SparkSpec
import graft.operators.{Bfs, Hierarchy, PageRank}
import org.apache.spark.sql.functions._

/** The r6-measured leak: a k-round iterative loop that `localCheckpoint`s
  * per round strands k state frames in storage memory (q202 bench repeats
  * grew 1.4 s → 5.6 s). These tests pin the fix at both layers — the
  * [[Checkpoints]] cut and its two loop drivers ([[Checkpoints.iterate]],
  * [[Checkpoints.iterateCounted]]) free exactly the superseded blocks, and
  * the iterative operators built on them pin O(1) frames regardless of
  * round count (asserted against `sparkContext.getPersistentRDDs`, the
  * storage registry the blocks live in). Exception: `ancestorClosure`
  * returns a union of per-round blocks and therefore pins O(log depth)
  * FRAMES whose total bytes equal the closure — the O(1)-frames rule
  * bounds storage, and that bound is unchanged. `ReliableProfileSpec`
  * runs the same operators on the reliable profile.
  */
class CheckpointsSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sweep(): Unit = Checkpoints.sweep(spark, blocking = true)

  test("cut materializes and pins exactly one RDD; release frees it") {
    import spark.implicits._
    sweep()
    val before = persistedIds
    val cp = Checkpoints.cut((1 to 100).toDF("n").filter($"n" % 2 === 0))
    val ids = Checkpoints.checkpointRddIds(cp)
    assert(ids.size == 1)
    assert((persistedIds -- before) == ids.toSet)
    assert(cp.count() == 50)
    Checkpoints.release(cp)
    // blocking=false release: the registry entry clears synchronously
    assert(!persistedIds.contains(ids.head))
  }

  test("cutCounted folds rows and flagged rows into its one job") {
    import spark.implicits._
    val df = Seq(Some(true), Some(false), None, Some(true), Some(true))
      .toDF("f")
    val (c, jobs) = graft.JobCount(spark)(
      Checkpoints.cutCounted(df, Some("f")))
    // a null flag counts as false
    assert((c.rows, c.flagged) == (5L, 3L))
    assert(jobs == 1, s"counted cut started $jobs jobs")
    assert(Checkpoints.cutCounted(df).flagged == 0L)
    intercept[IllegalArgumentException] {
      Checkpoints.cutCounted((1 to 3).toDF("n"), Some("n"))
    }
    Checkpoints.release(c.frame)
  }

  test("counted driver frees each superseded round") {
    import spark.implicits._
    sweep()
    var firstId = -1
    var seen = List.empty[Long]
    val end = Checkpoints.iterateCounted((1 to 10).toDF("n"), 4)(
      step = { prev =>
        if (firstId < 0) firstId = Checkpoints.checkpointRddIds(prev.frame).head
        seen ::= prev.rows
        prev.frame.withColumn("n", $"n" + 1).filter($"n" <= 10)
      })
    assert(!persistedIds.contains(firstId), "superseded checkpoint leaked")
    // only the final round's frame is pinned
    assert(persistedIds == Checkpoints.checkpointRddIds(end.frame).toSet)
    // each step saw the previous round's count; the last round's is kept
    assert(seen.reverse == Seq(10L, 9L, 8L, 7L) && end.rows == 6L)
    assert(end.frame.agg(min($"n")).as[Int].head() == 5)
    sweep()
  }

  test("counted driver: the stop test sees each round's counts, and a " +
    "bound of 0 returns init cut") {
    import spark.implicits._
    sweep()
    val tests = scala.collection.mutable.Buffer.empty[(Option[Long], Long)]
    val end = Checkpoints.iterateCounted(
      (1 to 8).toDF("n").withColumn("odd", $"n" % 2 === 1), 10,
      Some("odd"))(
      step = prev => prev.frame.filter($"n" < 5 || !$"odd"),
      done = { (prev, cur) =>
        tests += ((prev.map(_.flagged), cur.flagged))
        prev.exists(_.flagged == cur.flagged)
      })
    assert(tests == Seq((None, 4L), (Some(4L), 2L), (Some(2L), 2L)))
    assert(end.rows == 6L)
    val init = Checkpoints.iterateCounted((1 to 3).toDF("n"), 0)(
      step = _ => fail("a bound of 0 runs no step"))
    assert(init.rows == 3L && Checkpoints.checkpointRddIds(init.frame).nonEmpty)
    sweep()
  }

  test("fixed-round driver stays lazy on the local profile") {
    import spark.implicits._
    sweep()
    val (out, jobs) = graft.JobCount(spark)(
      Checkpoints.iterate((1 to 10).toDF("n"), 6)(_.withColumn("n", $"n" + 1)))
    // init is cut (one job); the rounds are not
    assert(jobs == 1, s"fixed-round driver started $jobs jobs")
    assert(persistedIds == Checkpoints.checkpointRddIds(out).toSet)
    assert(out.agg(min($"n")).as[Int].head() == 7)
    sweep()
  }

  test("release on a never-checkpointed frame is a no-op") {
    import spark.implicits._
    Checkpoints.release((1 to 3).toDF("n")) // must not throw
  }

  test("reliable mode without a checkpoint dir fails fast") {
    import spark.implicits._
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    spark.conf.set(Checkpoints.ReliableConfKey, "true")
    try intercept[IllegalArgumentException] {
      Checkpoints.cut((1 to 3).toDF("n"))
    } finally spark.conf.unset(Checkpoints.ReliableConfKey)
  }

  test("reliable mode with a checkpoint dir writes a recoverable " +
    "checkpoint") {
    import spark.implicits._
    org.apache.spark.ReliableProfile(spark) { dir =>
      val computed = spark.sparkContext.longAccumulator("computed")
      val ds = spark.range(20).map { x => computed.add(1); x }
      val (c, jobs) = graft.JobCount(spark)(Checkpoints.cutCounted(ds))
      // the fold job, then Spark's write job reading the persisted rows
      assert(jobs == 2, s"reliable counted cut started $jobs jobs")
      assert(computed.value == 20L, "reliable cut computed its input twice")
      assert(c.rows == 20L && c.frame.count() == 20L)
      assert(org.apache.spark.ReliableProfile.rddDirs(dir) ==
        Checkpoints.checkpointRddIds(c.frame).map("rdd-" + _).toSet)
      val (_, cutJobs) = graft.JobCount(spark)(Checkpoints.cut(ds))
      assert(cutJobs == 2, s"reliable cut started $cutJobs jobs")
    }
  }

  // cluster profile: no durable-storage accumulation
  test("reliable drivers delete superseded round files") {
    import spark.implicits._
    org.apache.spark.ReliableProfile(spark) { dir =>
      def live(ds: org.apache.spark.sql.Dataset[_]) =
        Checkpoints.checkpointRddIds(ds).map("rdd-" + _).toSet
      val input = Checkpoints.cut((1 to 10).toDF("d"))
      val fixed = Checkpoints.iterate((1 to 10).toDF("n"), 4,
        inputs = Seq(input))(_.withColumn("n", $"n" + 1))
      // only the live round's files remain: 4 superseded round dirs and
      // the released input are gone
      assert(org.apache.spark.ReliableProfile.rddDirs(dir) == live(fixed))
      // the survivor is still fully readable (its files were not touched)
      assert(fixed.agg(min($"n")).as[Int].head() == 5)
      val counted = Checkpoints.iterateCounted((1 to 10).toDF("n"), 4)(
        prev => prev.frame.withColumn("n", $"n" + 1)).frame
      assert(org.apache.spark.ReliableProfile.rddDirs(dir) ==
        live(fixed) ++ live(counted))
      assert(counted.agg(min($"n")).as[Int].head() == 5)
    }
  }

  test("iterative operators pin O(1) frames, not O(rounds)") {
    import spark.implicits._
    sweep()
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val nodes = (1L to 6L).toDF("id")

    val pr = PageRank.ranks(nodes, edges, iters = 6)
    assert(pr.count() == 6)
    // CONSTANT in rounds, not O(rounds): on the local profile the
    // fixed-round driver keeps the rounds lazy, so exactly the three loop
    // INPUT frames stay pinned (v, edgeDeg, the initial rank frame)
    // whether the loop ran 6 rounds or 600; on the reliable profile the
    // driver cuts and releases per round (ReliableProfileSpec)
    assert(persistedIds.size <= 3,
      s"PageRank pinned ${persistedIds.size} frames after 6 rounds")
    sweep()

    val hops = Bfs.hops(nodes.limit(1), edges, rounds = 5)
    assert(hops.count() == 6)
    // same constant-in-rounds rule: local lazy rounds pin the two loop
    // inputs (e, the seed dist frame), never a per-round frame
    assert(persistedIds.size <= 2,
      s"Bfs pinned ${persistedIds.size} frames after 5 rounds")
    sweep()

    val forest = Seq((1L, None), (2L, Some(1L)), (3L, Some(2L)),
      (4L, Some(3L)), (5L, Some(4L))).toDF("id", "parent")
    val flat = Hierarchy.flatten(forest, "id", "parent")
    assert(flat.count() == 5)
    assert(persistedIds.size <= 1,
      s"Hierarchy.flatten pinned ${persistedIds.size} frames")
    sweep()

    val closure = Hierarchy.ancestorClosure(forest, "id", "parent")
    assert(closure.count() == 5 + 4 + 3 + 2 + 1)
    // ancestorClosure's r12 contract is O(log depth) BLOCKS, not O(1)
    // frames: the returned closure is a union of per-round checkpointed
    // blocks (1 self block + 1 per executed round), each closure pair
    // written exactly once — the alternative (re-checkpointing the
    // growing union every round) re-materializes Σₖ|Aₖ| ≈ log·|closure|
    // rows. Total pinned BYTES equal the closure either way; only the
    // frame count differs. The final P pointer is released inside the
    // loop. Depth-4 chain ⇒ 3 rounds ⇒ 1 + 3 = 4 blocks.
    assert(persistedIds.size <= 4,
      s"ancestorClosure pinned ${persistedIds.size} frames " +
        "(expected 1 self block + 1 per round, final P released)")
    sweep()
  }

  test("connected components propagation/contraction release per round") {
    import spark.implicits._
    sweep()
    // long chain → propagation needs many rounds; tiny threshold forces
    // multi-level contraction on the long-typed path
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Components.connectedComponents(chain, "a", "b",
      localEdgeThreshold = 8L)
    assert(cc.select(countDistinct($"component")).as[Long].head() == 1L)
    assert(persistedIds.size <= 2,
      s"components pinned ${persistedIds.size} frames")
    sweep()
  }

  /** Spark jobs each iterative query starts at sf0.01, from building its
    * plan (eager cuts and sizing counts) through `collect()`. A cap is
    * the count measured before the loop driver replaced the hand-wired
    * `Checkpoints` calls; a cut policy that adds a materializing job per
    * round, or a count job beside a cut, shows up here. */
  private val iterativeJobCaps = Seq(
    "q100_dedup_components" -> 21,
    "q143_hierarchy_flatten" -> 13,
    "q148_subtree_rollup" -> 23,
    "q155_kmeans_assign" -> 6,
    "q157_pagerank" -> 25,
    "q159_bfs_hops" -> 16,
    "q163_entity_clusters" -> 15,
    "q185_shortest_path" -> 16,
    "q202_kcore_peel" -> 4)

  private def jobsToCollect(query: String): Int = {
    val (rows, jobs) = graft.JobCount(spark) {
      graft.SparkEntry.queries(query)(
        spark, sfDir.replace("sf0.001", "sf0.01")).collect()
    }
    assert(rows.nonEmpty, s"$query returned no rows")
    jobs
  }

  for ((query, cap) <- iterativeJobCaps)
    test(s"$query starts at most $cap jobs, build through action") {
      sweep()
      val jobs = jobsToCollect(query)
      assert(jobs <= cap, s"$query started $jobs jobs")
      sweep()
    }

  test("q202 peels in one task: a handful of jobs, one pinned frame") {
    sweep()
    val jobs = jobsToCollect("q202_kcore_peel")
    assert(jobs <= iterativeJobCaps.toMap.apply("q202_kcore_peel"),
      s"q202 started $jobs jobs")
    // only the pair list's checkpoint, which the returned plan reads
    assert(persistedIds.size <= 1,
      s"q202 pinned ${persistedIds.size} frames")
    sweep()
  }
}
