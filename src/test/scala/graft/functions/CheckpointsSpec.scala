package graft.functions

import graft.SparkSpec
import graft.operators.{Bfs, Hierarchy, PageRank}
import org.apache.spark.sql.functions._

/** The r6-measured leak: a k-round iterative loop that `localCheckpoint`s
  * per round strands k state frames in storage memory (q202 bench repeats
  * grew 1.4 s → 5.6 s). These tests pin the fix at both layers — the
  * [[Checkpoints]] primitives free exactly the superseded blocks, and the
  * refactored iterative operators pin O(1) frames regardless of round
  * count (asserted against `sparkContext.getPersistentRDDs`, the storage
  * registry the blocks live in). Exception: `ancestorClosure` returns a
  * union of per-round blocks and therefore pins O(log depth) FRAMES whose
  * total bytes equal the closure — the O(1)-frames rule bounds storage,
  * and that bound is unchanged.
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

  test("rotate frees the predecessor and keeps the successor usable") {
    import spark.implicits._
    sweep()
    var state = Checkpoints.cut((1 to 10).toDF("n"))
    val firstId = Checkpoints.checkpointRddIds(state).head
    for (_ <- 1 to 4)
      state = Checkpoints.rotate(state.withColumn("n", $"n" + 1), state)
    assert(!persistedIds.contains(firstId), "superseded checkpoint leaked")
    // only the final round's frame is pinned
    assert(Checkpoints.checkpointRddIds(state).forall(persistedIds.contains))
    assert(state.agg(min($"n")).as[Int].head() == 5)
  }

  test("release on a never-checkpointed frame is a no-op") {
    import spark.implicits._
    Checkpoints.release((1 to 3).toDF("n")) // must not throw
  }

  test("reliable mode without a checkpoint dir fails fast") {
    import spark.implicits._
    spark.conf.set(Checkpoints.ReliableConfKey, "true")
    try intercept[IllegalArgumentException] {
      Checkpoints.cut((1 to 3).toDF("n"))
    } finally spark.conf.unset(Checkpoints.ReliableConfKey)
  }

  test("reliable mode with a checkpoint dir writes a recoverable checkpoint") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.ReliableConfKey, "true")
    try {
      val cp = Checkpoints.cut((1 to 20).toDF("n"))
      assert(cp.count() == 20)
      assert(cp.queryExecution.analyzed.collectLeaves().nonEmpty)
    } finally {
      spark.conf.unset(Checkpoints.ReliableConfKey)
    }
  }

  test("reliable rotate deletes the superseded round's checkpoint FILES " +
    "(cluster profile: no durable-storage accumulation)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-rot")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Checkpoints.ReliableConfKey, "true")
    def rddDirs: Seq[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
      walk(dir.toFile).filter(_.getName.startsWith("rdd-")).map(_.getName)
    }
    try {
      var state = Checkpoints.cut((1 to 10).toDF("n"))
      for (_ <- 1 to 4)
        state = Checkpoints.rotate(state.withColumn("n", $"n" + 1), state)
      // only the live round's files remain; 4 superseded dirs are gone
      assert(rddDirs.size == 1,
        s"superseded checkpoint files leaked: $rddDirs")
      // the survivor is still fully readable (its files were not touched)
      assert(state.agg(min($"n")).as[Int].head() == 5)
    } finally {
      spark.conf.unset(Checkpoints.ReliableConfKey)
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
    // CONSTANT in rounds, not O(rounds): on the local profile the rounds
    // are lazy (rotateIfReliable — round 13), so exactly the three loop
    // INPUT frames stay pinned (v, edgeDeg, the initial rank frame)
    // whether the loop ran 6 rounds or 600; the reliable profile rotates
    // and releases per round as before (covered above)
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

  test("q202 peels in one task: a handful of jobs, one pinned frame") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    sweep()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      // build to action: the peel's eager pair job counts too
      val rows = graft.SparkEntry.queries("q202_kcore_peel")(
        spark, sfDir.replace("sf0.001", "sf0.01")).collect()
      org.apache.spark.ListenerBusDrain(sc)
      assert(rows.nonEmpty)
      // the distributed rounds ran ~4 jobs per lineage cut (8 cuts)
      assert(jobs.get <= 6, s"q202 started ${jobs.get} jobs")
    } finally sc.removeSparkListener(listener)
    // only the pair list's checkpoint, which the returned plan reads
    assert(persistedIds.size <= 1,
      s"q202 pinned ${persistedIds.size} frames")
    sweep()
  }
}
