package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import graft.functions.Checkpoints
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Runs queries one at a time for a workload and, when tracing, records
  * spans and attributes listener counts to each execution through the
  * job group set around every call into a layer. */
final class Executor(spark: SparkSession, dir: String, val trace: Boolean) {
  import Batch.digest

  private val sc = spark.sparkContext
  val probe: Option[Probe] = if (trace) Some(new Probe) else None
  probe.foreach(sc.addSparkListener)
  val spans = new Spans
  val execs = mutable.ArrayBuffer.empty[ListMap[String, Any]]
  private var execId = 0L

  /** Build, plan and consume one query; returns its record. */
  def runOne(pass: Int, name: String,
             fn: (SparkSession, String) => DataFrame): ListMap[String, Any] = {
    execId += 1
    val q = s"pb-$execId"
    val root = spans.newId()
    val t0 = System.nanoTime()
    var rec = ListMap[String, Any]("name" -> name, "pass" -> pass, "exec" -> execId)
    var build, plan, action: Span = null
    var built: DataFrame = null
    val ok = try {
      if (trace) sc.setJobGroup(s"$q-build", name, interruptOnCancel = false)
      val (df, bs) = spans.timed(root, "operators.build")(fn(spark, dir))
      build = bs
      built = df
      if (trace) sc.setJobGroup(s"$q-plan", name, interruptOnCancel = false)
      plan = spans.timed(root, "plans.plan")(df.queryExecution.executedPlan)._2
      if (trace) sc.setJobGroup(s"$q-action", name, interruptOnCancel = false)
      val ((rows, hash), as) = spans.timed(root, "exec.action")(digest(df))
      action = as
      rec ++= Seq("ms" -> (System.nanoTime() - t0) / 1e6,
        "rows" -> rows, "hash" -> hash.toString)
      true
    } catch {
      case e: Throwable =>
        rec ++= Seq("error" -> (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString))
        false
    }
    val t1 = System.nanoTime()
    val storageMb = if (trace)
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    else 0.0
    if (trace) sc.setJobGroup(s"$q-sweep", name, interruptOnCancel = false)
    val (_, sweep) = spans.timed(root, "checkpoints.sweep")(Checkpoints.sweep(spark))
    if (trace) sc.clearJobGroup()
    spans.add(Span(root, 0L, "query", t0, sweep.end,
      Map("name" -> name, "pass" -> pass, "exec" -> execId, "ok" -> ok)))
    rec ++= Seq("ok" -> ok, "wall_ms" -> (t1 - t0) / 1e6)
    if (trace) {
      rec ++= Seq("sweep_ms" -> (sweep.end - sweep.start) / 1e6,
        "storage_mb" -> storageMb)
      Option(build).foreach(s => rec += "build_ms" -> (s.end - s.start) / 1e6)
      Option(plan).foreach(s => rec += "plan_ms" -> (s.end - s.start) / 1e6)
      Option(action).foreach(s => rec += "action_ms" -> (s.end - s.start) / 1e6)
      Option(built).foreach(df => rec += "analyzed_nodes" ->
        PlanStats.logicalNodes(df.queryExecution.analyzed))
      if (ok) {
        val phases = built.queryExecution.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          rec += s"${p}_ms" -> phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        }
        val (ex, reused, nlj) = PlanStats.physical(built.queryExecution.executedPlan)
        rec ++= Seq("exchanges" -> ex, "reused_exchanges" -> reused,
          "nested_loop_joins" -> nlj)
      }
      rec += "span_ids" -> ListMap(("query" -> root) +: Seq("build" -> build,
        "plan" -> plan, "action" -> action, "sweep" -> sweep)
        .collect { case (k, s) if s != null => k -> s.id }: _*)
    }
    execs += rec
    rec
  }


  /** Drain the listener bus, attach listener counts to every record and
    * write the spans; returns the traced fields of the result file. */
  def finish(spansPath: String): Seq[(String, Any)] = probe.map { p =>
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(p)
    val layered = execs.map(r => r ++ execStats(p, r))
    execs.clear()
    execs ++= layered
    spans.write(spansPath)
    Seq("spans" -> spansPath)
  }.getOrElse(Nil)

  /** Listener totals over every job of the run, grouped or not: the
    * stream workload's micro-batches run on the streams' own threads. */
  def totals(): ListMap[String, Any] = probe.map { p =>
    org.apache.spark.PerfbenchBus.drain(sc)
    p.synchronized {
      val jobs = p.jobs.values.toSeq.filter(_.endMs >= 0)
      val stages = p.stages.values.toSeq.filter(_.completeMs > 0)
      val wall = if (jobs.isEmpty) 0L else jobs.map(_.endMs).max - jobs.map(_.startMs).min
      val cover = Intervals.union(jobs.map(j => (j.startMs, j.endMs)))
      ListMap[String, Any]("jobs" -> jobs.size, "stages" -> stages.size,
        "tasks" -> stages.map(_.durations.size).sum,
        "job_gap_ms" -> (wall - cover).toDouble,
        "task_ms" -> stages.map(_.runMs).sum,
        "task_cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
        "task_gc_ms" -> stages.map(_.gcMs).sum,
        "input_bytes" -> stages.map(_.inputBytes).sum,
        "shuffle_read_bytes" -> stages.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum,
        "spill_bytes" -> stages.map(_.spill).sum,
        "peak_exec_mem_mb" -> (if (stages.isEmpty) 0.0 else stages.map(_.peakMem).max / 1048576.0),
        "failed_tasks" -> stages.map(_.failedTasks).sum,
        "stage_skew" -> (if (stages.isEmpty) 1.0 else stages.map(_.skew).max),
        "core_util" -> stages.map(_.runMs).sum / math.max(1.0, wall * sc.defaultParallelism.toDouble))
    }
  }.getOrElse(ListMap.empty)

  /** Listener-side counts for one execution, from the jobs of its groups;
    * also records job and stage spans under the span they ran in. */
  private def execStats(p: Probe, rec: ListMap[String, Any]): Seq[(String, Any)] = {
    val q = s"pb-${rec("exec")}"
    val spanIds = rec("span_ids").asInstanceOf[ListMap[String, Long]]
    val jobs = p.jobsWithPrefix(q + "-")
    val actionJobs = jobs.filter(_.group == s"$q-action")
    val ran = p.synchronized(p.stages.values.filter(_.completeMs > 0).groupBy(_.jobId))
    def stagesOf(js: Seq[JobStats]) = js.flatMap(j => ran.getOrElse(j.jobId, Nil))
    val stages = stagesOf(jobs)
    val actionStages = stagesOf(actionJobs)
    val actionMs = rec.get("action_ms").map(_.asInstanceOf[Double]).getOrElse(0.0)
    val jobCover = Intervals.union(actionJobs.map(j => (j.startMs, math.max(j.endMs, j.startMs))))
    // spans: each job under the harness span whose group started it
    jobs.foreach { j =>
      val parent = spanIds.getOrElse(j.group.stripPrefix(q + "-"), spanIds("query"))
      val jid = spans.newId()
      val jEnd = if (j.endMs >= j.startMs) j.endMs else j.startMs
      spans.add(Span(jid, parent, "exec.job", spans.fromEpochMs(j.startMs),
        spans.fromEpochMs(jEnd), Map("job" -> j.jobId, "ok" -> j.ok)))
      ran.getOrElse(j.jobId, Nil).foreach { s =>
        spans.add(Span(spans.newId(), jid, "exec.stage",
          spans.fromEpochMs(s.submitMs), spans.fromEpochMs(s.completeMs),
          Map("stage" -> s.stageId, "tasks" -> s.durations.size)))
      }
    }
    Seq("jobs" -> jobs.size,
      "eager_jobs" -> jobs.count(_.group == s"$q-build"),
      "stages" -> stages.size,
      "tasks" -> stages.map(_.durations.size).sum,
      "job_gap_ms" -> math.max(0.0, actionMs - jobCover),
      "task_ms" -> stages.map(_.runMs).sum,
      "action_task_ms" -> actionStages.map(_.runMs).sum,
      "task_cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
      "task_gc_ms" -> stages.map(_.gcMs).sum,
      "input_bytes" -> stages.map(_.inputBytes).sum,
      "shuffle_read_bytes" -> stages.map(_.shuffleRead).sum,
      "shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum,
      "spill_bytes" -> stages.map(_.spill).sum,
      "peak_exec_mem_mb" -> (if (stages.isEmpty) 0.0 else stages.map(_.peakMem).max / 1048576.0),
      "failed_tasks" -> stages.map(_.failedTasks).sum,
      "stage_skew" -> (if (stages.isEmpty) 1.0 else stages.map(_.skew).max))
  }

}
