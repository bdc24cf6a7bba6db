package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** One timed interval of the traced run. Harness spans carry
  * `System.nanoTime` bounds; listener job/stage spans are converted from
  * the scheduler's epoch milliseconds onto the same clock. */
final case class Span(id: Long, parent: Long, name: String, start: Long,
                      end: Long, attrs: Map[String, Any] = Map.empty) {
  def json: String = Json.obj("id" -> id, "parent" -> parent, "name" -> name,
    "start_ns" -> start, "end_ns" -> end, "attrs" -> attrs)
}

/** In-memory span store plus the epoch-ms → nanoTime clock mapping. */
final class Spans {
  private val out = mutable.ArrayBuffer.empty[Span]
  private var next = 0L
  private val nanoBase = System.nanoTime()
  private val milliBase = System.currentTimeMillis()

  def newId(): Long = { next += 1; next }
  def add(s: Span): Unit = out += s
  def fromEpochMs(ms: Long): Long = nanoBase + (ms - milliBase) * 1000000L

  /** Time `body` as span `name` under `parent`; returns (result, span). */
  def timed[A](parent: Long, name: String)(body: => A): (A, Span) = {
    val id = newId()
    val t0 = System.nanoTime()
    val r = body
    val s = Span(id, parent, name, t0, System.nanoTime())
    add(s)
    (r, s)
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try out.foreach(s => w.println(s.json)) finally w.close()
  }
}

/** Per-stage task statistics gathered from task-end events. */
final class StageStats(val stageId: Int) {
  /** the job whose run submitted the stage (-1 if none is known) */
  var jobId = -1
  var submitMs = 0L
  var completeMs = 0L
  var numTasks = 0
  val durations = mutable.ArrayBuffer.empty[Long]
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakMem = 0L
  var failedTasks = 0

  /** longest task over the stage's median task (1.0 for even stages) */
  def skew: Double = if (durations.isEmpty) 1.0 else {
    val s = durations.sorted
    val med = math.max(1L, s(s.size / 2))
    s.last.toDouble / med
  }
}

final case class JobStats(jobId: Int, group: String, startMs: Long,
                          stageIds: Seq[Int], var endMs: Long = -1L,
                          var ok: Boolean = true)

/** The traced run's single SparkListener. Jobs are attributed to a span
  * by the job group the harness sets around each call, never by
  * timestamps; readers call [[PerfbenchBus.drain]] first. */
final class Probe extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  val stages = mutable.HashMap.empty[Int, StageStats]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageStats(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobStats(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = stage(e.stageInfo.stageId)
      // a stage runs under the newest running job that lists it; later
      // jobs that reuse its shuffle output list it too, but skip it
      s.jobId = jobs.values.filter(j => j.endMs < 0 && j.stageIds.contains(s.stageId))
        .map(_.jobId).maxOption.getOrElse(-1)
      s.numTasks = e.stageInfo.numTasks
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = stage(e.stageInfo.stageId)
      s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (s.submitMs == 0L) s.submitMs = e.stageInfo.submissionTime.getOrElse(s.completeMs)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.durations += e.taskInfo.duration
    if (e.reason != org.apache.spark.Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  def jobsWithPrefix(prefix: String): Seq[JobStats] = synchronized {
    jobs.values.filter(_.group.startsWith(prefix)).toSeq
  }
}

/** Physical- and logical-plan shape counts for the traced run. */
object PlanStats extends AdaptiveSparkPlanHelper {

  /** (exchanges, reused exchanges, nested-loop joins) in an executed
    * plan, looking through AQE stages and subqueries. */
  def physical(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count(n => n.isInstanceOf[BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[CartesianProductExec]))
  }

  def logicalNodes(plan: LogicalPlan): Int =
    plan.collectWithSubqueries { case p => p }.size
}

/** Union length of intervals (same unit in, same unit out). */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
