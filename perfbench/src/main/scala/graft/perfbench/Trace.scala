package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are wall-clock milliseconds (the clock Spark's
  * listener events carry) plus a nanosecond duration for precision. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Long, endMs: Long, durNs: Long,
                      io: IoCounters.Snap) {
  def durS: Double = durNs / 1e9
}

/** Span recorder. Spans nest on the single client thread; they are
  * kept in memory and written out when the run ends. With tracing off
  * only the op-level timings exist and `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val io0 = IoCounters.snap()
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - n0
        stack = stack.tail
        spans += Span(id, name, parent, currentOp, t0,
          System.currentTimeMillis(), dur, IoCounters.snap() - io0)
      }
    }

  /** Self time per span: its duration minus its direct children's. */
  def selfTimes: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).view
      .mapValues(_.map(_.durS).sum).toMap
    spans.map(s => s.id -> (s.durS - childSum.getOrElse(s.id, 0.0))).toMap
  }
}

/** Spark-side counters gathered from outside the engine: a
  * SparkListener for jobs/tasks and a QueryExecutionListener for
  * planning phases and scanned files. Events are kept raw with their
  * timestamps and attributed to ops/spans by time window afterwards
  * (one client thread, so windows never overlap across ops). */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  import SparkCounters._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val queries = mutable.ArrayBuffer.empty[Query]
  private val jobById = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = Job(e.jobId, e.time, -1L)
    jobs += j; jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis()
                else phases.values.map(_.startTimeMs).min
    val planMs = phases.values.map(_.durationMs).sum
    val scans = PlanWalk.scans(qe.executedPlan)
    val read = scans.flatMap(_.metrics.get("numFiles")).map(_.value).sum
    val live = scans.map(s => scala.util.Try(
      s.relation.location.inputFiles.length.toLong).getOrElse(0L)).sum
    synchronized { queries += Query(start, planMs, read, live) }
  }
}

object SparkCounters {
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(finish: Long, runMs: Long, gcMs: Long,
                        shufW: Long, shufR: Long, inB: Long, outB: Long)
  final case class Query(start: Long, planMs: Long, filesRead: Long,
                         filesLive: Long)
}

object PlanWalk extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    scala.util.Try(collectWithSubqueries(p) {
      case s: FileSourceScanExec => s
    }).getOrElse(Nil)

  /** Estimated bytes of the right (build) side of each logical join
    * whose condition reads column `key`. */
  def buildSideBytes(p: LogicalPlan, key: String): Seq[BigInt] = p.collect {
    case j: Join if j.condition.exists(_.references.exists(_.name == key)) =>
      j.right.stats.sizeInBytes
  }

  /** Node names of the joins whose left keys read column `key`. */
  def joinOn(p: SparkPlan, key: String): Seq[String] = p.collect {
    case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == key)) =>
      j.nodeName
  }
}

/** Per-window aggregate of the Spark counters. */
final case class SparkWindow(jobs: Int, tasks: Int, taskS: Double,
    gcS: Double, jobUnionS: Double, shufWMb: Double, shufRMb: Double,
    inputMb: Double, outputMb: Double, planningS: Double,
    filesRead: Long, filesLive: Long)

object SparkWindow {
  private val MB = 1024.0 * 1024.0

  def of(c: SparkCounters, from: Long, to: Long): SparkWindow = c.synchronized {
    val js = c.jobs.filter(j => j.start >= from && j.start <= to)
    val ts = c.tasks.filter(t => t.finish >= from && t.finish <= to)
    val qs = c.queries.filter(q => q.start >= from && q.start <= to)
    // union of job intervals, clipped to the window
    val iv = js.map(j => (j.start, math.min(if (j.end < 0) to else j.end, to)))
      .sortBy(_._1)
    var union = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) union += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) union += curE - curS
    SparkWindow(js.size, ts.size, ts.map(_.runMs).sum / 1e3,
      ts.map(_.gcMs).sum / 1e3, union / 1e3,
      ts.map(_.shufW).sum / MB, ts.map(_.shufR).sum / MB,
      ts.map(_.inB).sum / MB, ts.map(_.outB).sum / MB,
      qs.map(_.planMs).sum / 1e3, qs.map(_.filesRead).sum,
      qs.map(_.filesLive).sum)
  }
}
