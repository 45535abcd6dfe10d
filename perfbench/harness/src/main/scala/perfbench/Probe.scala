package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val start: Long, val stages: Int) {
  @volatile var end: Long = -1L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** One executed QueryExecution: its optimisation and planning phases (as
  * recorded by its own tracker, so nothing is planned a second time) and
  * the shape of its final physical plan. */
final case class QeRec(
    optStart: Long, optEnd: Long, planStart: Long, planEnd: Long,
    exchanges: Int, nodes: Int, filesRead: Long, filesBytes: Long)

/** Listener-side instruments of a traced run. Jobs are attributed to the
  * benchmark's spans afterwards, by time, so jobs launched from helper
  * threads inside an operator are attributed too. */
final class Probe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = new JobRec(e.jobId, e.time, e.stageIds.size)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.put(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (r != null && m != null) r.synchronized {
      r.tasks += 1
      r.runMs += m.executorRunTime
      r.cpuNs += m.executorCpuTime
      r.gcMs += m.jvmGCTime
      r.inputBytes += m.inputMetrics.bytesRead
      r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def span(k: String) = ph.get(k).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((-1L, -1L))
    val (o0, o1) = span(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION)
    val (p0, p1) = span(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING)
    val nodes: Seq[SparkPlan] =
      try collectWithSubqueries(qe.executedPlan) { case n => n }
      catch { case _: Throwable => Seq.empty }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    qes.add(QeRec(o0, o1, p0, p1,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]), nodes.size,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum))
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

/** Driver-side spans of a traced run, kept in memory until the run ends.
  * Times are epoch milliseconds with sub-millisecond precision, on the
  * same clock as the listener's job and task times. */
final class Spans(val enabled: Boolean) {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = base + (System.nanoTime() - nano0) / 1e6

  final case class Span(op: Int, name: String, t0: Double, t1: Double)
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.ArrayBuffer.empty[(Int, String, Double)]
  var op: Int = -1

  def apply[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = now()
      try f finally spans += Span(op, name, t0, now())
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters += ((op, name, v))
}
