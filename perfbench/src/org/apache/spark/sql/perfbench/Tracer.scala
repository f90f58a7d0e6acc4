package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One node of the run -> pass -> op -> layer -> sql -> job -> stage
  * span tree. Times are epoch milliseconds.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    t0: Double, t1: Double, attrs: Map[String, Double])

/** Spark-side counters of one window (a pass, or one layer call). */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
  var cpuNs = 0L; var runMs = 0L; var planNs = 0L
  var bandJoinRows = 0L
  /** (start, end) epoch ms of every job */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** per stage: task durations in ms */
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

/** The benchmark's SparkListener and QueryExecutionListener.
  *
  * Jobs are attributed to the span id the driver thread put in the
  * `perfbench.span` local property before the call. Spark copies local
  * properties into the threads that run AQE stages and broadcasts, so
  * their jobs land on the calling span too. The driver drains the
  * listener bus after every layer call, so everything delivered belongs
  * to the current pass window and span.
  */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  val SpanKey = "perfbench.span"
  @volatile var currentSpan: Long = 0L
  private var nextId = 1000000000L
  val spans = mutable.ArrayBuffer.empty[Span]
  val perSpan = mutable.HashMap.empty[Long, Counters]
  var window = new Counters

  private val JobBase = 1000000000000L
  private val StageBase = 2000000000000L
  private val SqlBase = 3000000000000L
  private val jobSpan = mutable.HashMap.empty[Int, Long]
  private val jobParent = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val sqlStart = mutable.HashMap.empty[Long, (Long, String)]
  private val sqlSpan = mutable.HashMap.empty[Long, Long]

  private def fresh(): Long = { nextId += 1; nextId }
  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .flatMap(_.toLongOption).getOrElse(currentSpan)
  private def both(span: Long)(f: Counters => Unit): Unit = {
    f(window); f(perSpan.getOrElseUpdate(span, new Counters))
  }

  def drain(): Unit = org.apache.spark.sql.graft.ListenerQuiesce.waitUntilEmpty(sc)

  /** start a fresh pass window; returns the previous one */
  def rollWindow(): Counters = synchronized {
    val w = window; window = new Counters; w
  }

  def record(s: Span): Unit = synchronized { spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    jobSpan(e.jobId) = span
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    exec.foreach(x => sqlSpan.getOrElseUpdate(x, span))
    jobParent(e.jobId) = exec.filter(sqlStart.contains).map(SqlBase + _).getOrElse(span)
    both(span)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(e.jobId, currentSpan)
    val t0 = jobStart.remove(e.jobId).getOrElse(e.time)
    both(span)(_.jobIntervals += ((t0, e.time)))
    spans += Span(JobBase + e.jobId, jobParent.remove(e.jobId).getOrElse(span), "job",
      s"job ${e.jobId}", t0.toDouble,
      e.time.toDouble, Map.empty)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val job = stageJob.getOrElse(i.stageId, -1)
    val span = jobSpan.getOrElse(job, currentSpan)
    both(span)(_.stages += 1)
    spans += Span(StageBase + i.stageId, JobBase + job, "stage",
      i.name.takeWhile(_ != '\n').take(80),
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
      Map("tasks" -> i.numTasks.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = jobSpan.getOrElse(stageJob.getOrElse(e.stageId, -1), currentSpan)
    val m = e.taskMetrics
    both(span) { c =>
      c.tasks += 1
      c.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      if (m != null) {
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStart(s.executionId) = (s.time, s.description.take(80))
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val span = sqlSpan.remove(end.executionId).getOrElse(currentSpan)
      val (t0, desc) = sqlStart.remove(end.executionId).getOrElse((end.time, ""))
      val qe = end.qe
      // actions (executionName set) reach onSuccess/onFailure, which
      // count their planning; the rest (checkpoints, caches) count here
      if (qe != null && end.executionName.isEmpty) plan(span, qe)
      val band = if (qe == null) 0L else bandJoinRows(qe)
      if (band > 0) both(span)(_.bandJoinRows += band)
      spans += Span(SqlBase + end.executionId, span, "sql", desc, t0.toDouble, end.time.toDouble,
        Map("band_join_rows" -> band.toDouble))
    }
    case _ =>
  }

  private def plan(span: Long, qe: QueryExecution): Unit = {
    val ns = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    both(span)(_.planNs += ns)
  }

  /** rows out of joins keyed on (band, sig): the LSH bucket self-join
    * that emits minhash candidate pairs, read from the executed plan's
    * SQL metrics
    */
  private def bandJoinRows(qe: QueryExecution): Long = scala.util.Try {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    nodes(qe.executedPlan).collect {
      case j: BaseJoinExec
          if j.leftKeys.flatMap(_.references.map(_.name)).toSet == Set("band", "sig") =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }.getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plan(currentSpan, qe) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { plan(currentSpan, qe) }

  /** open a driver-side span; returns its id */
  def open(): Long = synchronized { fresh() }
}
