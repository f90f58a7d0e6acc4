package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

import scala.collection.mutable

/** The harness's one metering listener: each completed stage's wall,
  * task count, successful task durations and Spark's task metrics summed
  * over the stage (CPU, run and GC time, input and shuffle bytes,
  * shuffle write and fetch-wait time), plus the number of jobs started.
  * [[read]] drains the listener bus first (see [[ListenerQuiesce]]), so
  * a read right after an action sees that action's last stages.
  */
final class StageMeter(sc: SparkContext) extends SparkListener {
  import StageMeter._

  private var jobs = 0
  private val stages = mutable.ArrayBuffer.empty[Stage]
  /** successful task durations of stages not yet completed, by stage id */
  private val taskMs = mutable.Map.empty[Int, Vector[Long]]

  sc.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    Option(t.taskInfo).filter(_.successful).foreach { i =>
      taskMs(t.stageId) = taskMs.getOrElse(t.stageId, Vector.empty) :+ i.duration }
  }

  override def onStageCompleted(c: SparkListenerStageCompleted): Unit = synchronized {
    val i = c.stageInfo
    val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
    stages += Stage(i.stageId, i.name.takeWhile(_ != '\n'), wall, i.numTasks,
      taskMs.remove(i.stageId).getOrElse(Vector.empty), i.taskMetrics)
  }

  /** Drain the bus, then return what was recorded since the last read. */
  def read(): Reading = {
    ListenerQuiesce.waitUntilEmpty(sc)
    synchronized {
      val r = Reading(jobs, stages.toVector)
      jobs = 0; stages.clear(); taskMs.clear()
      r
    }
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object StageMeter {

  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int,
      taskMs: Vector[Long], metrics: TaskMetrics) {
    def maxTaskMs: Long = taskMs.maxOption.getOrElse(0L)
    def cpuMs: Long = metrics.executorCpuTime / 1000000
    def runMs: Long = metrics.executorRunTime
    def gcMs: Long = metrics.jvmGCTime
    def inputBytes: Long = metrics.inputMetrics.bytesRead
    def shuffleReadBytes: Long = metrics.shuffleReadMetrics.totalBytesRead
    def shuffleWriteBytes: Long = metrics.shuffleWriteMetrics.bytesWritten
    def shuffleWriteNs: Long = metrics.shuffleWriteMetrics.writeTime
    def fetchWaitMs: Long = metrics.shuffleReadMetrics.fetchWaitTime
  }

  final case class Reading(jobs: Int, stages: Vector[Stage]) {
    def total(f: Stage => Long): Long = stages.iterator.map(f).sum
  }

  /** Meter `body` alone: attach, run, drain, detach. */
  def measure[A](sc: SparkContext)(body: => A): (A, Reading) = {
    val meter = new StageMeter(sc)
    try { val a = body; (a, meter.read()) } finally meter.close()
  }
}
