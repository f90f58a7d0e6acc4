package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.perfbench.{Span, Tracer}

import scala.collection.mutable

/** Per-pass timers and counters.
  *
  * `time(metric)` calls nest: a call's own seconds exclude the seconds
  * of the calls inside it, so every timer holds self time and the
  * timers of one pass add up to the time spent in ops. With a [[Tracer]]
  * attached, each call is also a span: its id goes into the
  * `perfbench.span` local property for the jobs it starts, and the
  * listener bus is drained when it ends so the counters of the call are
  * complete before the next one starts.
  */
final class Recorder(sc: SparkContext) {
  val values = mutable.LinkedHashMap.empty[String, Double]
  val timers = mutable.LinkedHashSet.empty[String]
  /** (span id, metric, op) of every timed call of the pass */
  val calls = mutable.ArrayBuffer.empty[(Long, String, String)]
  /** the op being run, for attributing calls */
  var op = ""
  var tracer: Option[Tracer] = None
  private var parents: List[Long] = Nil
  private var childNs: List[Long] = Nil
  /** seconds spent in `untimed` blocks of the pass */
  var untimedS = 0.0

  def beginPass(): Unit = { values.clear(); calls.clear(); untimedS = 0.0 }

  def add(metric: String, v: Double): Unit =
    values(metric) = values.getOrElse(metric, 0.0) + v

  def epochMs(): Double = System.currentTimeMillis().toDouble

  private def enter(t: Tracer, id: Long): Unit = {
    parents = id :: parents
    sc.setLocalProperty(t.SpanKey, id.toString); t.currentSpan = id
  }

  private def leave(t: Tracer): Unit = {
    parents = parents.tail
    sc.setLocalProperty(t.SpanKey, parents.headOption.map(_.toString).orNull)
    t.currentSpan = parents.headOption.getOrElse(Recorder.RunSpan)
  }

  /** add `ns` to the enclosing timer's children, so no self time has it */
  private def hide(ns: Long): Unit =
    childNs = childNs match { case h :: rest => (h + ns) :: rest; case Nil => Nil }

  /** drain the listener bus; the wait belongs to tracing, not to a timer */
  private def drain(t: Tracer): Unit = {
    val t0 = System.nanoTime()
    t.drain()
    hide(System.nanoTime() - t0)
  }

  /** a span around `body` with no timer of its own (pass, op) */
  def span[T](kind: String, name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val id = t.open()
      val parent = parents.headOption.getOrElse(Recorder.RunSpan)
      val t0 = epochMs()
      enter(t, id)
      try body finally {
        drain(t)
        leave(t)
        t.record(Span(id, parent, kind, name, t0, epochMs(), Map.empty))
      }
  }

  def time[T](metric: String)(body: => T): T = {
    timers += metric
    childNs = 0L :: childNs
    val id = tracer.map(_.open()).getOrElse(0L)
    val parent = parents.headOption.getOrElse(Recorder.RunSpan)
    val e0 = epochMs()
    tracer.foreach(enter(_, id))
    val t0 = System.nanoTime()
    try body finally {
      val dt = System.nanoTime() - t0
      val self = dt - childNs.head
      childNs = childNs.tail
      hide(dt)
      add(metric, self / 1e9)
      tracer.foreach { t =>
        drain(t)
        leave(t)
        t.record(Span(id, parent, "layer", metric, e0, epochMs(), Map("self_s" -> self / 1e9)))
        calls += ((id, metric, op))
      }
    }
  }

  /** bookkeeping inside an op that no timer and no pass time should see */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val dt = System.nanoTime() - t0
      untimedS += dt / 1e9
      hide(dt)
    }
  }
}

object Recorder {
  /** span id of the run, the root of every pass span */
  val RunSpan = 1L
}
