package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Listener-bus quiescence for metering listeners ([[StageMeter]], the
  * specs' job and plan listeners, perfbench): SparkListener events are
  * delivered asynchronously, so a meter read "right after count()
  * returns" undercounts the action just finished and leaks its late
  * events into the next read's window.
  * `LiveListenerBus.waitUntilEmpty` is the JVM-public drain the Spark
  * test harness itself uses, but the `SparkContext.listenerBus`
  * accessor is `private[spark]` — hence this one-line bridge living
  * under the org.apache.spark package tree (same access pattern as
  * [[FreshCheckpoint]]).
  */
object ListenerQuiesce {

  /** Block until every queued listener event is delivered, or
    * `timeoutMs` elapses. Returns false on timeout — callers treat a
    * non-quiesced read as best-effort (the meter degrades to the old
    * conservative behavior instead of failing the query).
    */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
