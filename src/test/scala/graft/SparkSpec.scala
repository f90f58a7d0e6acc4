package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerQuiesce
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** shared local session for all specs: the mains' conf stack at
  * local[4], width 4 */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.build(cpus = 4, width = 4, extras = Seq(
      // every spec graph is tiny: with the driver-local CC fast path
      // at its default threshold the suite would stop exercising the
      // DISTRIBUTED FastSV/Pregel loops entirely. Disabled here; the
      // local path gets its own cross-check tests (FastSVSpec) that
      // set the conf per-test and restore it.
      "spark.graft.cc.localNnz" -> "0"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark

  /** run `body` with a 1-byte broadcast budget: the guard drops to one
    * row, so every loop takes its sharded (above-guard, 100 TB) plan
    */
  def sharded[T](body: => T): T = {
    val key = "spark.graft.broadcast.maxBytes"
    spark.conf.set(key, "1")
    try body finally spark.conf.unset(key)
  }

  /** the executed plans of the SQL actions `body` ran, in completion
    * order. Operators that return checkpointed frames run their plan
    * inside `localCheckpoint`, an action like `collect`, so this is
    * the plan that actually ran.
    */
  def executedPlans(body: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events are async: drain the bus before reading
      ListenerQuiesce.waitUntilEmpty(spark.sparkContext)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** the session's cache state: CacheManager entries and the ids of
    * the persistent RDDs
    */
  def cached: (Int, Set[Int]) = (org.apache.spark.sql.graft.CacheEntries(spark),
    spark.sparkContext.getPersistentRDDs.keySet.toSet)

  /** the ids of the broadcasts whose value the driver holds */
  def broadcasts: Set[Long] = org.apache.spark.sql.graft.BroadcastBlocks(spark)

  /** the broadcasts not in `before` that the driver still holds, once
    * the removals in flight have landed (`Broadcast.destroy` returns
    * before the blocks go) — waits up to 5 s for none to be left
    */
  def broadcastsLeft(before: Set[Long]): Set[Long] = {
    val until = System.nanoTime() + 5000000000L
    var left = broadcasts -- before
    while (left.nonEmpty && System.nanoTime() < until) {
      Thread.sleep(50)
      left = broadcasts -- before
    }
    left
  }

  /** `body`'s value and what it printed to stderr */
  def stderrOf[T](body: => T): (T, String) = {
    val err = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    val out = try {
      System.setErr(new java.io.PrintStream(err, true))
      body
    } finally System.setErr(oldErr)
    (out, err.toString)
  }
}
