package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graft.ListenerQuiesce
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Plan dumper for the optimization rounds' evidence files: builds each
  * selected catalog query Bench-identically (same [[GraftSession]], same
  * untimed warm-up and prepare) and writes its `.explain("formatted")`
  * output to `plans/<SPARK_GRAFT_PLAN_DIR>/<query>_<SPARK_GRAFT_PLAN_TAG>.txt`.
  *
  * `SPARK_GRAFT_ONLY=a,b,c` selects queries; `SPARK_GRAFT_EXTRA_CONF`
  * (the session's controlled-A/B hook) overlays session confs, so a
  * before/after pair for a conf-gated plan change is two invocations
  * with the flag flipped — no code checkout needed. A frame that reads
  * checkpoints (loops, checkpointing operators) shows only the final
  * gather, so the plans of the actions the query ran while it was built
  * (checkpoints, driver collects) are also written, one node a line.
  * Each row's oracle SQL is written beside them, so one plan diff shows
  * the engine's and the oracle's changes together.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "after")
    // plans root resolves relative to the working directory (override
    // with SPARK_GRAFT_PLAN_ROOT) — the r14 dumper hardcoded
    // /root/repo/plans and broke for any other checkout (ADVICE r14)
    val outDir = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_ROOT", "plans"),
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "r15"))
    Files.createDirectories(outDir)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = GraftSession()
    val failed = dump(spark, sfDir, outDir, tag,
      SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) })
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plans] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Write each query's formatted plan to `<outDir>/<name>_<tag>.txt`
    * (its actions' to `<name>.actions_<tag>.txt`, its oracle SQL, when
    * the catalog has one, to `<name>.oracle_<tag>.txt`); returns the names
    * of the queries that threw or whose prepare failed, sorted (see
    * [[Verify.eachQuery]]).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: Path, tag: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] =
    Verify.eachQuery(spark, "plans", queries) { (name, fn) =>
      val (prepErr, _) = Bench.prepare(spark, sfDir, name)
      val (df, actions) = actionPlans(spark)(fn(spark, sfDir))
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"),
        df.queryExecution.explainString(FormattedMode))
      if (actions.nonEmpty) Files.writeString(
        outDir.resolve(s"$name.actions_$tag.txt"), actions.mkString("\n"))
      SparkEntry.oracleSql.get(name).foreach(sql =>
        Files.writeString(outDir.resolve(s"$name.oracle_$tag.txt"), sql))
      println(s"[plans] $name -> ${name}_$tag.txt")
      // a failed prepare may leave the plan wrong-shape: it is written,
      // and the query counts as failed
      prepErr.foreach(e => throw new IllegalStateException(e))
    }

  /** `body`'s result and the plans of the SQL actions it ran, in order;
    * the async bus is drained before the listener goes on and comes off */
  private def actionPlans[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(s"== action ${plans.size + 1}: $funcName ==\n" + asPlanned(qe.executedPlan))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerQuiesce.waitUntilEmpty(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerQuiesce.waitUntilEmpty(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** `p` one node a line as planned (an adaptive query's final plan
    * depends on the order its stages finished: two dumps of one tree
    * disagreed on stage ids, stage statistics and build sides), with
    * each cached relation's plan under its scan */
  private def asPlanned(p: SparkPlan, indent: String = ""): String = p match {
    case a: AdaptiveSparkPlanExec => asPlanned(a.initialPlan, indent)
    case _ =>
      val cached = Some(p).collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
      (s"$indent${p.simpleString(1000)}\n" +:
        (p.children ++ cached).map(asPlanned(_, indent + "  "))).mkString
  }
}
