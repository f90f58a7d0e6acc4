package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan dumper for the optimization rounds' evidence files: builds each
  * selected catalog query Bench-identically (same [[GraftSession]], same
  * untimed warm-up and prepare) and writes its `.explain("formatted")`
  * output to `plans/<SPARK_GRAFT_PLAN_DIR>/<query>_<SPARK_GRAFT_PLAN_TAG>.txt`.
  *
  * `SPARK_GRAFT_ONLY=a,b,c` selects queries; `SPARK_GRAFT_EXTRA_CONF`
  * (the session's controlled-A/B hook) overlays session confs, so a
  * before/after pair for a conf-gated plan change is two invocations
  * with the flag flipped — no code checkout needed. Loop queries whose
  * returned frame reads checkpointed RDDs show the final gather plan;
  * their per-round shapes are pinned by PlanAuditSpec/FastSVSpec
  * assertions instead (exchange counts on the round frames).
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

  /** Write each query's formatted plan to `<outDir>/<name>_<tag>.txt`;
    * returns the names of the queries that threw or whose prepare
    * failed, sorted (see [[Verify.eachQuery]]).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: Path, tag: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] =
    Verify.eachQuery(spark, "plans", queries) { (name, fn) =>
      val (prepErr, _) = Bench.prepare(spark, sfDir, name)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"), plan)
      println(s"[plans] $name -> ${name}_$tag.txt")
      // a failed prepare may leave the plan wrong-shape: it is written,
      // and the query counts as failed
      prepErr.foreach(e => throw new IllegalStateException(e))
    }
}
