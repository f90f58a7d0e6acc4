package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c — local targeted runs (the driver never
    // sets it, so driver runs always dump the full catalog)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Write each query's result to `<outDir>/<name>` as parquet; returns
    * the names of the queries that threw (see [[eachQuery]]).
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame]): Seq[String] =
    eachQuery(spark, "verify", queries) { (name, fn) =>
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }

  /** Run `body` for each query in name order. A query that throws is
    * reported on stderr as `[<tag>] <name> failed: <message>` and the
    * loop goes on; returns the names of the queries that threw, sorted.
    * Fatal errors propagate.
    */
  private[graft] def eachQuery(spark: SparkSession, tag: String,
      queries: Map[String, (SparkSession, String) => DataFrame])(
      body: (String, (SparkSession, String) => DataFrame) => Unit): Seq[String] =
    queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val failed =
        try { body(name, fn); None }
        catch { case NonFatal(e) =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          Some(name)
        }
      // operators cache() shared intermediates; don't let 40 queries'
      // caches accumulate in one session
      spark.catalog.clearCache()
      failed
    }
}
