package graft

import org.apache.spark.sql.SparkSession

/** The one session conf stack. Every entry point (Bench, Verify, Plans,
  * Profile, the test session) builds its session here, so
  * the GraphBLAS semantics — wrap-around arithmetic, UTC, the graft SQL
  * functions — hold the same way wherever the engine runs.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` local threads; default: this machine's cores */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The mains' session: `SPARK_GRAFT_CPUS` threads at a shuffle width
    * of 4× cores.
    *
    * 4× cores, not 1×: measured on the A·A square (the suite's heaviest
    * agg, ~640M product rows at sf0.1), 32 partitions put ~20M rows in
    * each task's aggregation hash — heap pressure, spill, GC churn: 42 s
    * and degrading across reps; 128 partitions keep per-task state
    * comfortably in heap: 11 s, stable (PERF_NOTES §5). AQE's
    * coalescePartitions (on by default) merges small stages back down,
    * so light queries pay nothing for the higher initial number —
    * exactly the sizing rule a 100 TB cluster run needs (partition count
    * follows per-task STATE, not core count).
    */
  def apply(extras: (String, String)*): SparkSession = {
    val n = cpus
    build(n, 4 * n, extras)
  }

  /** `local[cpus]` at `width` shuffle partitions. `extras` lay over the
    * defaults, and `SPARK_GRAFT_EXTRA_CONF` lays over both, so an A/B
    * override always wins.
    */
  def build(cpus: Int, width: Int,
      extras: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", width.toString)
      .config("spark.local.dir", LocalDirs.sparkLocalDir)
      .config("spark.ui.enabled", "false")
      // C/numpy-style wrap-around + null semantics (GraphBLAS reference
      // behavior); ANSI mode would throw on narrowing-cast overflow
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // TopKPairs (ANN top-k selection) is a TypedImperativeAggregate:
      // ObjectHashAggregate's default sort-based fallback fires at 128
      // groups per partition, silently re-sorting the scored slice. Its
      // buffers are tiny (<=k 17-byte entries), so a high threshold
      // keeps the hash path: 1M groups x ~50 B/group ~ 50 MB/partition
      // worst case. Cluster deployments should carry this conf too.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      // graft SQL functions resolve in spark.sql(...) everywhere
      .config("spark.sql.extensions", "graft.GraftExtensions")
    val spark = (extras ++ extraConf)
      .foldLeft(base)((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** controlled-A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" lays
    * arbitrary session confs over every session built here, so a conf
    * A/B (codegen, broadcast thresholds, AQE flags, shuffle width) needs
    * no code change. Never set in a recorded draw.
    */
  private def extraConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap(parseConf)

  /** `k=v;k2=v2` → pairs; the value keeps any further `=`. An entry
    * without `=` or with an empty key warns on stderr (like
    * `Grb.longConf`) and is skipped; empty entries are skipped quietly.
    */
  private[graft] def parseConf(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).flatMap { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ =>
          System.err.println(s"graft: ignoring malformed SPARK_GRAFT_EXTRA_CONF " +
            s"entry '$entry' (want key=value)")
          None
      }
    }
}
