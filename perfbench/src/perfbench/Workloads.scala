package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerQuiesce
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.LongType

import graft.SparkEntry
import graft.core.{GrbMatrix, Ops}
import graft.io.BucketedCoo
import graft.streaming.DocsStream

/** What an op may touch: the session, the generated tables, this run's
  * fresh table root, and the timer.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val rec: Recorder) {
  /** root for persisted tables: fresh and empty at the start of the run */
  var root: String = _
  var pass = 0
  /** dimensions and bucketed right operand of the ingest read */
  var mxmDims: (Long, Long) = (0L, 0L)
  var bucketedB: GrbMatrix = _
  /** progress of the stream ops' queries */
  val streams = new StreamProgress
  spark.streams.addListener(streams)

  def pq(t: String): DataFrame = spark.read.parquet(s"$data/$t.parquet")
  def time[T](metric: String)(body: => T): T = rec.time(metric)(body)
}

/** Sums the commit time and input rows of every finished micro-batch
  * (`StreamingQueryProgress`); the listener runs on the listener bus.
  */
final class StreamProgress extends StreamingQueryListener {
  private var commitS = 0.0
  private var rows = 0.0
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    commitS += (ms("walCommit") + ms("commitOffsets")) / 1000.0
    rows += e.progress.numInputRows
  }
  /** (commit seconds, input rows) since the last call */
  def take(): (Double, Double) = synchronized {
    val out = (commitS, rows); commitS = 0.0; rows = 0.0; out
  }
}

/** One timed op: its result is folded and compared with the oracle SQL
  * for `oracle`, a catalog key (SparkEntry.oracleSql).
  * `metric` is the per-layer timer its time goes to; `rounds` is the
  * round argument of a fixed-round loop (0 when it runs to convergence).
  */
final case class Op(name: String, metric: String, oracle: String, run: Ctx => DataFrame,
    rounds: Int = 0, probe: Boolean = false)

object Workloads {

  private def catalog(name: String, metric: String, rounds: Int = 0,
      probe: Boolean = false): Op =
    Op(name, metric, name, c => SparkEntry.queries(name)(c.spark, c.data), rounds, probe)

  val graphIter: Seq[Op] = Seq(
    catalog("q_lpa", "algo.lpa_s", rounds = 7),
    catalog("q_cc_small", "algo.cc_s"))

  /** rows of every 8th order form the ingest batch; the rest is the
    * persisted base (disjoint (i, j) keys, so base ++ batch = lineitem)
    */
  private def isBatch = col("l_orderkey") % 8 === 0

  private def liCoo(li: DataFrame): DataFrame =
    GrbMatrix.fromDF(li.select(col("l_orderkey").as("i"), col("l_partkey").as("j"),
      col("l_quantity").cast(LongType).as("v")), dupAgg = Some(c => sum(c))).df

  /** The catalog's stream drain (`Queries.drainToMemory`, private to
    * the catalog) with its default state-width estimate. The stream
    * rows call it on a source staged under a fixed /tmp path; the
    * benchmark stages its source in the run dir and calls the same
    * drain, so a change to the drain shows in `streaming.*` and
    * `pass_s`.
    */
  private lazy val catalogDrain: (SparkSession, DataFrame, String, String) => DataFrame = {
    val q = graft.Queries
    def method(name: String) = q.getClass.getDeclaredMethods
      .find(m => m.getName == name || m.getName.endsWith("$$" + name))
      .getOrElse(sys.error(s"graft.Queries has no $name"))
    val drain = method("drainToMemory")
    val estimate = method("drainToMemory$default$5")
    Seq(drain, estimate).foreach(_.setAccessible(true))
    (s, df, mode, prefix) =>
      drain.invoke(q, s, df, mode, prefix, estimate.invoke(q)).asInstanceOf[DataFrame]
  }

  /** drain a streaming frame with the catalog's drain, then add the
    * commit time and input rows its micro-batches reported
    */
  private def drain(c: Ctx, df: DataFrame, mode: String, prefix: String): DataFrame = {
    val out = catalogDrain(c.spark, df, mode, prefix)
    c.rec.untimed {
      ListenerQuiesce.waitUntilEmpty(c.spark.sparkContext)
      val (commitS, rows) = c.streams.take()
      c.rec.add("streaming.commit_s", commitS)
      c.rec.add("streaming.rows", rows)
    }
    out
  }

  /** tables written by a pass end in `_p<pass>`; the driver drops them after it */
  private def tableName(c: Ctx, t: String) = s"pb_${t}_p${c.pass}"

  private def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
    else f.length()

  /** run a table write under `metric` and count the bytes it left in
    * the table dir: all of them for a full (re)write, the growth for an
    * append (also counted as newly ingested bytes)
    */
  private def write(c: Ctx, metric: String, name: String, append: Boolean = false)(
      step: => DataFrame): DataFrame = {
    val dir = new java.io.File(c.root, name)
    val before = c.rec.untimed(bytes(dir))
    val out = c.time(metric)(step)
    c.rec.untimed {
      val grown = bytes(dir) - (if (append) before else 0L)
      c.rec.add("io.bytes_written", grown.toDouble)
      if (append) c.rec.add("io.append_bytes", grown.toDouble)
    }
    out
  }

  private val ingest: Seq[Op] = Seq(
    // write side then read side of one bucketed COO cycle: persist the
    // base, append the batch, compact, then contract against the
    // bucketed right operand built at setup (same result as q_mxm)
    Op("io_coo_cycle", "io.bucketed_read_s", "q_mxm", c => {
      val li = c.pq("lineitem")
      val name = tableName(c, "coo")
      write(c, "io.saveload_s", name) {
        BucketedCoo.saveLoad(c.spark, liCoo(li.filter(!isBatch)), name, "j", 8, c.root)
      }
      write(c, "io.append_s", name, append = true) {
        BucketedCoo.append(c.spark, liCoo(li.filter(isBatch)), name, c.root)
      }
      val compacted = write(c, "io.compact_s", name)(BucketedCoo.compact(c.spark, name, c.root))
      GrbMatrix.fromDF(compacted, c.mxmDims._1, c.mxmDims._2)
        .mxm(c.bucketedB, Ops.plusTimes).df
    }),
    Op("p_stream_dedup", "streaming.batch_s", "p_stream_dedup", c =>
      drain(c, DocsStream.exactDedup(
        DocsStream.readDocsStream(c.spark, s"${c.work}/stream/documents")), "complete",
        "graft_stream_dedup")))

  /** Every layer without loops: core kernels (mxm, masked mxm, masked
    * and accumulated assign), the ingest write-then-read cycle and a
    * stream dedup, then the pipeline's minhash dedup and sessionize
    * window.
    */
  val oneshot: Seq[Op] = Seq(
    catalog("q_mxm", "core.mxm_s"),
    catalog("q_clustering", "core.mxm_s"),
    catalog("q_assign_merge", "core.assign_s")) ++ ingest ++ Seq(
    catalog("p_dedup_minhash", "pipeline.minhash_s", probe = true),
    catalog("p_sessionize", "pipeline.temporal_s"))

  /** the tables each workload's ops read */
  val tables: Map[String, Seq[String]] = Map(
    "oneshot" -> Seq("customer", "documents", "events", "lineitem", "orders"),
    "graph_iter" -> Seq("lineitem"))

  val all: Map[String, Seq[Op]] = Map(
    "oneshot" -> oneshot, "graph_iter" -> graphIter)

  /** Timed passes per run (per kind in a traced run): a fixed count, so
    * that a faster pass does not change how many samples the median is
    * taken over. A `oneshot` pass costs what two and a half
    * `graph_iter` passes do, and a full check has room for two of them.
    */
  val timedPasses: Map[String, Int] = Map("oneshot" -> 2, "graph_iter" -> 3)

  /** Load inputs and build the run's persisted state into `c.root`:
    * read every table once; for oneshot, persist the bucketed right
    * operand of the ingest read and stage the stream source directory.
    */
  def prepare(workload: String, c: Ctx): Unit = {
    tables(workload).foreach(t => c.pq(t).count())
    if (workload == "oneshot") {
      val li = c.pq("lineitem")
      val a = GrbMatrix.fromDF(liCoo(li))
      c.mxmDims = (a.nrows, a.ncols)
      val b = GrbMatrix.fromDF(li.select(col("l_partkey").as("i"), col("l_suppkey").as("j"),
        col("l_quantity").cast(LongType).as("v")), nrows = a.ncols, dupAgg = Some(x => sum(x)))
      c.bucketedB = GrbMatrix.fromDF(
        BucketedCoo.saveLoad(c.spark, b.df, "pb_mxm_b", "i", 8, c.root), b.nrows, b.ncols)
      val d = java.nio.file.Paths.get(c.work, "stream", "documents")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.copy(java.nio.file.Paths.get(c.data, "documents.parquet"),
        d.resolve("documents.parquet"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
