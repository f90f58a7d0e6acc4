package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.perfbench.{Counters, Span, Tracer}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The benchmark's JVM side: one session, one closed-loop caller.
  *
  *   Main --dump-ops <file>
  *       write every workload's op list with its oracle SQL as JSON
  *   Main --workload W --data D --work K --expect E --out O
  *        --seconds S --cores N --trace 0|1 [--spans F]
  *       set up, run [[WarmupPasses]] untimed warm-up passes, then
  *       the workload's fixed number of timed passes over its op list
  *       ([[Workloads.timedPasses]]; more only while S seconds have not
  *       passed), fold and check every op's output against E, and write
  *       the run's record to O
  *
  * With --trace 1, plain passes and passes with the listeners attached
  * run in ABBA order; the difference of their medians is the tracing
  * overhead.
  */
object Main {

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    arg(args, "--dump-ops") match {
      case Some(path) => dumpOps(path)
      case None => run(args)
    }
  }

  private def dumpOps(path: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val body = Workloads.all.toSeq.sortBy(_._1).map { case (w, ops) =>
      Json.str(w) + ": " + ops.map { op =>
        Json.obj(Seq("name" -> Json.str(op.name), "oracle" -> Json.str(op.oracle),
          "sql" -> Json.str(oracle.getOrElse(op.oracle,
            sys.error(s"${op.name}: no oracle SQL for ${op.oracle}")))))
      }.mkString("[", ",\n", "]")
    }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(path), body)
  }

  /** Untimed passes before the timed ones, all counted in set-up. The
    * JIT still speeds up the second pass over the op list by a fifth or
    * more; from the third on, passes differ by noise.
    */
  val WarmupPasses = 2

  final case class Expect(print: Fold.Print, products: Double, edges: Double)

  /** What one pass left behind: its wall time (untimed bookkeeping
    * excluded), the recorder's timers and counters, each op's fold and
    * seconds, JVM deltas, and with tracing the Spark-side window.
    */
  final case class PassRec(wallS: Double, values: Map[String, Double],
      timers: Set[String], calls: Seq[(Long, String, String)], prints: Map[String, Fold.Print],
      opS: Map[String, Double], gcS: Double, jitS: Double, window: Option[Counters],
      t0Ms: Long, t1Ms: Long)

  /** Self-check pins: the timed action of these ops must execute at
    * least this many nodes of the kind, and every one the result's own
    * plan has. A bare count() prunes them (ROADMAP open item 1).
    */
  val pins: Map[String, (String, Int)] = Map(
    "p_sessionize" -> ("Window", 1), "q_clustering" -> ("Join", 2))

  private def nodes(p: LogicalPlan, kind: String): Int = p.collect {
    case _: Window if kind == "Window" => 1
    case _: Join if kind == "Join" => 1
  }.size

  private def readExpect(path: String): Map[String, Expect] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      f(0) -> Expect(Fold.Print(f(4).split(",", -1).toSeq, f(1).toLong, f(2).toLong,
        f(3).toLong, 0L), f(5).toDouble, f(6).toDouble)
    }.toMap

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    def at(q: Double) = {
      val p = q * (s.size - 1); val lo = p.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (p - lo)
    }
    if (s.isEmpty) (0.0, 0.0) else (at(0.25), at(0.75))
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  private def cpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** copy-bandwidth probe: 1 GiB of in-heap arraycopy, MB/s */
  private def bwProbe(): Double = {
    val sz = 64 * 1024 * 1024
    val src = new Array[Byte](sz); val dst = new Array[Byte](sz)
    val t0 = System.nanoTime()
    for (_ <- 0 until 16) System.arraycopy(src, 0, dst, 0, sz)
    16.0 * sz / ((System.nanoTime() - t0) / 1e9) / 1e6
  }

  /** cumulative CPU-pressure stall seconds ("some" line), 0 without PSI */
  private def psiCpuS: Double = scala.util.Try {
    val l = Files.readAllLines(Paths.get("/proc/pressure/cpu")).asScala.find(_.startsWith("some")).get
    "total=(\\d+)".r.findFirstMatchIn(l).get.group(1).toDouble / 1e6
  }.getOrElse(0.0)

  /** Heap in use after full GCs, once Spark has released what they
    * freed: blocks of collected RDDs and broadcasts stay in the block
    * manager until its cleaner thread sees the GC, so collect, let the
    * cleaner run, and collect again until the figure settles.
    */
  private def liveHeapMb(): Double = {
    def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used
    var now = prev
    var rounds = 0
    while ({ Thread.sleep(200); now = used; rounds += 1; now < prev * 0.99 && rounds < 5 })
      prev = now
    now / 1048576.0
  }

  /** cumulative steal seconds of all CPUs (/proc/stat, 100 ticks a
    * second): time the hypervisor gave this machine's CPUs to others
    */
  private def stealS: Double = scala.util.Try {
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100
  }.getOrElse(0.0)

  private def fsType(p: String): String =
    scala.util.Try(Files.getFileStore(Paths.get(p)).`type`()).getOrElse("unknown")

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  private def run(args: Array[String]): Unit = {
    def need(k: String) = arg(args, k).getOrElse(sys.error(s"missing $k"))
    val workload = need("--workload")
    val data = need("--data")
    val work = need("--work")
    val seconds = need("--seconds").toDouble
    val cores = need("--cores").toInt
    val trace = need("--trace") == "1"
    val ops = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val expect = readExpect(need("--expect"))
    val planted: Set[Long] = {
      val p = Paths.get(data, "planted_pairs.txt")
      if (!Files.exists(p)) Set.empty
      else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
        val Array(a, b) = l.split(" "); (a.toLong << 32) | b.toLong
      }.toSet
    }
    val bwBefore = bwProbe()
    val psi0 = psiCpuS
    val steal0 = stealS

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // bounded status-store history: the live heap of a long-lived
      // session plateaus instead of growing with every pass
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.nanoTime() - tSession) / 1e9

    val rec = new Recorder(sc)
    val ctx = new Ctx(spark, data, work, rec)
    // load the inputs and build the persisted state into a fresh, empty
    // table root, cold: the first load's class loading and code
    // generation are part of set-up
    val root = new java.io.File(work, "tables")
    deleteTree(root); root.mkdirs()
    ctx.root = root.getPath
    val tPrep = System.nanoTime()
    Workloads.prepare(workload, ctx)
    val prepS = (System.nanoTime() - tPrep) / 1e9

    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var passNo = 0
    var heapPeakMb = 0.0
    val selfCheck = mutable.LinkedHashMap.empty[String, String]
    var selfCheckOk = true

    def runPass(counted: Boolean): PassRec = {
      rec.beginPass()
      passNo += 1
      ctx.pass = passNo
      val prints = mutable.HashMap.empty[String, Fold.Print]
      val opS = mutable.HashMap.empty[String, Double]
      val gc0 = gcMs; val jit0 = jitMs
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      rec.span("pass", s"pass $passNo") {
        ops.foreach { op =>
          if (counted) attempted += 1
          rec.op = op.name
          val tOp = System.nanoTime()
          val err: Option[String] =
            try {
              val probe = if (op.probe) planted else Set.empty[Long]
              val p = rec.span("op", op.name) {
                rec.time(op.metric) {
                  val df = op.run(ctx)
                  pins.get(op.name).filter(_ => !counted) match {
                    case None => Fold(df, probe)
                    case Some((kind, min)) =>
                      val inPlan = nodes(df.queryExecution.optimizedPlan, kind)
                      val underCount = nodes(df.groupBy().count().queryExecution.optimizedPlan, kind)
                      var inFold = 0
                      val out = Fold(df, probe, plan => inFold = nodes(plan, kind))
                      val ok = inFold >= min && inFold >= inPlan
                      selfCheckOk &&= ok
                      selfCheck(op.name) = Json.obj(Seq("kind" -> Json.str(kind),
                        "in_timed_action" -> inFold.toString, "in_result_plan" -> inPlan.toString,
                        "under_count" -> underCount.toString, "ok" -> ok.toString))
                      out
                  }
                }
              }
              prints(op.name) = p
              expect.get(op.name) match {
                case None => Some("no expectation")
                case Some(e) if !p.same(e.print) =>
                  Some(s"got cols=${p.cols.mkString(",")} rows=${p.rows} " +
                    s"want cols=${e.print.cols.mkString(",")} rows=${e.print.rows} " +
                    s"(hash ${if (p.h1 == e.print.h1 && p.h2 == e.print.h2) "same" else "differs"})")
                case _ => None
              }
            } catch {
              case e: Throwable => Some(s"threw ${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200))
            }
          opS(op.name) = (System.nanoTime() - tOp) / 1e9
          System.err.println(f"perfbench: pass $passNo ${op.name} ${opS(op.name)}%.3f s " +
            err.map("FAILED " + _).getOrElse("ok"))
          err.foreach { m =>
            if (counted) { failed += 1; failures += s"pass $passNo ${op.name}: $m" }
            else failures += s"warm-up ${op.name}: $m"
          }
          spark.catalog.clearCache()
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9 - rec.untimedS
      val t1Ms = System.currentTimeMillis()
      val window = rec.tracer.map(_.rollWindow())
      val out = PassRec(wall, rec.values.toMap, rec.timers.toSet, rec.calls.toSeq,
        prints.toMap, opS.toMap, (gcMs - gc0) / 1e3, (jitMs - jit0) / 1e3, window, t0Ms, t1Ms)
      // outside the pass: drop this pass's tables
      val mine = s"_p$passNo"
      spark.catalog.listTables().collect().filter(_.name.endsWith(mine))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t.name}"))
      Option(new java.io.File(ctx.root).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(mine)).foreach(deleteTree)
      out
    }

    val tWarm = System.nanoTime()
    for (_ <- 0 until WarmupPasses) runPass(counted = false)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    // live heap after the warm-up passes and after the last timed pass: a
    // long-lived session's heap plateaus after the first pass, and each
    // sample costs two or more full GCs
    heapPeakMb = liveHeapMb()
    val setupS = sessionS + prepS + warmS

    val plain = mutable.ArrayBuffer.empty[PassRec]
    val traced = mutable.ArrayBuffer.empty[PassRec]
    val cpu0 = cpuS
    val tRun = System.nanoTime()
    val tRunMs = System.currentTimeMillis().toDouble
    def elapsed = (System.nanoTime() - tRun) / 1e9
    val tracer = if (trace) Some(new Tracer(sc)) else None
    // traced mode runs plain and traced passes in ABBA order (P T T P
    // P T T P ...), which gives both kinds the same share of early
    // passes, so the difference of their medians is the overhead
    val passes = Workloads.timedPasses(workload)
    while (plain.size < passes || (trace && traced.size < passes) ||
        elapsed < seconds) {
      val k = plain.size + traced.size
      tracer.filter(_ => k % 4 == 1 || k % 4 == 2) match {
        case None => plain += runPass(true)
        case Some(t) =>
          t.currentSpan = Recorder.RunSpan
          sc.addSparkListener(t)
          spark.listenerManager.register(t)
          rec.tracer = tracer
          traced += runPass(true)
          t.drain()
          rec.tracer = None
          spark.listenerManager.unregister(t)
          sc.removeSparkListener(t)
      }
    }
    val runWall = elapsed
    heapPeakMb = math.max(heapPeakMb, liveHeapMb())
    val cpuPerWall = (cpuS - cpu0) / runWall
    val bwAfter = bwProbe()
    val psiS = psiCpuS - psi0
    val stealRunS = stealS - steal0

    val plainS = plain.map(_.wallS).toSeq
    val (q1, q3) = quartiles(plainS)

    val layers: Map[String, Double] = if (!trace) Map.empty else {
      val perPass = traced.toSeq.map(p =>
        layerMetrics(p, tracer.get, ops, expect, planted.size, cores))
      val keys = perPass.flatMap(_.keys).distinct
      keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap ++ Map(
        "trace.overhead_s" -> (median(traced.map(_.wallS).toSeq) - median(plainS)),
        "host.bw_mbs" -> (bwBefore + bwAfter) / 2,
        "host.psi_cpu_s" -> psiS,
        "host.steal_s" -> stealRunS)
    }

    tracer.foreach { t =>
      t.record(Span(Recorder.RunSpan, 0L, "run", workload, tRunMs, System.currentTimeMillis()
        .toDouble, Map("passes" -> (plain.size + traced.size).toDouble)))
      arg(args, "--spans").foreach { path =>
        val lines = t.synchronized(t.spans.toList).map { s =>
          Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
            "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
            "t0_ms" -> Json.num(s.t0), "t1_ms" -> Json.num(s.t1)) ++
            s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })
        }
        Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
      }
    }

    val localDir = s"$work/spark-local"
    val out = Json.obj(Seq(
      "setup_s" -> Json.num(setupS),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "prepare_s" -> Json.num(prepS),
        "warmup_s" -> Json.num(warmS))),
      "pass_s" -> Json.num(median(plainS)),
      "pass_q1_s" -> Json.num(q1), "pass_q3_s" -> Json.num(q3),
      "passes" -> plainS.map(Json.num).mkString("[", ",", "]"),
      "op_s" -> Json.obj(ops.map(o => o.name -> Json.num(median(plain.toSeq.map(_.opS
        .getOrElse(o.name, 0.0)))))),
      "traced_passes" -> traced.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "self_check" -> Json.obj(selfCheck.toSeq), "self_check_ok" -> selfCheckOk.toString,
      "failures" -> failures.take(50).map(Json.str).mkString("[", ",", "]"),
      "live_heap_peak_mb" -> Json.num(heapPeakMb),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "window" -> Json.obj(Seq(
        "bw_before_mbs" -> Json.num(bwBefore), "bw_after_mbs" -> Json.num(bwAfter),
        "psi_cpu_s" -> Json.num(psiS), "steal_s" -> Json.num(stealRunS),
        "cpu_s" -> Json.num(cpuPerWall * runWall),
        "wall_s" -> Json.num(runWall), "cpu_per_wall" -> Json.num(cpuPerWall),
        "cores" -> cores.toString)),
      "placement" -> Json.obj(Seq(
        "spark_local_dir" -> Json.str(localDir), "spark_local_fs" -> Json.str(fsType(localDir)),
        "table_root" -> Json.str(ctx.root), "table_fs" -> Json.str(fsType(ctx.root)),
        "library_default_table_root" -> Json.str(graft.io.BucketedCoo.defaultRoot),
        "library_default_table_fs" -> Json.str(fsType(
          new java.io.File(graft.io.BucketedCoo.defaultRoot).getParent))))))
    Files.writeString(Paths.get(need("--out")), out)
    spark.stop()
  }

  /** the per-layer metrics of one traced pass */
  private def layerMetrics(p: PassRec, t: Tracer, ops: Seq[Op],
      expect: Map[String, Expect], planted: Int, cores: Int): Map[String, Double] = {
    import p._
    val w = window.get
    val m = mutable.LinkedHashMap.empty[String, Double]
    def v(k: String) = values.getOrElse(k, 0.0)
    def div(a: Double, b: Double) = if (b > 0) a / b else 0.0
    def spanSum(keep: ((Long, String, String)) => Boolean)(f: Counters => Double): Double =
      t.synchronized(calls.filter(keep).flatMap(c => t.perSpan.get(c._1)).map(f).sum)
    timers.foreach(k => m(k) = v(k))
    // core: multiply-adds counted from the inputs by the oracle side
    val mxmOps = ops.filter(_.metric == "core.mxm_s")
    val products = mxmOps.map(o => expect.get(o.name).map(_.products).getOrElse(0.0)).sum
    m("core.mxm.products") = products
    m("core.mxm.products_per_s") = div(products, v("core.mxm_s"))
    m("core.mxm.shuffle_mb") = spanSum(_._2 == "core.mxm_s")(_.shuffleReadB / 1e6)
    // algo: fixed-round loops carry their round count
    val roundOps = ops.filter(_.rounds > 0)
    val rounds = roundOps.map(_.rounds).sum.toDouble
    val roundNames = roundOps.map(_.name).toSet
    val roundTime = roundOps.map(o => opS.getOrElse(o.name, 0.0)).sum
    val roundJobs = spanSum(c => roundNames(c._3))(_.jobs.toDouble)
    m("algo.rounds") = rounds
    m("algo.round_s") = div(roundTime, rounds)
    m("algo.jobs_per_round") = div(roundJobs, rounds)
    m("algo.edges_per_s") = div(roundOps.map(o =>
      expect.get(o.name).map(_.edges).getOrElse(0.0) * o.rounds).sum, roundTime)
    // pipeline: candidate pairs from the band self-join's SQL metrics
    m("pipeline.candidate_pairs") = w.bandJoinRows.toDouble
    val verified = ops.filter(_.probe).flatMap(o => prints.get(o.name)).map(_.rows).sum
    m("pipeline.pair_yield") = div(verified, w.bandJoinRows.toDouble)
    m("pipeline.recall") = div(ops.filter(_.probe).flatMap(o => prints.get(o.name))
      .map(_.probeHits).sum, planted)
    // io
    m("io.bytes_written_mb") = v("io.bytes_written") / 1e6
    m("io.write_amp") = div(v("io.bytes_written"), v("io.append_bytes"))
    // streaming
    m("streaming.commit_s") = v("streaming.commit_s")
    m("streaming.rows_per_s") = div(v("streaming.rows"), v("streaming.batch_s"))
    // Spark engine
    m("spark.jobs") = w.jobs; m("spark.stages") = w.stages; m("spark.tasks") = w.tasks
    m("spark.shuffle_read_mb") = w.shuffleReadB / 1e6
    m("spark.shuffle_write_mb") = w.shuffleWriteB / 1e6
    m("spark.spill_mb") = w.spillB / 1e6
    m("spark.executor_cpu_s") = w.cpuNs / 1e9
    m("spark.core_busy_ratio") = div(w.runMs / 1e3, wallS * cores)
    m("spark.task_skew") = w.stageTasks.values.maxByOption(_.sum).map { d =>
      div(d.max.toDouble, median(d.map(_.toDouble).toSeq))
    }.getOrElse(0.0)
    // driver
    m("driver.plan_s") = w.planNs / 1e9
    val busy = w.jobIntervals.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, end), (a, b)) =>
        if (a >= end) (acc + (b - a), b)
        else if (b > end) (acc + (b - end), b) else (acc, end)
      }._1
    m("driver.no_job_s") = math.max(0.0, wallS - busy / 1e3)
    // JVM
    m("jvm.gc_s") = gcS; m("jvm.jit_s") = jitS
    // self time per layer
    Seq("core", "algo", "pipeline", "io", "streaming").foreach { l =>
      m(s"self.${l}_s") = timers.filter(_.startsWith(l + ".")).toSeq.map(v).sum
    }
    m.toMap
  }
}

/** just enough JSON writing for the run record */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
