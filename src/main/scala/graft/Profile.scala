package graft

import org.apache.spark.sql.graft.StageMeter

import java.nio.file.{Files, Paths}

/** Per-stage listener profile of one catalog query — the diagnostic
  * harness behind PERF_NOTES' stage-attribution studies (the CC-engine
  * decomposition in §16g was hand-rolled; round-13 judging asked for
  * the same treatment on p_ann_lsh's unexplained 4.5× spread and
  * q_coloring's low-parallelism rep 1, so the harness is now a
  * committed main).
  *
  * Runs `SPARK_GRAFT_ONLY` (one query name) in a fresh context exactly
  * the way Bench does (same [[GraftSession]], same untimed warm-up +
  * prepare), with the [[StageMeter]] recording per-stage wall, executor
  * CPU, task count, shuffle bytes, and GC — then prints a stage table
  * sorted by wall and writes one JSON line per stage to
  * PROFILE_<query>.jsonl in the working directory so an inflated and a healthy run can be
  * diffed stage-by-stage.
  *
  * Wall-clock attribution uses stage submission→completion spans;
  * overlapping stages (parallel job groups) are printed as-is — the
  * reader sums CPU, not wall, across overlaps. `SPARK_GRAFT_REPS`
  * repeats the timed region in the SAME context (default 2: rep 1
  * carries the fresh-context JIT settle, rep 2 is the warm shape —
  * the §16f discriminator).
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = sys.env.get("SPARK_GRAFT_ONLY").map(_.trim)
      .filter(SparkEntry.queries.contains)
      .getOrElse(sys.error("SPARK_GRAFT_ONLY must name one catalog query"))
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption)
      .map(math.max(1, _)).getOrElse(2)
    val spark = GraftSession()
    Bench.prepare(spark, sfDir, name)._1.foreach(e => sys.error(s"$name: $e"))
    val fn = SparkEntry.queries(name)
    // JIT discriminator: per-rep delta of the JVM's cumulative JIT
    // compilation time. A rep whose wall inflates alongside a large
    // compilation delta spent its time interpreting/compiling the
    // stage's generated classes (the §16f settle); a healthy-JIT
    // inflated rep points elsewhere (GC, window, plan).
    def jitMs: Long = Option(
      java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val measured = (1 to reps).map { rep =>
      val j0 = jitMs
      val (w, m) = StageMeter.measure(spark.sparkContext) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"profile rep $rep: wall $w%.2f s, jit ${(jitMs - j0) / 1e3}%.2f s")
      (w, m.stages.map(rep -> _))
    }
    val walls = measured.map(_._1)
    val rows = measured.flatMap(_._2)
    println(f"\n== $name: reps ${walls.map(w => f"$w%.2f").mkString(" / ")} s ==")
    println(f"${"rep"}%3s ${"stage"}%6s ${"wall_s"}%8s ${"cpu_s"}%8s ${"gc_s"}%6s " +
      f"${"tasks"}%6s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s  name")
    def mb(bytes: Long): Double = bytes / 1e6
    def label(st: StageMeter.Stage): String = st.name.take(120)
    rows.sortBy(-_._2.wallMs).take(40).foreach { case (rep, st) =>
      println(f"$rep%3d ${st.id}%6d ${st.wallMs / 1e3}%8.2f ${st.cpuMs / 1e3}%8.2f " +
        f"${st.gcMs / 1e3}%6.2f ${st.tasks}%6d ${mb(st.shuffleReadBytes)}%8.1f " +
        f"${mb(st.shuffleWriteBytes)}%8.1f ${mb(st.inputBytes)}%8.1f  ${label(st)}")
    }
    val perRep = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (rep, rs) =>
      val sts = rs.map(_._2)
      f"rep $rep: ${sts.size} stages, stage-wall sum ${sts.map(_.wallMs).sum / 1e3}%.2f s, " +
        f"cpu sum ${sts.map(_.cpuMs).sum / 1e3}%.2f s"
    }
    perRep.foreach(println)
    val out = Paths.get(s"PROFILE_$name.jsonl")
    val json = rows.map { case (rep, st) =>
      s"""{"rep":$rep,"stage":${st.id},"wall_ms":${st.wallMs},""" +
        s""""cpu_ms":${st.cpuMs},"gc_ms":${st.gcMs},"tasks":${st.tasks},""" +
        s""""shuffle_read_mb":${f"${mb(st.shuffleReadBytes)}%.1f"},""" +
        s""""shuffle_write_mb":${f"${mb(st.shuffleWriteBytes)}%.1f"},""" +
        s""""input_mb":${f"${mb(st.inputBytes)}%.1f"},"name":"${label(st).replace("\"", "'")}"}"""
    }.mkString("", "\n", "\n")
    Files.writeString(out, json)
    println(s"wrote ${rows.size} stage rows to $out")
    spark.stop()
  }
}
