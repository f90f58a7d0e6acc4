package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StageMeter
import scala.jdk.CollectionConverters._

/** The mains' shared pieces: the SPARK_GRAFT_EXTRA_CONF parser, Verify's
  * and Plans' failure reports, the stage meter and the session-conf surface.
  */
class EntryPointsSpec extends SparkSpec {

  /** (file name, text) of every .scala file under `dir` */
  private def sources(dir: String): List[(String, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => f.getFileName.toString -> java.nio.file.Files.readString(f)).toList
    finally files.close()
  }

  /** (file name, line number, trimmed text) of every code line of the
    * .scala files under `dir`; comment lines are skipped */
  private def codeLines(dir: String): List[(String, Int, String)] = for {
    (file, text) <- sources(dir)
    (line, n) <- text.linesIterator.zipWithIndex.toList
    code = line.trim
    if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
  } yield (file, n + 1, code)

  /** every match of `literal`'s first group across src/main/scala */
  private def sourceLiterals(literal: scala.util.matching.Regex): Set[String] =
    sources("src/main/scala")
      .flatMap { case (_, text) => literal.findAllMatchIn(text).map(_.group(1)) }.toSet

  test("the engine reads exactly three spark.graft.* confs") {
    // adding a knob is a visible edit here: each key needs a reason
    // no fixed value can serve (README "Entry points")
    assert(sourceLiterals("\"spark\\.graft\\.([A-Za-z0-9.]+)\"".r) ==
      Set("broadcast.maxBytes", "cc.localNnz", "uint64Mode"))
  }

  test("the engine reads exactly eleven SPARK_* env vars") {
    // the same rule for the environment (README "Entry points")
    assert(sourceLiterals("\"(SPARK_[A-Z0-9_]+)".r) == Set("CPUS", "EXTRA_CONF",
      "LOCAL_DIR", "ONLY", "PLAN_DIR", "PLAN_ROOT", "PLAN_TAG", "REPS", "SF_DIR",
      "SHUFFLE_GB", "TABLE_GB").map("SPARK_GRAFT_" + _))
  }

  test("no vertex loop in algo/ caches or unpersists a frame itself") {
    // Iterate.Loop owns every loop's caches (edges, partition, cache,
    // drop; all freed on exit, also when the loop throws); PregelCC's
    // GraphX engine keeps its own RDD caches
    val calls = for {
      (file, n, code) <- codeLines("src/main/scala/graft/algo")
      if file != "Iterate.scala" && file != "PregelCC.scala"
      if code.contains(".cache()") || code.contains("unpersist")
    } yield s"$file:$n: $code"
    assert(calls.isEmpty, calls.mkString("\n"))
  }

  test("no engine code listens on the bus, takes the job group or reads a clock") {
    // a plan decided from a timer changes with core count and host
    // window, and a listener or job group taken inside a library call
    // reaches into the caller's session. The mains and Queries time
    // and meter from outside these directories.
    val banned = Seq("addSparkListener", "setJobGroup", "spark.jobGroup.id",
      "System.nanoTime", "currentTimeMillis")
    val calls = for {
      dir <- List("algo", "core", "ops", "pipeline", "io", "streaming")
      (file, n, code) <- codeLines(s"src/main/scala/graft/$dir")
      if banned.exists(code.contains)
    } yield s"$dir/$file:$n: $code"
    assert(calls.isEmpty, calls.mkString("\n"))
  }

  test("no string literal names a checkout by absolute path") {
    // records (BENCH_SELF.json, PROFILE_<q>.jsonl, plan dumps) resolve
    // against the working directory, so a run writes into the checkout
    // it was started from, never into another one
    val here = java.nio.file.Paths.get("").toAbsolutePath
    val checkouts = sourceLiterals("\"(/[^\"]*)\"".r).filter { lit =>
      val p = java.nio.file.Paths.get(lit)
      p == here || java.nio.file.Files.exists(p.resolve(".git"))
    }
    assert(checkouts.isEmpty, checkouts)
  }

  test("extra-conf parser: pairs, '=' inside a value, and a loud malformed entry") {
    val (confs, err) = stderrOf(GraftSession.parseConf(
      " spark.sql.shuffle.partitions = 8 ;k=v=w;;no-equals-sign;=orphan"))
    assert(confs == Seq("spark.sql.shuffle.partitions" -> "8", "k" -> "v=w"))
    assert(err.contains("ignoring malformed SPARK_GRAFT_EXTRA_CONF entry 'no-equals-sign'"),
      err)
    assert(err.contains("entry '=orphan'"), err)
    assert(!err.contains("entry ''"), err)
  }

  test("Verify.dump keeps dumping past a throwing query and names it") {
    val out = java.nio.file.Files.createTempDirectory("graft-verify").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "q_ok" -> ((s, _) => s.range(3).toDF()),
      "q_bad" -> ((_, _) => sys.error("boom")),
      "q_ok2" -> ((s, _) => s.range(2).toDF()))
    val (failed, err) = stderrOf(Verify.dump(spark, "unused", out, queries))
    assert(failed == Seq("q_bad"))
    assert(err.contains("[verify] q_bad failed: boom"), err)
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    assert(spark.read.parquet(s"$out/q_ok2").count() == 2)
    // Plans.dump: same contract, one plan file per query that planned
    val plans = java.nio.file.Files.createTempDirectory("graft-plans")
    val (planFailed, planErr) = stderrOf(Plans.dump(spark, "unused", plans, "t", queries))
    assert(planFailed == Seq("q_bad"))
    assert(planErr.contains("[plans] q_bad failed: boom"), planErr)
    assert(java.nio.file.Files.exists(plans.resolve("q_ok_t.txt")))
    assert(java.nio.file.Files.exists(plans.resolve("q_ok2_t.txt")))
    assert(!java.nio.file.Files.exists(plans.resolve("q_bad_t.txt")))
  }

  test("stage meter: one read sees the action's jobs, stages, tasks and shuffle") {
    val df = spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()
    val (n, m) = StageMeter.measure(spark.sparkContext)(df.collect().length)
    assert(n == 7)
    assert(m.jobs >= 1)
    assert(m.stages.size >= 2, m.stages)
    assert(m.total(_.tasks) >= 5)
    assert(m.total(_.shuffleWriteBytes) > 0 && m.total(_.shuffleReadBytes) > 0)
    assert(m.stages.forall(s => s.taskMs.size <= s.tasks && s.maxTaskMs >= 0))
    // a second read starts empty
    val meter = new StageMeter(spark.sparkContext)
    try assert(meter.read() == StageMeter.Reading(0, Vector.empty))
    finally meter.close()
  }
}
