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

  test("one co-bucket recipe: one bucket-size window, one a < b self-join") {
    // every bucketed candidate self-join goes through CoBucket.pairs and
    // every bucket cap through its one window, so the hub-star, drop
    // and rejoin policies and the cap rule are written once
    val windows = for {
      (file, n, code) <- codeLines("src/main/scala/graft/pipeline")
      if """count\(.*\)\.over\(""".r.findFirstIn(code).nonEmpty
    } yield s"$file:$n: $code"
    assert(windows.size == 1 && windows.head.contains(".over(Window.partitionBy("),
      windows.mkString("\n"))
    val selfJoins = for {
      (file, n, code) <- codeLines("src/main/scala/graft")
      if code.contains("""col("a") < col("b")""")
    } yield s"$file:$n: $code"
    assert(selfJoins.size == 1 && selfJoins.head.startsWith("CoBucket.scala:"),
      selfJoins.mkString("\n"))
  }

  test("one order–part graph: each scope's builder and CTE text exist once") {
    // every order–part graph row builds from one OrderPart scope
    // (Queries.orderPart on the engine, OrderPart.sql in the oracle),
    // and the part co-occurrence CTE exists once beside its builder
    def count(text: String) = codeLines("src/main/scala").count(_._3.contains(text))
    assert(count("""col("l_partkey") +""") == 1)
    assert(Set(1, 2).contains(count("CAST(l_partkey +")), count("CAST(l_partkey +"))
    assert(count("FROM lineitem WHERE l_orderkey < 2000") == 1)
  }

  test("the cached order–part graph leaves the session's cache as it found it") {
    // the loan form caches the scope's edges for the n agg and the
    // body, and must free them on the failure path too
    val dir = java.nio.file.Files.createTempDirectory("graft-orderpart").toString
    spark.range(0, 40).select(col("id").as("l_orderkey"), (col("id") % 7).as("l_partkey"))
      .write.parquet(s"$dir/lineitem.parquet")
    val scope = Queries.OrderPart(None, 100L)
    val before = cached
    val nnz = Queries.cachedOrderPart(spark, dir, scope)(a => a.df.count())
    assert(nnz == 80)
    assert(cached == before, "the success path left caches behind")
    val e = intercept[Exception](Queries.cachedOrderPart(spark, dir, scope) { a =>
      a.df.count(); sys.error("planted failure") })
    assert(e.getMessage.contains("planted failure"), e.getMessage)
    assert(cached == before, "the failure path left caches behind")
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
      "q_ok2" -> ((s, _) => s.range(2).toDF()),
      // runs an action while it is built, like a checkpointing operator
      "q_act" -> ((s, _) => s.range(s.range(7).filter(col("id") % 3 === 0).count()).toDF()),
      // a catalog name: its oracle SQL is dumped beside its plan
      "q_cc_small" -> ((s, _) => s.range(1).toDF()))
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
    // the plan of the count q_act ran while it was built sits
    // beside its final plan; a query that ran no action gets no file
    val acts = java.nio.file.Files.readString(plans.resolve("q_act.actions_t.txt"))
    assert(acts.contains("Range (") && acts.contains("Filter ("), acts)
    assert(acts.contains("% 3) = 0)"), acts)
    assert(!java.nio.file.Files.exists(plans.resolve("q_ok.actions_t.txt")))
    assert(java.nio.file.Files.readString(plans.resolve("q_cc_small.oracle_t.txt")) ==
      SparkEntry.oracleSql("q_cc_small"))
    assert(!java.nio.file.Files.exists(plans.resolve("q_ok.oracle_t.txt")))
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
