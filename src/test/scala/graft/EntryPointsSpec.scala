package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StageMeter

/** The mains' shared pieces: the SPARK_GRAFT_EXTRA_CONF parser, Verify's
  * failure report and the stage meter.
  */
class EntryPointsSpec extends SparkSpec {

  private def stderrOf[T](body: => T): (T, String) = {
    val err = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    val r = try {
      System.setErr(new java.io.PrintStream(err, true))
      body
    } finally System.setErr(oldErr)
    (r, err.toString)
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
