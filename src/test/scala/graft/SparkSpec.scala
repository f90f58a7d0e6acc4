package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** shared local session for all specs */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", LocalDirs.sparkLocalDir)
      .config("spark.sql.session.timeZone", "UTC")
      // graft SQL functions resolve in spark.sql(...) everywhere
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // C/numpy-style wrap-around + null semantics (GraphBLAS reference
      // behavior); ANSI mode would throw on narrowing-cast overflow
      .config("spark.sql.ansi.enabled", "false")
      // every spec graph is tiny: with the driver-local CC fast path
      // at its default threshold the suite would stop exercising the
      // DISTRIBUTED FastSV/Pregel loops entirely. Disabled here; the
      // local path gets its own cross-check tests (FastSVSpec) that
      // set the conf per-test and restore it.
      .config("spark.graft.cc.localNnz", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark

  /** run `body` with a 1-byte broadcast budget: the guard drops to one
    * row, so every loop takes its sharded (above-guard, 100 TB) plan
    */
  def sharded[T](body: => T): T = {
    val key = "spark.graft.broadcast.maxBytes"
    spark.conf.set(key, "1")
    try body finally spark.conf.unset(key)
  }
}
