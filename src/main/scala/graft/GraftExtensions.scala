package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions` entry point: set
  * `spark.sql.extensions = graft.GraftExtensions` on any session
  * builder (or `--conf` on spark-submit) and the graft SQL functions
  * (the twelve `graft_*` functions — see
  * [[org.apache.spark.sql.graft.GraftFunctions]]) resolve in every
  * session built from that config, including `newSession()` forks.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    org.apache.spark.sql.graft.GraftFunctions.inject(ext)
}
