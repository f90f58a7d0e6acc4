package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFunctions

/** SQL-surface registration of the custom Catalyst expressions:
  * the config route (`spark.sql.extensions = graft.GraftExtensions`,
  * set by GraftSession, which builds the shared TestSession — so every
  * suite run IS a config-route integration test) and the runtime route
  * (`GraftFunctions.register` on a live session).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("config route: graft_quantized_dot resolves in spark.sql") {
    val r = spark.sql(
      """SELECT graft_quantized_dot(
        |  array(CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(-3 AS BIGINT)),
        |  array(CAST(10 AS BIGINT), CAST(20 AS BIGINT), CAST(30 AS BIGINT))) AS d
        |""".stripMargin).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(10L + 40L - 90L))
  }

  test("config route: extensions carry into newSession() forks") {
    val fork = spark.newSession()
    val r = fork.sql(
      "SELECT graft_quantized_dot(array(CAST(2 AS BIGINT)), array(CAST(21 AS BIGINT))) AS d")
      .collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(42L))
  }

  test("graft_topk in SQL matches the TopKPairs Column API (ties, NaN, null ord)") {
    import spark.implicits._
    val df = Seq(
      (1L, 0.5, 10L), (1L, 0.5, 3L), (1L, Double.NaN, 7L), (1L, 0.9, 4L),
      (2L, 0.1, 1L), (2L, 0.1, 2L)).toDF("g", "ord", "id")
      // null ord (zero-norm cosine analogue) must rank last but stay
      .unionByName(Seq((1L, 99L)).toDF("g", "id")
        .select(col("g"), lit(null).cast("double").as("ord"), col("id")))
    df.createOrReplaceTempView("topk_in")
    val viaSql = spark.sql(
      """SELECT g, graft_topk(ord, id, 3) AS top FROM topk_in GROUP BY g
        |ORDER BY g""".stripMargin).collect()
    val viaCol = df.groupBy("g")
      .agg(org.apache.spark.sql.graft.TopKPairs(col("ord"), col("id"), 3).as("top"))
      .orderBy("g").collect()
    assert(viaSql.map(_.toString).toSeq == viaCol.map(_.toString).toSeq)
    // NaN greatest, then 0.9, then the 0.5 tie broken by id ASC
    val top1 = viaSql(0).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))
    assert(top1 == Seq(7L, 4L, 3L))
  }

  test("graft_hll in SQL matches the HllRegisters Column API") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i % 7L, i % 97L)).toDF("g", "k")
      .withColumn("h", pipeline.Sketch.hash60(col("k").cast("string")))
    df.createOrReplaceTempView("hll_in")
    val viaSql = spark.sql(
      "SELECT g, graft_hll(h) AS s FROM hll_in GROUP BY g ORDER BY g").collect()
    val viaCol = df.groupBy("g")
      .agg(org.apache.spark.sql.graft.HllRegisters(col("h")).as("s"))
      .orderBy("g").collect()
    assert(viaSql.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      viaCol.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("the SQL surface is exactly the twelve graft_* functions") {
    assert(GraftFunctions.all.map(_._1.funcName).toSet == Set(
      "graft_quantized_dot", "graft_topk", "graft_hll",
      "graft_hll_state", "graft_hll_merge", "graft_hll_estimate",
      "graft_cms_state", "graft_cms_merge", "graft_cms_estimate",
      "graft_bloom_state", "graft_bloom_merge", "graft_bloom_maybe"))
    assert(GraftFunctions.all.size == 12)
  }

  test("sketch states and the Bloom probe in SQL match the Column API") {
    import org.apache.spark.sql.graft.{BloomMaybe, BloomState, CmsState, HllState}
    import pipeline.Sketch
    import spark.implicits._
    val df = (1 to 500).map(i => (i % 3L, s"k${i % 97}")).toDF("g", "k")
      .select(col("g"), Sketch.hash60(col("k")).as("h"),
        Sketch.cmsPacked(col("k")).as("c"), Sketch.bloomPacked(col("k")).as("b"))
    df.createOrReplaceTempView("sketch_in")
    val viaSql = spark.sql(
      """SELECT g, graft_hll_state(h), graft_cms_state(c), graft_bloom_state(b)
        |FROM sketch_in GROUP BY g ORDER BY g""".stripMargin).collect()
    val viaCol = df.groupBy("g")
      .agg(HllState(col("h")), CmsState(col("c")), BloomState(col("b")))
      .orderBy("g").collect()
    def bytes(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) +: (1 to 3).map(i => r.getAs[Array[Byte]](i).toSeq))
    assert(bytes(viaSql).toSeq == bytes(viaCol).toSeq)
    // probe each group's filter with a member key and an absent one
    spark.sql("SELECT g, graft_bloom_state(b) AS s FROM sketch_in GROUP BY g")
      .createOrReplaceTempView("bloom_in")
    val probes = Seq("k1", "absent").toDF("k").select(Sketch.bloomPacked(col("k")).as("p"))
    probes.createOrReplaceTempView("bloom_probe")
    val maybeSql = spark.sql(
      "SELECT g, p, graft_bloom_maybe(s, p) FROM bloom_in CROSS JOIN bloom_probe ORDER BY g, p")
      .collect().map(_.toString)
    val maybeCol = spark.table("bloom_in").crossJoin(probes)
      .select(col("g"), col("p"), BloomMaybe(col("s"), col("p"))).orderBy("g", "p")
      .collect().map(_.toString)
    assert(maybeSql.toSeq == maybeCol.toSeq)
    assert(maybeSql.count(_.endsWith(",true]")) >= 3) // k1 is in every group
  }

  test("runtime route: register restores a dropped function") {
    val fork = spark.newSession()
    val reg = fork.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftFunctions.all.foreach { case (id, _, _) => reg.dropFunction(id) }
    intercept[Exception] {
      fork.sql("SELECT graft_quantized_dot(array(CAST(1 AS BIGINT)), array(CAST(1 AS BIGINT)))")
        .collect()
    }
    GraftFunctions.register(fork)
    val r = fork.sql(
      "SELECT graft_quantized_dot(array(CAST(6 AS BIGINT)), array(CAST(7 AS BIGINT))) AS d")
      .collect()
    assert(r.head.getLong(0) == 42L)
  }

  test("graft_topk rejects a non-literal k; arity is enforced") {
    import spark.implicits._
    Seq((1L, 1.0, 1L)).toDF("g", "ord", "id").createOrReplaceTempView("topk_bad")
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_topk(ord, id, CAST(g AS INT)) FROM topk_bad GROUP BY g").collect()
    }
    assert(e1.getMessage.contains("integer literal") ||
      e1.getCause != null && e1.getCause.getMessage.contains("integer literal"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_quantized_dot(array(CAST(1 AS BIGINT))) FROM topk_bad").collect()
    }
    assert(e2.getMessage.contains("argument") ||
      e2.getCause != null && e2.getCause.getMessage.contains("argument"))
  }
}
