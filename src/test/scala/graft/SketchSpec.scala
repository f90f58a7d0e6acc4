package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Sketch

/** Deterministic HLL (pipeline/Sketch + HllRegisters aggregate):
  * the custom aggregate must equal the composed DataFrame mirror
  * bit-for-bit (that equality is what makes the approximate sketch
  * oracle-checkable), registers must replay exactly driver-side, and
  * the plan must keep the aggregate on the hash path with a map-side
  * partial.
  */
class SketchSpec extends SparkSpec {

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  /** driver-side replay of the exact register algebra */
  private def naiveHllMilli(keys: Seq[Long]): Long = {
    val regs = new Array[Int](256)
    keys.distinct.foreach { k =>
      val h = java.lang.Long.parseLong(md5Hex(k.toString).substring(0, 15), 16)
      val bucket = (h >>> 52).toInt & 255
      val r = h & ((1L << 52) - 1)
      val rho = java.lang.Long.numberOfLeadingZeros(r) - 11
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    val sumScaled = regs.map(m => 1L << (53 - m)).sum
    math.floor(Sketch.AlphaNumMilli / sumScaled.toDouble).toLong
  }

  test("aggregate path == composed mirror == driver replay") {
    val spark2 = spark
    import spark2.implicits._
    // two groups, heavy duplication, one giant group to spread buckets
    val rows = (1L to 5000L).map(i => ("big", i % 1700)) ++
      (1L to 400L).map(i => ("small", i % 37))
    val df = rows.toDF("event_type", "user_id").repartition(7)
    val agg = Sketch.hllDistinct(df, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val composed = Sketch.hllDistinctComposed(df, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(agg === composed)
    assert(agg("big") === naiveHllMilli((0L until 1700L).toSeq))
    assert(agg("small") === naiveHllMilli((0L until 37L).toSeq))
    // sanity: the estimate is within the documented raw-HLL envelope
    // (biased high at small n; just pin the ballpark, exactness is
    // the replay assertion above)
    assert(agg("big") > 1000L * 1700 / 2 && agg("big") < 1000L * 1700 * 2)
  }

  test("merge is duplication- and partitioning-invariant") {
    val spark2 = spark
    import spark2.implicits._
    val base = (1L to 300L).map(i => ("g", i))
    val dup = base ++ base ++ base
    val a = Sketch.hllDistinct(base.toDF("event_type", "user_id").repartition(1),
      "event_type", "user_id").collect()(0).getLong(1)
    val b = Sketch.hllDistinct(dup.toDF("event_type", "user_id").repartition(13),
      "event_type", "user_id").collect()(0).getLong(1)
    assert(a === b)
  }

  test("sketch ledger: two-level state merge == one-pass sketch, states survive parquet") {
    import org.apache.spark.sql.graft.{HllEstimate, HllMergeState, HllState}
    val spark2 = spark
    import spark2.implicits._
    val rows = (1L to 4000L).map(i => ("big", i % 5, i % 1300)) ++
      (1L to 300L).map(i => ("small", i % 3, i % 41))
    val df = rows.toDF("g", "day", "k").repartition(9)
    // one-pass control
    val onePass = Sketch.hllDistinct(
      df.withColumnRenamed("g", "event_type").withColumnRenamed("k", "user_id"),
      "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // two-level: daily states -> parquet round-trip -> merge -> estimate
    val daily = df.select(col("g"), col("day"), Sketch.hash60(col("k")).as("h"))
      .groupBy("g", "day").agg(HllState(col("h")).as("state"))
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-hll-ledger-spec"
    daily.write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir).groupBy("g")
      .agg(HllMergeState(col("state")).as("m"))
      .select(col("g"), Sketch.estMilli(HllEstimate(col("m"))).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === onePass)
    // and through the SQL surface
    spark.read.parquet(dir).createOrReplaceTempView("hll_ledger_states")
    val viaSql = spark.sql(
      "SELECT g, graft_hll_estimate(graft_hll_merge(state)) AS s FROM hll_ledger_states GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = df.select(col("g"), Sketch.hash60(col("k")).as("h"))
      .groupBy("g").agg(org.apache.spark.sql.graft.HllRegisters(col("h")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql === direct)
  }

  test("plan: ObjectHashAggregate with map-side partial, single shuffle") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 100L).map(i => ("g", i)).toDF("event_type", "user_id")
    val plan = Sketch.hllDistinct(df, "event_type", "user_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    // partial_ marks the map-side half of the two-phase aggregate
    assert(plan.contains("partial_"), plan)
  }

  // ---------------------------------------------------------------
  // Count-Min sketch
  // ---------------------------------------------------------------

  /** driver-side replay of the exact grid algebra */
  private def naiveCms(occurrences: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.graft.Cms
    val grid = new Array[Long](Cms.Cells)
    def positions(k: String): Seq[Int] = {
      val m = md5Hex(k)
      (0 until Cms.Depth).map(i =>
        (java.lang.Long.parseLong(m.substring(8 * i, 8 * i + 8), 16) % Cms.Width).toInt)
    }
    occurrences.foreach { k =>
      positions(k).zipWithIndex.foreach { case (c, r) => grid(r * Cms.Width + c) += 1 }
    }
    occurrences.distinct.map { k =>
      k -> positions(k).zipWithIndex.map { case (c, r) => grid(r * Cms.Width + c) }.min
    }.toMap
  }

  test("CMS: estimates == driver grid replay, >= exact counts, absent key floors at collisions") {
    val spark2 = spark
    import spark2.implicits._
    val words = Seq("the", "table", "scan", "merge") // watchlist members
    val occurrences = words.zipWithIndex.flatMap { case (w, i) => Seq.fill(10 * (i + 1))(w) }
    val docs = occurrences.grouped(7).zipWithIndex.map { case (g, i) =>
      (i.toLong, g.mkString(" "), "en", "web", g.mkString(" ").length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    val est = Sketch.cmsTokenEstimates(docs)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val naive = naiveCms(occurrences)
    val exact = occurrences.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    words.foreach { w =>
      assert(est(w) === naive(w), s"token $w")
      assert(est(w) >= exact(w), s"CMS must never under-count $w")
    }
    // the watchlist's absent control estimates the collision mass only
    assert(est("zz_absent_token") <= occurrences.size)
  }

  test("CMS ledger: two-level counter-sum merge == one-pass grid, states survive parquet + SQL") {
    val spark2 = spark
    import spark2.implicits._
    val rows = (0L until 600L).map { i =>
      (i, s"tok${i % 23} the a filler${i % 7}", "en", s"src${i % 4}", 10L)
    }
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(9)
    val onePassTok = docs.select(explode(split(col("text"), " ")).as("tk"))
    val onePass = onePassTok
      .agg(org.apache.spark.sql.graft.CmsState(Sketch.cmsPacked(col("tk"))).as("state"))
      .collect()(0).getAs[Array[Byte]](0)
    // two-level: per-source states -> parquet round-trip -> merge
    val perSource = docs.select(col("source"), explode(split(col("text"), " ")).as("tk"))
      .groupBy("source")
      .agg(org.apache.spark.sql.graft.CmsState(Sketch.cmsPacked(col("tk"))).as("state"))
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-cms-ledger-spec"
    perSource.write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(org.apache.spark.sql.graft.CmsMergeState(col("state")).as("m"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, onePass),
      "two-level merged grid must be bit-identical to the one-pass grid")
    // the ledger pipeline op agrees with per-token exact counts on
    // this collision-free vocabulary for watchlist members present
    val led = Sketch.cmsLedger(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exactThe = rows.size.toLong // every doc contains "the" once
    assert(led("the") === ((exactThe, 4L)))
    // and through the SQL surface
    spark.read.parquet(dir).createOrReplaceTempView("cms_ledger_states")
    val viaSql = spark.sql(
      """SELECT graft_cms_merge(state) AS m FROM cms_ledger_states""")
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, onePass))
    // graft_cms_estimate resolves through the SQL surface and agrees
    // with the exact count (packed literal built driver-side)
    val packedThe = {
      import org.apache.spark.sql.graft.Cms
      val m = md5Hex("the")
      (0 until Cms.Depth).map(i =>
        (java.lang.Long.parseLong(m.substring(8 * i, 8 * i + 8), 16) % Cms.Width) << (16 * i)).sum
    }
    val estThe = spark.sql(
      s"SELECT graft_cms_estimate(graft_cms_merge(state), ${packedThe}L) AS est FROM cms_ledger_states")
      .collect()(0).getLong(0)
    assert(estThe === exactThe)
  }

  test("CMS: partitioning- and duplication-order invariance") {
    val spark2 = spark
    import spark2.implicits._
    val base = (0L until 200L).map(i => (i, s"w${i % 13} w${i % 5}", "en", "s", 5L))
    def grid(parts: Int, shuffled: Seq[(Long, String, String, String, Long)]): Array[Byte] =
      shuffled.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(parts)
        .select(explode(split(col("text"), " ")).as("tk"))
        .agg(org.apache.spark.sql.graft.CmsState(Sketch.cmsPacked(col("tk"))).as("s"))
        .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(grid(1, base), grid(17, scala.util.Random.shuffle(base))))
  }

  test("CMS plan: ObjectHashAggregate with map-side partial") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val plan = Sketch.cmsTokenEstimates(docs).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_"), plan)
  }

  test("malformed states: every family's merge rejects them, every read is null") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graft._
    val spark2 = spark
    import spark2.implicits._
    // (family, state bytes, merge, read, the read of a well-formed
    // empty state, malformed states)
    val families: Seq[(String, Int, Column => Column, Column => Column, Any, Seq[Array[Byte]])] = Seq(
      ("hll", 256, HllMergeState(_), HllEstimate(_), 256L << 53,
        Seq(new Array[Byte](255), Array.fill[Byte](256)(-1), Array.fill[Byte](256)(54))),
      ("cms", Cms.Cells * 8, CmsMergeState(_), CmsEstimate(_, lit(5L)), 0L,
        Seq(new Array[Byte](Cms.Cells * 8 - 8))),
      ("bloom", Bloom.Bytes, BloomMergeState(_), BloomMaybe(_, lit(5L)), false,
        Seq(new Array[Byte](Bloom.Bytes + 1))))
    families.foreach { case (family, bytes, merge, read, emptyRead, bad) =>
      val good = new Array[Byte](bytes)
      val df = (good +: bad).zipWithIndex.toDF("s", "i")
      // interpreted (local relation folded by the optimizer) and
      // generated (after an exchange) reads agree: null iff malformed
      for (in <- Seq(df, df.repartition(2))) {
        val got = in.select(col("i"), read(col("s"))).collect().map(r => r.getInt(0) -> r.get(1)).toMap
        assert(got == ((0 -> emptyRead) +: bad.indices.map(i => (i + 1) -> null)).toMap, family)
      }
      bad.foreach { b =>
        val e = intercept[Exception] {
          Seq(good, b).toDF("s").agg(merge(col("s"))).collect()
        }
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(t => t != null && t.contains(s"graft_$family") && t.contains("expected")),
          s"$family: ${e.getMessage}")
      }
    }
  }
}
