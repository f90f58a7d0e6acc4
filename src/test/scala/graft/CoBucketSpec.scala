package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.CoBucket
import graft.pipeline.CoBucket._

/** CoBucket.pairs against a driver-side enumeration of the same
  * co-bucket pairs, under every cap and over-cap policy. */
class CoBucketSpec extends SparkSpec {

  /** (id, band, sig): seeded, distinct, with three hot signatures */
  private val rows: Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(16)
    (0L until 200L).flatMap { id =>
      Seq.fill(3) {
        val sig = if (rnd.nextInt(5) == 0) 1000L + rnd.nextInt(3) else rnd.nextInt(60).toLong
        (id, rnd.nextInt(2).toLong, sig)
      }
    }.distinct
  }
  private lazy val frame = spark.createDataFrame(rows).toDF("id", "band", "sig")
  private val buckets: Map[(Long, Long), Seq[Long]] =
    rows.groupBy(r => (r._2, r._3)).map { case (k, rs) => k -> rs.map(_._1).sorted }

  private type Row4 = (Long, Long, Long, Long) // band, sig, a, b

  private def allPairs(k: (Long, Long), ids: Seq[Long]): Seq[Row4] =
    for (a <- ids; b <- ids if a < b) yield (k._1, k._2, a, b)

  /** the reference: one row per (a < b, shared key) under a cap `limit` */
  private def expected(limit: Option[Long], overCap: OverCap): Seq[Row4] = {
    val (fit, over) = buckets.partition { case (_, ids) => limit.forall(ids.size <= _) }
    val sub = fit.toSeq.flatMap { case (k, ids) => allPairs(k, ids) }
    val extra = overCap match {
      case Drop => Nil
      case HubStar => over.toSeq.flatMap { case (k, ids) =>
        ids.tail.map(m => (k._1, k._2, ids.head, m)) }
      case Rejoin =>
        val candidates = sub.map(r => (r._3, r._4)).toSet
        over.toSeq.flatMap { case (k, ids) =>
          allPairs(k, ids).filter(r => candidates((r._3, r._4))) }
    }
    (sub ++ extra).sorted
  }

  private def got(df: DataFrame): Seq[Row4] =
    df.select("band", "sig", "a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted

  test("uncapped: every co-bucket pair once per shared key, payload on both sides") {
    val out = CoBucket.pairs(frame.withColumn("h", col("id") * 7), "id",
      Seq("band", "sig"), payload = Map("h" -> ("ha", "hb")))
    assert(got(out) == expected(None, Drop))
    assert(out.filter(col("ha") =!= col("a") * 7 || col("hb") =!= col("b") * 7).count() == 0)
  }

  test("a fixed cap under each over-cap policy matches the reference") {
    // both caps split the buckets: some over 8, some between 3 and 8
    val sizes = buckets.values.map(_.size).toSeq
    assert(sizes.max > 8 && sizes.exists(s => s > 3 && s <= 8), sizes)
    for (n <- Seq(3, 8); policy <- Seq(HubStar, Drop, Rejoin)) {
      var shared = 0
      val out = CoBucket.pairs(frame, "id", Seq("band", "sig"), Fixed(n), policy,
        share = df => { shared += 1; df })
      assert(got(out) == expected(Some(n.toLong), policy), s"Fixed($n) $policy")
      assert(shared == 1, s"Fixed($n) $policy shares $shared frames")
    }
  }

  test("the auto cap is max(1000, |universe|/4)") {
    // one 1001-row bucket beside the random ones
    val hot = spark.range(5000, 6001).select(col("id"), lit(9L).as("band"), lit(9L).as("sig"))
    val withHot = frame.unionByName(hot)
    // |universe| = 100: the cap is 1000, the hot bucket is dropped
    val small = CoBucket.pairs(withHot, "id", Seq("band", "sig"),
      Auto(spark.range(100).toDF()), Drop)
    assert(got(small) == expected(Some(1000L), Drop))
    // |universe| = 4020: the cap is 1005, the hot bucket is kept
    val large = CoBucket.pairs(withHot, "id", Seq("band", "sig"),
      Auto(spark.range(4020).toDF()), Drop)
    assert(large.count() == expected(None, Drop).size + 1001L * 1000L / 2)
  }

  test("the cap step alone keeps the rows of the buckets within the cap") {
    val kept = CoBucket.within(frame, Seq("band", "sig"), Fixed(8))
    assert(kept.columns.toSeq == Seq("id", "band", "sig"))
    val want = rows.filter(r => buckets((r._2, r._3)).size <= 8).sorted
    assert(kept.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted == want)
    assert(CoBucket.within(frame, Seq("band", "sig"), Cap.fixed(0)) eq frame)
  }
}
