package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The timed action: an order-independent fingerprint of every column
  * of every output row.
  *
  * Each row is rendered canonically (columns sorted by name, floats
  * rounded to 9 decimals as tools/compare.py does), hashed with MD5,
  * and the first two 32-bit words of the digests are summed. Reading
  * every column of every row keeps Catalyst from pruning any join,
  * window or aggregate the result depends on. perfbench/oracle.py folds
  * the DuckDB oracle's rows the same way.
  */
object Fold {

  final case class Print(cols: Seq[String], rows: Long, h1: Long, h2: Long,
      probeHits: Long) {
    def same(o: Print): Boolean =
      cols == o.cols && rows == o.rows && h1 == o.h1 && h2 == o.h2
  }

  def canonDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val r = new java.math.BigDecimal(d)
        .setScale(9, java.math.RoundingMode.HALF_EVEN).doubleValue
      if (r == math.rint(r) && math.abs(r) < 1e15) r.toLong.toString
      else "d" + java.lang.Double.doubleToLongBits(r)
    }

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "1" else "0"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: Float => canonDouble(x.toDouble)
    case x: Double => canonDouble(x)
    case x: java.math.BigDecimal =>
      if (x.stripTrailingZeros.scale <= 0) x.toBigInteger.toString
      else canonDouble(x.doubleValue)
    case x: String => x
    case x: java.sql.Timestamp =>
      (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000).toString
    case x: java.time.Instant => (x.getEpochSecond * 1000000L + x.getNano / 1000).toString
    case x: java.sql.Date => x.toString
    case x: java.time.LocalDate => x.toString
    case x: Array[Byte] => x.map(b => f"${b & 0xff}%02x").mkString
    case x: Row => (0 until x.length).map(i => canon(x.get(i))).mkString("{", ",", "}")
    case x: scala.collection.Seq[_] => x.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def word(d: Array[Byte], o: Int): Long =
    ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) | ((d(o + 2) & 0xffL) << 8) |
      (d(o + 3) & 0xffL)

  /** Fold `df`. With a non-empty `probe`, also count the rows whose
    * (a, b) columns form a key `a << 32 | b` in it (planted-pair recall).
    * `inspect` sees the optimized plan of the timed action.
    */
  def apply(df: DataFrame, probe: Set[Long] = Set.empty,
      inspect: LogicalPlan => Unit = _ => ()): Print = {
    val cols = df.columns.toSeq.sorted
    val sel = df.select(cols.map(c => df.col(s"`$c`")): _*)
    val ia = cols.indexOf("a")
    val ib = cols.indexOf("b")
    val useProbe = probe.nonEmpty && ia >= 0 && ib >= 0
    val folded = sel.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L; var h1 = 0L; var h2 = 0L; var hits = 0L
      it.foreach { r =>
        sb.setLength(0)
        var i = 0
        while (i < r.length) {
          if (i > 0) sb.append('\u001f')
          sb.append(canon(r.get(i)))
          i += 1
        }
        val d = md.digest(sb.toString.getBytes(UTF_8))
        n += 1; h1 += word(d, 0); h2 += word(d, 4)
        if (useProbe && !r.isNullAt(ia) && !r.isNullAt(ib)) {
          val a = r.get(ia).asInstanceOf[Number].longValue
          val b = r.get(ib).asInstanceOf[Number].longValue
          if (probe.contains((a << 32) | b)) hits += 1
        }
      }
      Iterator((n, h1, h2, hits))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong))
    inspect(folded.queryExecution.optimizedPlan)
    val parts = folded.collect()
    Print(cols, parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum,
      parts.map(_._4).sum)
  }
}
