package graft

import graft.core._

/** dtype discipline sweep (round-1 verdict item 7): ops and monoids
  * must stay in the operand domain across every numeric GrbType —
  * Spark's sum/product/literals silently widen without the preserve
  * casts.
  */
class DtypeSpec extends SparkSpec {

  private def vecOf(t: GrbType): GrbVector = {
    val vals: Seq[(Long, Any)] = t match {
      case GrbType.BOOL => Seq((0L, true), (1L, false), (2L, true))
      case GrbType.INT8 => Seq((0L, 1.toByte), (1L, 2.toByte), (2L, 3.toByte))
      case GrbType.INT16 => Seq((0L, 1.toShort), (1L, 2.toShort), (2L, 3.toShort))
      case GrbType.INT32 => Seq((0L, 1), (1L, 2), (2L, 3))
      case GrbType.INT64 => Seq((0L, 1L), (1L, 2L), (2L, 3L))
      case GrbType.FP32 => Seq((0L, 1f), (1L, 2f), (2L, 3f))
      case GrbType.FP64 => Seq((0L, 1.0), (1L, 2.0), (2L, 3.0))
      case other => fail(s"unexpected $other")
    }
    GrbVector.fromValues(spark, vals, t, 4L)
  }

  private val numeric = Seq(GrbType.INT8, GrbType.INT16, GrbType.INT32,
    GrbType.INT64, GrbType.FP32, GrbType.FP64)

  test("apply(one) preserves dtype (Ops.one emits an int literal)") {
    for (t <- numeric :+ GrbType.BOOL) {
      assert(vecOf(t).apply(Ops.one).dtype == t, s"one on $t")
    }
  }

  test("plus/times monoid reductions stay in the operand domain") {
    for (t <- numeric) {
      val v = vecOf(t)
      assert(v.reduce(Ops.plusMonoid).dtype == t, s"reduce plus on $t")
      assert(v.reduce(Ops.timesMonoid).dtype == t, s"reduce times on $t")
      assert(v.reduce(Ops.minMonoid).dtype == t, s"reduce min on $t")
    }
  }

  test("logical monoids return the operand domain (0/1 for ints)") {
    for (t <- Seq(GrbType.BOOL, GrbType.INT32)) {
      val r = vecOf(t).reduce(Ops.lorMonoid)
      assert(r.dtype == t, s"lor on $t")
      assert(r.boolValue)
    }
  }

  test("ewise pair preserves dtype; promotion follows numpy rules") {
    for (t <- numeric) {
      assert(vecOf(t).ewiseMult(vecOf(t), Ops.pair).dtype == t, s"pair on $t")
    }
    assert(GrbType.promote(GrbType.INT64, GrbType.FP32) == GrbType.FP64)
    assert(GrbType.promote(GrbType.INT16, GrbType.FP32) == GrbType.FP32)
    assert(GrbType.promote(GrbType.INT8, GrbType.INT32) == GrbType.INT32)
  }

  test("INT8 plus reduction wraps like C on overflow") {
    val v = GrbVector.fromValues(spark,
      Seq((0L, 100.toByte), (1L, 100.toByte)), GrbType.INT8, 2L)
    val r = v.reduce(Ops.plusMonoid)
    assert(r.dtype == GrbType.INT8)
    assert(r.value.get == (-56).toByte) // 200 wraps
  }

  test("UINT64 declared dtype survives dup/apply/reduce at the 2^63 boundary") {
    // DOCUMENTED DEVIATION (README "Documented deviations"): UINT64 is
    // stored as signed LongType — values are exact up to 2^63-1, and
    // arithmetic past that wraps into the sign bit (mod-2^64 bit
    // pattern, so wrap-around results match C unsigned math when
    // re-interpreted, but comparisons/min/max order by the SIGNED
    // value). The declared-dtype wrapper must still label every
    // derived collection UINT64 so a round-trip through the engine
    // never silently relabels the data INT64.
    val top = Long.MaxValue // 2^63 - 1: largest exactly-representable
    val v = GrbVector.fromValues(spark,
      Seq((0L, top), (1L, 1L)), GrbType.UINT64, 2L)
    assert(v.dtype == GrbType.UINT64)
    assert(v.dup().dtype == GrbType.UINT64)
    assert(v.apply(Ops.identity).dtype == GrbType.UINT64)
    assert(v.apply(Ops.one).dtype == GrbType.UINT64)
    val r = v.reduce(Ops.plusMonoid)
    assert(r.dtype == GrbType.UINT64)
    // (2^63 - 1) + 1 wraps to the sign bit: the stored bit pattern is
    // 2^63 (the correct unsigned sum) read back as Long.MinValue
    assert(r.value.get == Long.MinValue)
    // ewise promotion keeps the unsigned label when both sides carry it
    assert(v.ewiseMult(v, Ops.pair).dtype == GrbType.UINT64)
  }

  test("checked UINT64 mode (session conf) raises on wrap; wrap sessions unaffected") {
    val top = Long.MaxValue
    // default session (mode = wrap): wrap is silent — the documented deviation
    val v = GrbVector.fromValues(spark,
      Seq((0L, top), (1L, 1L)), GrbType.UINT64, 2L)
    assert(v.reduce(Ops.plusMonoid).value.get == Long.MinValue)
    assert(v.applyRight(Ops.plus, org.apache.spark.sql.functions.lit(1L))
      .toValues.map(_._2).contains(Long.MinValue: Any))
    def overflowRaised(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(6)
        .exists(t => Option(t.getMessage).exists(_.contains("UINT64 overflow")))
    // checked session: same JVM, same SparkContext, different semantics
    val checked = spark.newSession()
    checked.conf.set(Grb.Uint64ModeKey, "checked")
    val vc = GrbVector.fromValues(checked,
      Seq((0L, top), (1L, 1L)), GrbType.UINT64, 2L)
    // same computations raise instead of wrapping
    assert(overflowRaised(intercept[Exception](vc.reduce(Ops.plusMonoid).value)))
    assert(overflowRaised(intercept[Exception](
      vc.applyRight(Ops.plus, org.apache.spark.sql.functions.lit(1L)).toValues)))
    assert(overflowRaised(intercept[Exception](vc.ewiseAdd(vc, Ops.plus).toValues)))
    // the lazy-scalar apply and the accumulating write paths go through
    // the same guard
    val one = GrbScalar.fromValue(checked, 1L, GrbType.UINT64)
    assert(overflowRaised(intercept[Exception](vc.applyRightScalar(Ops.plus, one).toValues)))
    val ones = GrbVector.fromValues(checked, Seq((0L, 1L), (1L, 1L)), GrbType.UINT64, 2L)
    assert(overflowRaised(intercept[Exception](
      vc.accept(ones, Desc(accum = Some(Ops.plus))).toValues)))
    assert(overflowRaised(intercept[Exception](
      vc.assign(Ix.All, Right(ones), Desc(accum = Some(Ops.plus))).toValues)))
    // in-range UINT64 arithmetic is untouched by the guard
    val small = GrbVector.fromValues(checked,
      Seq((0L, 10L), (1L, 20L)), GrbType.UINT64, 2L)
    assert(small.reduce(Ops.plusMonoid).value.get == 30L)
    assert(small.ewiseAdd(small, Ops.plus).toValues
      .map(_._2).toSet == Set(20L: Any, 40L: Any))
    // INT64 stays pure C-wrap even in checked mode (the mode is
    // scoped to the UINT64 representation deviation)
    val i64 = GrbVector.fromValues(checked,
      Seq((0L, top)), GrbType.INT64, 1L)
    assert(i64.applyRight(Ops.plus, org.apache.spark.sql.functions.lit(1L))
      .toValues.map(_._2) == Seq(Long.MinValue: Any))
    // NO cross-talk: the wrap session still wraps while the checked
    // session exists — per-session conf, not process-global state
    assert(v.reduce(Ops.plusMonoid).value.get == Long.MinValue)
    // unknown mode values fail loudly at op build, not silently
    val bad = spark.newSession()
    bad.conf.set(Grb.Uint64ModeKey, "strict")
    intercept[IllegalArgumentException] {
      GrbVector.fromValues(bad, Seq((0L, 1L)), GrbType.UINT64, 1L)
    }
  }

  test("wide UINT64 mode (session conf): Decimal(20,0) store carries true >2^63 values, wraps mod 2^64") {
    def asBigInt(a: Any): BigInt =
      BigInt(a.asInstanceOf[java.math.BigDecimal].toBigInteger)
    val wide = spark.newSession()
    wide.conf.set(Grb.Uint64ModeKey, "wide")
    val big = BigInt(2).pow(63) + 10 // genuinely past the signed-long range
    val v = GrbVector.fromValues(wide,
      Seq((0L, big), (1L, 5L)), GrbType.UINT64, 2L)
    assert(v.dtype == GrbType.UINT64)
    val vals = v.toValues.map { case (i, x) => i -> asBigInt(x) }.toMap
    assert(vals == Map(0L -> big, 1L -> BigInt(5)))
    // arithmetic stays EXACT above 2^63 (the long store wraps here)
    val sum = v.reduce(Ops.plusMonoid).value.get
    assert(asBigInt(sum) == big + 5)
    val plus7 = v.applyRight(Ops.plus,
      org.apache.spark.sql.functions.lit(7L)).toValues.map(p => asBigInt(p._2)).toSet
    assert(plus7 == Set(big + 7, BigInt(12)))
    // wrap at 2^64, C semantics: (2^64 - 1) + 2 == 1
    val nearTop = GrbVector.fromValues(wide,
      Seq((0L, BigInt(2).pow(64) - 1)), GrbType.UINT64, 1L)
    assert(asBigInt(nearTop.applyRight(Ops.plus,
      org.apache.spark.sql.functions.lit(2L)).toValues.head._2) == BigInt(1))
    // product wrap: 2^32 * 2^32 == 2^64 == 0 (mod 2^64) — the wrap
    // happens before the Decimal(20,0) downcast, never null
    val p32 = GrbVector.fromValues(wide,
      Seq((0L, BigInt(2).pow(32))), GrbType.UINT64, 1L)
    assert(asBigInt(p32.ewiseMult(p32, Ops.times).toValues.head._2) == BigInt(0))
    // semiring products wrap too: times is non-preserve, so the
    // product column widens and the label+wrap must be restored
    // through srDeclared + uintGuard, not the mult cast
    val m32 = GrbMatrix.fromValues(wide,
      Seq((0L, 0L, BigInt(2).pow(32): Any)), GrbType.UINT64, 1L, 1L)
    val mv = m32.mxv(p32, Ops.plusTimes)
    assert(mv.dtype == GrbType.UINT64)
    assert(asBigInt(mv.toValues.head._2) == BigInt(0))
    val mm = m32.mxm(m32, Ops.plusTimes)
    assert(mm.dtype == GrbType.UINT64)
    assert(asBigInt(mm.toValues.head._3) == BigInt(0))
    assert(asBigInt(p32.inner(p32, Ops.plusTimes).value.get) == BigInt(0))
    assert(asBigInt(p32.outer(p32, Ops.times).toValues.head._3) == BigInt(0))
    // rowwise reduce keeps the wide store labeled through the agg
    val rr = m32.reduceRowwise(Ops.plusMonoid)
    assert(rr.dtype == GrbType.UINT64)
    assert(asBigInt(rr.toValues.head._2) == BigInt(2).pow(32))
    // assign-accum wraps: (2^64-1) + 5 fits Decimal(20,0) unwrapped,
    // so the merge cast must apply the mod, not a plain downcast
    val acc = nearTop.assign(Ix.All,
      Right(GrbVector.fromValues(wide, Seq((0L, 5L: Any)), GrbType.UINT64, 1L)),
      Desc(accum = Some(Ops.plus)))
    assert(asBigInt(acc.toValues.head._2) == BigInt(4))
    // per-session isolation: the default session's UINT64 store is
    // still a primitive long while the wide session is live
    val vWrap = GrbVector.fromValues(spark,
      Seq((0L, Long.MaxValue), (1L, 1L)), GrbType.UINT64, 2L)
    assert(vWrap.df.schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(vWrap.reduce(Ops.plusMonoid).value.get == Long.MinValue)
  }

  test("wide UINT64 products at the top of the range: (2^64-1)^2 wraps, never nulls") {
    // ADVICE r7 (medium): Decimal(20,0)*Decimal(20,0) caps at
    // Decimal(38,0) ~ 1e38-1 while (2^64-1)^2 ~ 3.4e38 — a naive
    // multiply overflows to NULL before any wrap cast runs. The limb
    // multiply (Grb.mulMod64) must keep every product exact mod 2^64.
    def asBigInt(a: Any): BigInt =
      BigInt(a.asInstanceOf[java.math.BigDecimal].toBigInteger)
    val wide = spark.newSession()
    wide.conf.set(Grb.Uint64ModeKey, "wide")
    val top = BigInt(2).pow(64) - 1
    val M = BigInt(2).pow(64)
    val vTop = GrbVector.fromValues(wide,
      Seq((0L, top)), GrbType.UINT64, 1L)
    // (2^64-1)^2 = 2^128 - 2^65 + 1 === 1 (mod 2^64)
    assert(asBigInt(vTop.ewiseMult(vTop, Ops.times).toValues.head._2) == BigInt(1))
    // an asymmetric large product, checked against BigInt arithmetic
    val x = BigInt("18446744073709551557") // 2^64 - 59
    val y = BigInt("12157665459056928801") // 3^40
    val vx = GrbVector.fromValues(wide, Seq((0L, x)), GrbType.UINT64, 1L)
    val vy = GrbVector.fromValues(wide, Seq((0L, y)), GrbType.UINT64, 1L)
    assert(asBigInt(vx.ewiseMult(vy, Ops.times).toValues.head._2) == (x * y) % M)
    // literal bind goes through the same limb path
    assert(asBigInt(vTop.applyRight(Ops.times,
      org.apache.spark.sql.functions.lit(3L)).toValues.head._2) == (top * 3) % M)
    // semiring fold over top-range products: row [top, top] . [top, top]^T
    // = 2*(2^128 - 2^65 + 1) === 2 (mod 2^64), through the sum widening
    val v2 = GrbVector.fromValues(wide,
      Seq((0L, top), (1L, top)), GrbType.UINT64, 2L)
    assert(asBigInt(v2.inner(v2, Ops.plusTimes).value.get) == BigInt(2))
    // matrix product: [[top, top]] x [[top],[top]] — same fold via mxm
    val mTop = GrbMatrix.fromValues(wide,
      Seq((0L, 0L, top: Any), (0L, 1L, top: Any)), GrbType.UINT64, 1L, 2L)
    val mm = mTop.mxm(mTop.transpose, Ops.plusTimes)
    assert(asBigInt(mm.toValues.head._3) == BigInt(2))
    // accum=times through the merge path wraps too
    val acc = vTop.assign(Ix.All, Right(vTop), Desc(accum = Some(Ops.times)))
    assert(asBigInt(acc.toValues.head._2) == BigInt(1))
  }
}
