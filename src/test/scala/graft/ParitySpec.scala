package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.lit
import graft.core._
import graft.io.MatrixMarket

/** Parity items: require_monoid on ewise_add, UINT dtype tracking
  * through the wrappers, skew-symmetric ARRAY MatrixMarket decode,
  * complex MatrixMarket fields (FC64, round 5), grblas error-class and
  * message parity (round 5), user-op registry resolution.
  */
class ParitySpec extends SparkSpec {

  private def writeTmp(name: String, content: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-parity-$name.mtx")
    Files.writeString(p, content)
    p.toString
  }

  test("ewise_add refuses non-monoid ops unless overridden (vector.py:360-363)") {
    val a = GrbVector.fromValues(spark, Seq((0L, 1L: Any), (1L, 2L: Any)), GrbType.INT64, 3L)
    val b = GrbVector.fromValues(spark, Seq((1L, 5L: Any), (2L, 7L: Any)), GrbType.INT64, 3L)
    val e = intercept[IllegalArgumentException](a.ewiseAdd(b, Ops.minus))
    assert(e.getMessage.contains("monoid"))
    // explicit override: minus where both present, pass-through else
    val r = a.ewiseAdd(b, Ops.minus, requireMonoid = false).toValues
    assert(r == Seq((0L, 1L), (1L, -3L), (2L, 7L)))
    // matrix arm
    val m = GrbMatrix.fromValues(spark, Seq((0L, 0L, 1L: Any)), GrbType.INT64, 2L, 2L)
    intercept[IllegalArgumentException](m.ewiseAdd(m, Ops.div))
    assert(m.ewiseAdd(m, Ops.plus).nvals == 1L)
  }

  test("UINT dtypes survive dup/extract/resize (declared-dtype tracking)") {
    val v = GrbVector.fromValues(spark, Seq((0L, 200.toShort: Any), (5L, 7.toShort: Any)),
      GrbType.UINT8, 10L)
    assert(v.dtype == GrbType.UINT8)
    assert(v.dup().dtype == GrbType.UINT8) // was: silently INT16
    assert(v.dup().extract(Ix.Range(0L, 10L, 2L)).dtype == GrbType.UINT8)
    assert(v.resize(4L).dtype == GrbType.UINT8)
    assert(v.clear.dtype == GrbType.UINT8)
    assert(v.del(0L).dtype == GrbType.UINT8)
    // preserve-op application keeps the declared dtype; promotion of
    // same-dtype operands stays in the domain
    assert(v.ewiseMult(v, Ops.plus).dtype == GrbType.UINT8)
    val m = GrbMatrix.fromValues(spark, Seq((0L, 0L, 3L: Any)), GrbType.UINT32, 2L, 2L)
    assert(m.dup().dtype == GrbType.UINT32)
    assert(m.transpose.dtype == GrbType.UINT32)
    assert(m.extract(Ix.All, Ix.Range(0L, 2L, 1L)).dtype == GrbType.UINT32)
    // assign keeps the target's label, like accept does
    val ones = GrbVector.fromValues(spark, Seq((0L, 1.toShort: Any), (1L, 1.toShort: Any)),
      GrbType.UINT8, 2L)
    assert(v.assign(Ix.Range(0L, 2L), Right(ones)).dtype == GrbType.UINT8)
    assert(v.assign(Ix.Range(0L, 2L), Right(ones), subassign = true).dtype == GrbType.UINT8)
    assert(v.assign(Ix.Seqs(Seq(1L, 3L)), Left(lit(9.toShort))).dtype == GrbType.UINT8)
    val idx = GrbVector.fromValues(spark, Seq((0L, 2L: Any), (1L, 2L: Any)), GrbType.INT64, 2L)
    assert(v.reduceAssign(idx, ones, c => org.apache.spark.sql.functions.sum(c)).dtype ==
      GrbType.UINT8)
    val mMask = Mask.structural(m.df)
    assert(m.assign(Ix.All, Ix.All, Left(lit(4L)), Desc(Some(mMask))).dtype == GrbType.UINT32)
    assert(m.assign(Ix.Range(0L, 1L), Ix.Range(0L, 1L), Right(m.extract(Ix.Range(0L, 1L),
      Ix.Range(0L, 1L))), subassign = true).dtype == GrbType.UINT32)
    // structure ops filter or re-key one input, so they keep its label
    assert(graft.ops.Structure.tril(m).dtype == GrbType.UINT32)
    assert(graft.ops.Structure.triu(m).dtype == GrbType.UINT32)
    assert(graft.ops.Structure.diagVector(m).dtype == GrbType.UINT32)
    assert(graft.ops.Structure.diagMatrix(v, 1L).dtype == GrbType.UINT8)
  }

  test("array skew-symmetric stores the STRICTLY lower triangle (io.py:41-70)") {
    // 4x4 skew: strictly-lower column-major = (1,0),(2,0),(3,0),(2,1),(3,1),(3,2)
    val path = writeTmp("skewarr",
      """%%MatrixMarket matrix array real skew-symmetric
        |4 4
        |2.0
        |3.0
        |4.0
        |5.0
        |6.0
        |7.0
        |""".stripMargin)
    val m = MatrixMarket.read(spark, path)
    val got = m.toValues.map { case (i, j, v) => (i, j, v.asInstanceOf[Double]) }.toSet
    val lower = Set((1L, 0L, 2.0), (2L, 0L, 3.0), (3L, 0L, 4.0),
      (2L, 1L, 5.0), (3L, 1L, 6.0), (3L, 2L, 7.0))
    val mirrored = lower.map { case (i, j, v) => (j, i, -v) }
    assert(got == lower ++ mirrored) // no spurious diagonal, exact (i,j)
  }

  private def cval(v: Any): (Double, Double) = {
    val r = v.asInstanceOf[org.apache.spark.sql.Row]
    (r.getDouble(0), r.getDouble(1))
  }

  test("complex MatrixMarket reads into FC64; hermitian mirrors conjugate (io.py:662-676)") {
    val path = writeTmp("cplx",
      """%%MatrixMarket matrix coordinate complex hermitian
        |2 2 2
        |1 1 3.0 0.0
        |2 1 1.0 2.0
        |""".stripMargin)
    val m = MatrixMarket.read(spark, path)
    assert(m.dtype == GrbType.FC64)
    val got = m.toValues.map { case (i, j, v) => (i, j, cval(v)) }.toSet
    assert(got == Set((0L, 0L, (3.0, 0.0)),
      (1L, 0L, (1.0, 2.0)), (0L, 1L, (1.0, -2.0)))) // mirror conjugated
    // round-trip through the complex writer
    val rt = writeTmp("cplx-rt", "placeholder")
    MatrixMarket.write(m, rt)
    val m2 = MatrixMarket.read(spark, rt)
    assert(m2.dtype == GrbType.FC64)
    assert(m2.toValues.map { case (i, j, v) => (i, j, cval(v)) }.toSet == got)
  }

  test("complex ARRAY format: two tokens per line, column-major") {
    val path = writeTmp("cplxarr",
      """%%MatrixMarket matrix array complex general
        |2 2
        |1.0 0.5
        |2.0 -1.0
        |3.0 0.0
        |4.0 2.5
        |""".stripMargin)
    val m = MatrixMarket.read(spark, path)
    assert(m.dtype == GrbType.FC64)
    val got = m.toValues.map { case (i, j, v) => (i, j, cval(v)) }.toSet
    assert(got == Set((0L, 0L, (1.0, 0.5)), (1L, 0L, (2.0, -1.0)),
      (0L, 1L, (3.0, 0.0)), (1L, 1L, (4.0, 2.5))))
  }

  test("extended op catalogue: floordiv/cdiv/remainder/bitwise semantics") {
    val v = GrbVector.fromValues(spark,
      Seq((0L, 7L: Any), (1L, -7L: Any), (2L, 12L: Any)), GrbType.INT64, 3L)
    // python floor division vs C truncation on negatives
    assert(v.applyRight(Ops.floordiv, lit(2)).toValues ==
      Seq((0L, 3L), (1L, -4L), (2L, 6L)))
    assert(v.applyRight(Ops.cdiv, lit(2)).toValues ==
      Seq((0L, 3L), (1L, -3L), (2L, 6L)))
    // remainder follows the divisor's sign; fmod the dividend's
    assert(v.applyRight(Ops.remainder, lit(3)).toValues ==
      Seq((0L, 1L), (1L, 2L), (2L, 0L)))
    assert(v.applyRight(Ops.fmod, lit(3)).toValues ==
      Seq((0L, 1L), (1L, -1L), (2L, 0L)))
    assert(v.applyRight(Ops.rminus, lit(1)).toValues ==
      Seq((0L, -6L), (1L, 8L), (2L, -11L)))
    // bitwise binary + monoid reduction stay in the operand domain
    assert(v.applyRight(Ops.band, lit(6)).toValues ==
      Seq((0L, 6L), (1L, 0L), (2L, 4L)))
    val bits = GrbVector.fromValues(spark,
      Seq((0L, 1L: Any), (1L, 2L: Any), (2L, 8L: Any)), GrbType.INT64, 3L)
    assert(bits.reduce(Ops.borMonoid).value.contains(11L))
    assert(bits.reduce(Ops.bxorMonoid).value.contains(11L))
    assert(bits.reduce(Ops.bandMonoid).value.contains(0L))
    // new semirings registered and resolvable
    assert(Ops.semirings.contains("plus_plus") && Ops.semirings.contains("bor_band"))
    assert(Ops.unaryOps.contains("sign") && Ops.unaryOps.contains("tanh"))
  }

  test("user-defined monoid + semiring drive mxm (SURVEY 2.8 UDF surface)") {
    // a user monoid is just (name, combining op, agg builder); a user
    // semiring is any (monoid, mult) pair — no Expression subclassing
    val userMax = Monoid("user_max", BinaryOp("user_max")(
      org.apache.spark.sql.functions.greatest(_, _)))(
      org.apache.spark.sql.functions.max)
    val sr = Semiring("user_max_times", userMax, Ops.times)
    val a = GrbMatrix.fromValues(spark,
      Seq((0L, 0L, 2L: Any), (0L, 1L, 3L: Any), (1L, 0L, 5L: Any)),
      GrbType.INT64, 2L, 2L)
    val b = GrbMatrix.fromValues(spark,
      Seq((0L, 0L, 7L: Any), (1L, 0L, 11L: Any)), GrbType.INT64, 2L, 2L)
    // C(0,0) = max(2*7, 3*11) = 33; C(1,0) = 5*7 = 35
    assert(a.mxm(b, sr).toValues == Seq((0L, 0L, 33L), (1L, 0L, 35L)))
  }

  test("error parity: grblas exception classes and pinned message substrings") {
    // class-name parity: grblas code catching gb.exceptions.X maps to
    // graft.core.X (reference tests catch these by class —
    // tests/from_grblas/test_matrix.py:84,137,408)
    val full = GrbVector.fromValues(spark, Seq((0L, 1L: Any)), GrbType.INT64, 4L)
    intercept[OutputNotEmpty](GrbVector.build(full, Seq(1L -> (2L: Any))))
    val e = GrbVector.empty(spark, GrbType.INT64, 4L)
    intercept[IndexOutOfBound](GrbVector.build(e, Seq(9L -> (1L: Any))))
    val short = GrbVector.fromValues(spark, Seq((0L, 1L: Any)), GrbType.INT64, 3L)
    intercept[DimensionMismatch](full.ewiseAdd(short, Ops.plus))
    intercept[DimensionMismatch](full.ewiseMult(short, Ops.times))
    val m22 = GrbMatrix.fromValues(spark, Seq((0L, 0L, 1L: Any)), GrbType.INT64, 2L, 2L)
    val m33 = GrbMatrix.fromValues(spark, Seq((0L, 0L, 1L: Any)), GrbType.INT64, 3L, 3L)
    intercept[DimensionMismatch](m22.mxm(m33, Ops.plusTimes))
    intercept[DimensionMismatch](m22.mxv(full, Ops.plusTimes))
    // message-substring parity: phrasings the reference suite asserts
    // with pytest.raises(match=...)
    val dup = intercept[GraphblasException](GrbVector.fromValues(spark,
      Seq((1L, 1L: Any), (1L, 2L: Any)), GrbType.INT64, 3L))
    assert(dup.getMessage.contains("Duplicate indices found")) // test_vector.py:66
    val noIx = intercept[GraphblasException](
      GrbVector.fromValues(spark, Seq.empty, GrbType.INT64))
    assert(noIx.getMessage == "No indices provided. Unable to infer size.") // :73
    val dupM = intercept[GraphblasException](GrbMatrix.fromValues(spark,
      Seq((0L, 0L, 1L: Any), (0L, 0L, 2L: Any)), GrbType.INT64, 2L, 2L))
    assert(dupM.getMessage.contains("Duplicate indices found")) // test_matrix.py:81
    // require_monoid raises a plain TypeError in grblas, not a
    // GraphblasException — mirrored as bare IllegalArgumentException
    val rm = intercept[IllegalArgumentException](full.ewiseAdd(full, Ops.minus))
    assert(rm.getMessage.contains("require_monoid")) // test_matrix.py:289
    // dup_op given -> duplicates resolve instead of raising
    val ok = GrbVector.fromValues(spark, Seq((1L, 1L: Any), (1L, 2L: Any)),
      GrbType.INT64, 3L, dupAgg = Some(org.apache.spark.sql.functions.sum))
    assert(ok.toValues == Seq((1L, 3L)))
  }

  test("aggregator catalog tail: norms, logical, bitwise, index aggs (agg.* parity)") {
    val v = GrbVector.fromValues(spark,
      Seq((1L, 3L: Any), (4L, -4L: Any), (6L, 0L: Any)), GrbType.INT64, 8L)
    def red(a: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Any =
      Aggs.reduceVector(v, (c, _) => a(c)).value.get
    assert(red(Aggs.l0norm) == 2L)    // explicit zero not counted
    assert(red(Aggs.countZero) == 1L) // ...but stored-zero is counted here
    assert(red(Aggs.l1norm) == 7L)
    assert(red(Aggs.l2norm) == 5.0)   // sqrt(9 + 16 + 0)
    assert(red(Aggs.linfnorm) == 4L)
    assert(red(Aggs.prod) == 0L)
    assert(red(Aggs.exists) == true)
    assert(red(Aggs.all) == false)    // the 0 is falsy
    assert(red(Aggs.any) == true)
    assert(red(Aggs.bitwiseAny) == (3L | -4L))
    // index-aware: first/last position of a stored entry
    assert(Aggs.reduceVector(v, Aggs.firstIndex).value.get == 1L)
    assert(Aggs.reduceVector(v, Aggs.lastIndex).value.get == 6L)
    // registry resolves grblas names
    assert(Aggs.byName.contains("L2norm") && Aggs.byName.contains("logaddexp2"))
    val la2 = Aggs.reduceVector(
      GrbVector.fromValues(spark, Seq((0L, 1.0: Any), (1L, 2.0: Any)), GrbType.FP64, 2L),
      (c, _) => Aggs.byName("logaddexp2")(c)).value.get.asInstanceOf[Double]
    assert(math.abs(la2 - math.log(6.0) / math.log(2.0)) < 1e-12) // log2(2^1 + 2^2)
  }

  test("user-op registry: registration resolves by name, shadows built-ins") {
    Ops.registerUnary(UnaryOp("cube")(c => c * c * c))
    val v = GrbVector.fromValues(spark, Seq((0L, 2L: Any), (1L, -3L: Any)), GrbType.INT64, 2L)
    assert(v.apply(Ops.unary("cube")).toValues == Seq((0L, 8L), (1L, -27L)))
    assert(Ops.binary("plus").name == "plus") // built-in fallback
    intercept[NoSuchElementException](Ops.unary("no_such_op"))
  }
}
