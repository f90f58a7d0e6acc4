package graft

import graft.core._
import graft.ops.Structure
import org.apache.spark.sql.functions._

/** Fixtures from FIXTURES.md (ported from the reference's pytest
  * fixtures, tests/test_vector.py:15-79 and tests/test_matrix.py:153-168).
  * Each case also runs under multiple partitionings (chunk-layout
  * invariance, SURVEY §5.2).
  */
class CoreSpec extends SparkSpec {
  import GrbType._

  def v: GrbVector = GrbVector.fromValues(spark,
    Seq(0L -> 0L, 1L -> -20L, 2L -> 30L, 4L -> 40L, 5L -> 50L), INT64, 6)
  def w: GrbVector = GrbVector.fromValues(spark,
    Seq(0L -> 1.0, 1L -> 2.0, 3L -> 3.0, 4L -> -4.0, 5L -> 0.0), FP64, 6)
  def valMask: Mask = Mask.value(GrbVector.fromValues(spark,
    Seq(0L -> true, 1L -> false, 2L -> false, 3L -> true, 4L -> true, 5L -> false),
    BOOL, 6).df)
  def structMask: Mask = Mask.structural(GrbVector.fromValues(spark,
    Seq(0L -> false, 3L -> false, 4L -> false), BOOL, 6).df)

  // A — INT64 7×7, 12 nnz (tests/test_matrix.py:153-168)
  val aRows = Seq(3L, 0L, 3L, 5L, 6L, 0L, 6L, 1L, 6L, 2L, 4L, 1L)
  val aCols = Seq(0L, 1L, 2L, 2L, 2L, 3L, 3L, 4L, 4L, 5L, 5L, 6L)
  val aVals = Seq(3L, 2L, 3L, 1L, 5L, 3L, 7L, 8L, 3L, 1L, 7L, 4L)
  val aCells: Seq[(Long, Long, Long)] =
    aRows.lazyZip(aCols).lazyZip(aVals).map((i, j, x) => (i, j, x))
  def matA: GrbMatrix = GrbMatrix.fromValues(spark,
    aCells.map { case (i, j, x) => (i, j, x: Any) }, INT64, 7, 7)

  /** the positional semirings with their (i, k, j) index pick */
  val positional: Seq[(Semiring, (Long, Long, Long) => Long)] = Seq(
    Ops.minFirsti -> ((i, _, _) => i), Ops.minFirstj -> ((_, k, _) => k),
    Ops.minSecondi -> ((_, k, _) => k), Ops.minSecondj -> ((_, _, j) => j))

  def vecOf(g: GrbVector): Map[Long, Any] =
    g.toValues.map { case (i, x) => i -> x }.toMap
  def matOf(g: GrbMatrix): Map[(Long, Long), Any] =
    g.toValues.map { case (i, j, x) => (i, j) -> x }.toMap

  test("asMatrix / flatten / matrix contains (reference _as_matrix, _flatten)") {
    // n×1 column view: inner(v, v) through mxm over the view equals
    // the direct inner product
    val col1 = v.asMatrix
    assert(col1.nrows == 6L && col1.ncols == 1L)
    assert(matOf(col1) == vecOf(v).map { case (i, x) => (i, 0L) -> x })
    val gram = col1.transpose.mxm(col1, Ops.plusTimes) // 1×1 = Σv²
    assert(gram.toValues == Seq((0L, 0L, 0L + 400L + 900L + 1600L + 2500L)))
    // row-major flatten round-trips the COO addressing
    val f = matA.flatten
    assert(f.size == 49L)
    assert(vecOf(f) == matOf(matA).map { case ((i, j), x) => (i * 7 + j) -> x })
    assert(f.reduce(Ops.plusMonoid).value == matA.reduceScalar(Ops.plusMonoid).value)
    // matrix membership
    assert(matA.contains(3L, 0L) && !matA.contains(0L, 0L))
    // declared dtype survives the views
    val u = GrbVector.fromValues(spark, Seq((0L, 7.toShort: Any)), GrbType.UINT8, 2L)
    assert(u.asMatrix.dtype == GrbType.UINT8)
    assert(u.asMatrix.flatten.dtype == GrbType.UINT8)
  }

  test("fromValues / nvals / size / toValues ordering; empty-vs-zero") {
    val vv = v
    assert(vv.size == 6 && vv.nvals == 5)
    assert(vv.toValues == Seq(0L -> 0L, 1L -> -20L, 2L -> 30L, 4L -> 40L, 5L -> 50L))
    assert(vv.contains(0L) && !vv.contains(3L)) // value 0 present; index 3 empty
  }

  test("fromValues dup resolution via dupAgg") {
    val d = GrbVector.fromValues(spark, Seq(1L -> 5L, 1L -> 7L, 2L -> 1L), INT64, 4,
      dupAgg = Some(c => sum(c)))
    assert(vecOf(d) == Map(1L -> 12L, 2L -> 1L))
  }

  test("build on non-empty raises; bounds checked") {
    val e = GrbVector.empty(spark, INT64, 5)
    val built = GrbVector.build(e, Seq(0L -> 9L, 4L -> 2L))
    assert(vecOf(built) == Map(0L -> 9L, 4L -> 2L))
    intercept[IllegalArgumentException](GrbVector.build(built, Seq(1L -> 1L)))
    intercept[IllegalArgumentException](GrbVector.build(e, Seq(9L -> 1L)))
  }

  test("apply unary / bind scalar / positional") {
    assert(vecOf(v.apply(Ops.abs)) == Map(0L -> 0L, 1L -> 20L, 2L -> 30L, 4L -> 40L, 5L -> 50L))
    assert(vecOf(v.applyRight(Ops.plus, lit(1L))) ==
      Map(0L -> 1L, 1L -> -19L, 2L -> 31L, 4L -> 41L, 5L -> 51L))
    assert(vecOf(v.applyLeft(Ops.minus, lit(0L))) ==
      Map(0L -> 0L, 1L -> 20L, 2L -> -30L, 4L -> -40L, 5L -> -50L))
    assert(vecOf(v.applyPositional) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 4L -> 4L, 5L -> 5L))
  }

  test("ewise_mult = structural intersection") {
    val r = v.ewiseMult(w.dup(INT64), Ops.plus)
    // v: {0,1,2,4,5}; w: {0,1,3,4,5} → {0,1,4,5}
    assert(vecOf(r) == Map(0L -> 1L, 1L -> -18L, 4L -> 36L, 5L -> 50L))
  }

  test("ewise_add = structural union with pass-through") {
    val r = v.ewiseAdd(w.dup(INT64), Ops.plus)
    assert(vecOf(r) == Map(0L -> 1L, 1L -> -18L, 2L -> 30L, 3L -> 3L, 4L -> 36L, 5L -> 50L))
  }

  test("reduce: monoid fold; empty vector reduces to EMPTY scalar") {
    assert(v.reduce(Ops.plusMonoid).value.contains(100L))
    assert(v.reduce(Ops.minMonoid).value.contains(-20L))
    val e = GrbVector.empty(spark, INT64, 9)
    assert(e.reduce(Ops.plusMonoid).isEmpty) // NOT the monoid identity
  }

  test("extract: int / negative / slice / stepped slice / list with dups") {
    assert(v.extractScalar(1).value.contains(-20L))
    assert(v.extractScalar(-1).value.contains(50L))
    assert(v.extractScalar(3).isEmpty)
    // slice 1:5 → indices 1,2,3,4 → new ids 0..3
    val s = v.extract(Ix.Range(1, 5))
    assert(s.size == 4 && vecOf(s) == Map(0L -> -20L, 1L -> 30L, 3L -> 40L))
    // stepped 0:6:2 → 0,2,4
    val st = v.extract(Ix.Range(0, 6, 2))
    assert(st.size == 3 && vecOf(st) == Map(0L -> 0L, 1L -> 30L, 2L -> 40L))
    // duplicates replicate
    val d = v.extract(Ix.Seqs(Seq(0L, 5L, 5L, 1L, 2L, 0L)))
    assert(d.size == 6 &&
      vecOf(d) == Map(0L -> 0L, 1L -> 50L, 2L -> 50L, 3L -> -20L, 4L -> 30L, 5L -> 0L))
    // negative index in list
    assert(vecOf(v.extract(Ix.Seqs(Seq(-1L, 0L)))) == Map(0L -> 50L, 1L -> 0L))
  }

  test("extract via distributed index DataFrame") {
    import spark.implicits._
    val idx = Seq((0L, 4L), (1L, 0L), (2L, 3L)).toDF("pos", "idx").repartition(3)
    val r = v.extract(Ix.Dist(idx))
    assert(vecOf(r) == Map(0L -> 40L, 1L -> 0L)) // idx 3 empty in v
  }

  test("masks: structural vs value vs complement") {
    val r1 = structMask.filter(v.df, Seq("i"))
    assert(r1.collect().map(_.getLong(0)).toSet == Set(0L, 4L)) // i=3 empty in v
    val r2 = valMask.filter(v.df, Seq("i"))
    assert(r2.collect().map(_.getLong(0)).toSet == Set(0L, 4L)) // truthy at 0,3,4
    val r3 = Mask.complementValue(valMask.data).filter(v.df, Seq("i"))
    assert(r3.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
  }

  test("merge truth table: mask/accum/replace combos (SURVEY §2.9)") {
    val target = v // {0:0, 1:-20, 2:30, 4:40, 5:50}
    val result = GrbVector.fromValues(spark, Seq(0L -> 100L, 2L -> 200L, 3L -> 300L), INT64, 6)
    // no mask, no accum → result replaces
    assert(vecOf(target.accept(result, Desc())) == Map(0L -> 100L, 2L -> 200L, 3L -> 300L))
    // no mask, accum=plus → outer merge
    assert(vecOf(target.accept(result, Desc(accum = Some(Ops.plus)))) ==
      Map(0L -> 100L, 1L -> -20L, 2L -> 230L, 3L -> 300L, 4L -> 40L, 5L -> 50L))
    // value mask covers {0,3,4}, no accum, replace=false:
    //  covered: r at 0,3 → 100,300; 4 has no result → dropped; uncovered t kept
    assert(vecOf(target.accept(result, Desc(mask = Some(valMask)))) ==
      Map(0L -> 100L, 3L -> 300L, 1L -> -20L, 2L -> 30L, 5L -> 50L))
    // same with replace=true → uncovered t deleted
    assert(vecOf(target.accept(result, Desc(mask = Some(valMask), replace = true))) ==
      Map(0L -> 100L, 3L -> 300L))
    // mask + accum: covered {0,3,4}: 0→0+100, 3→300, 4→40 kept (no r); uncovered kept
    assert(vecOf(target.accept(result,
      Desc(mask = Some(valMask), accum = Some(Ops.plus)))) ==
      Map(0L -> 100L, 3L -> 300L, 4L -> 40L, 1L -> -20L, 2L -> 30L, 5L -> 50L))
    // complemented mask covers {1,2,5}
    assert(vecOf(target.accept(result,
      Desc(mask = Some(Mask.complementValue(valMask.data)), replace = true))) ==
      Map(2L -> 200L))
  }

  test("assign: scalar to slice; last-duplicate-wins; subassign mask scope") {
    val t = v
    // v[1:4] = 9 → {1,2,3} get 9
    val r = t.assign(Ix.Range(1, 4), Left(lit(9L)))
    assert(vecOf(r) == Map(0L -> 0L, 1L -> 9L, 2L -> 9L, 3L -> 9L, 4L -> 40L, 5L -> 50L))
    // vector assign with duplicate indices: LAST wins
    val rhs = GrbVector.fromValues(spark, Seq(0L -> 1L, 1L -> 2L, 2L -> 3L), INT64, 3)
    val r2 = t.assign(Ix.Seqs(Seq(5L, 5L, 0L)), Right(rhs))
    assert(vecOf(r2) == Map(0L -> 3L, 1L -> -20L, 2L -> 30L, 4L -> 40L, 5L -> 2L))
    // assign region clears region entries absent from rhs (no accum)
    val rhs2 = GrbVector.fromValues(spark, Seq(0L -> 7L), INT64, 2) // pos 1 empty
    val r3 = t.assign(Ix.Seqs(Seq(1L, 2L)), Right(rhs2))
    assert(vecOf(r3) == Map(0L -> 0L, 1L -> 7L, 4L -> 40L, 5L -> 50L)) // 2 cleared
    // accum keeps region entries not in rhs
    val r4 = t.assign(Ix.Seqs(Seq(1L, 2L)), Right(rhs2), Desc(accum = Some(Ops.plus)))
    assert(vecOf(r4) == Map(0L -> 0L, 1L -> -13L, 2L -> 30L, 4L -> 40L, 5L -> 50L))
  }

  test("GrB_assign replace deletes uncovered entries OUTSIDE the region") {
    // reference expr.py:1041-1057 — the replace-outside-region subtlety
    val t = v
    val rhs = GrbVector.fromValues(spark, Seq(0L -> 99L), INT64, 1)
    // region {0}; mask covers {0,3,4}; replace=true ⇒ entries at
    // uncovered {1,2,5} are deleted even though region is only {0}
    val r = t.assign(Ix.Seqs(Seq(0L)), Right(rhs),
      Desc(mask = Some(valMask), replace = true))
    assert(vecOf(r) == Map(0L -> 99L, 4L -> 40L))
    // subassign: mask scoped to region — outside untouched
    val r2 = t.assign(Ix.Seqs(Seq(0L)), Right(rhs),
      Desc(mask = Some(valMask), replace = true), subassign = true)
    assert(vecOf(r2) == Map(0L -> 99L, 1L -> -20L, 2L -> 30L, 4L -> 40L, 5L -> 50L))
  }

  test("reduce_assign: scatter with dup-op combine") {
    // lhs[indices] << rhs with duplicates reduced by the dup op
    val lhs = GrbVector.fromValues(spark, Seq(0L -> 10L, 1L -> 10L), INT64, 4)
    val indices = GrbVector.fromValues(spark,
      Seq(0L -> 2L, 1L -> 2L, 2L -> 3L), INT64, 3) // pos→target: 0→2, 1→2, 2→3
    val rhs = GrbVector.fromValues(spark, Seq(0L -> 5L, 1L -> 7L, 2L -> 9L), INT64, 3)
    val r = lhs.reduceAssign(indices, rhs, c => sum(c))
    // indexed-assign: region {2,3} overwritten; outside {0,1} kept
    assert(vecOf(r) == Map(0L -> 10L, 1L -> 10L, 2L -> 12L, 3L -> 9L))
    val r2 = lhs.reduceAssign(indices, rhs, c => min(c), Desc(accum = Some(Ops.min)))
    assert(vecOf(r2) == Map(0L -> 10L, 1L -> 10L, 2L -> 5L, 3L -> 9L))
  }

  test("matrix: mxm plus_times vs hand-computed; transpose; masked mxm") {
    val a = matA
    val aT = a.transpose
    assert(matOf(aT).get((1L, 0L)).contains(2L)) // A(0,1)=2
    // A @ A over plus_times — spot-check C(0,4): sum_j A(0,j)*A(j,4)
    //  A(0,1)=2,A(1,4)=8 → 16; A(0,3)=3,A(3,4)=∅ → total 16
    val c = a.mxm(a, Ops.plusTimes)
    assert(matOf(c).get((0L, 4L)).contains(16L))
    // masked mxm keeps only covered cells
    val m = Mask.structural(GrbMatrix.fromValues(spark,
      Seq((0L, 4L, true: Any)), GrbType.BOOL, 7, 7).df)
    val cm = a.mxm(a, Ops.plusTimes, Some(m))
    assert(matOf(cm) == Map((0L, 4L) -> 16L))
    // positional semirings bind (A's row, contracted k, B's col) on
    // both aggregate paths (unmasked packs (i, j), masked keeps it);
    // oracle on the driver over a 7×4 B. C(6,3) meets k = 2 and k = 4.
    val bCells = Seq((0L, 1L, 5L), (1L, 0L, 2L), (2L, 3L, 4L), (3L, 2L, 1L),
      (4L, 3L, 9L), (5L, 1L, 6L), (6L, 0L, 3L))
    val b = GrbMatrix.fromValues(spark, bCells.map { case (i, j, x) => (i, j, x: Any) },
      INT64, 7, 4)
    val covered = Set((0L, 0L), (6L, 3L), (2L, 1L), (5L, 0L))
    val pm = Mask.structural(GrbMatrix.fromValues(spark,
      covered.toSeq.map { case (i, j) => (i, j, true: Any) }, BOOL, 7, 4).df)
    for ((sr, f) <- positional) {
      val want = (for ((i, k, _) <- aCells; (k2, j, _) <- bCells if k == k2)
        yield (i, j) -> f(i, k, j)).groupMapReduce(_._1)(_._2)(math.min)
      assert(matOf(a.mxm(b, sr)) == want, sr.name)
      assert(matOf(a.mxm(b, sr, Some(pm))) == want.filter(e => covered(e._1)), sr.name)
    }
  }

  test("mxv / vxm over min_plus (shortest-path step)") {
    val a = matA
    val x = GrbVector.fromValues(spark, Seq(0L -> 0L, 2L -> 1L), INT64, 7)
    // mxv: y(i) = min_j A(i,j) + x(j); column 0: A(3,0)=3 → y(3)=3+0=3;
    // column 2: A(3,2)=3→4, A(5,2)=1→2, A(6,2)=5→6
    val y = a.mxv(x, Ops.minPlus)
    assert(vecOf(y) == Map(3L -> 3L, 5L -> 2L, 6L -> 6L))
    val yt = x.vxm(a, Ops.minPlus) // row-vector × A
    // rows 0 and 2 of A: row0: (1,2)→2,(3,3)→3 ; row2: (5,1)→2
    assert(vecOf(yt) == Map(1L -> 2L, 3L -> 3L, 5L -> 2L))
    // positional and non-commutative semirings: the column vector is
    // n×1 (secondj ≡ 0) and the right operand of mxv; the row vector
    // is 1×n (firsti ≡ 0) and the left operand of vxm
    val xs = Map(0L -> 0L, 2L -> 1L, 3L -> 5L, 5L -> -2L)
    val x2 = GrbVector.fromValues(spark, xs.toSeq.map { case (i, x) => (i, x: Any) }, INT64, 7)
    def minBy(pairs: Seq[(Long, Long)]): Map[Long, Long] =
      pairs.groupMapReduce(_._1)(_._2)(math.min)
    for ((sr, f) <- positional) {
      assert(vecOf(a.mxv(x2, sr)) ==
        minBy(for ((i, j, _) <- aCells if xs.contains(j)) yield i -> f(i, j, 0L)), sr.name)
      assert(vecOf(x2.vxm(a, sr)) ==
        minBy(for ((i, j, _) <- aCells if xs.contains(i)) yield j -> f(0L, i, j)), sr.name)
    }
    val minMinus = Semiring("min_minus", Ops.minMonoid, Ops.minus)
    assert(vecOf(a.mxv(x2, minMinus)) ==
      minBy(for ((i, j, av) <- aCells; xv <- xs.get(j)) yield i -> (av - xv)))
    assert(vecOf(x2.vxm(a, minMinus)) ==
      minBy(for ((i, j, av) <- aCells; xv <- xs.get(i)) yield j -> (xv - av)))
    assert(vecOf(a.mxv(x2, Ops.minFirst)) ==
      minBy(for ((i, j, av) <- aCells if xs.contains(j)) yield i -> av))
    assert(vecOf(x2.vxm(a, Ops.minFirst)) ==
      minBy(for ((i, j, _) <- aCells; xv <- xs.get(i)) yield j -> xv))
  }

  test("reduce rowwise/columnwise/scalar on matrix") {
    val a = matA
    assert(vecOf(a.reduceRowwise(Ops.plusMonoid)) ==
      Map(0L -> 5L, 1L -> 12L, 2L -> 1L, 3L -> 6L, 4L -> 7L, 5L -> 1L, 6L -> 15L))
    assert(vecOf(a.reduceColumnwise(Ops.maxMonoid)) ==
      Map(0L -> 3L, 1L -> 2L, 2L -> 5L, 3L -> 7L, 4L -> 8L, 5L -> 7L, 6L -> 4L))
    assert(a.reduceScalar(Ops.plusMonoid).value.contains(47L))
  }

  test("matrix extract: element, row, col, submatrix") {
    val a = matA
    assert(a.extractScalar(6, 2).value.contains(5L))
    assert(a.extractScalar(0, 0).isEmpty)
    assert(vecOf(a.extractRow(6)) == Map(2L -> 5L, 3L -> 7L, 4L -> 3L))
    assert(vecOf(a.extractCol(2)) == Map(3L -> 3L, 5L -> 1L, 6L -> 5L))
    val sub = a.extract(Ix.Seqs(Seq(0L, 6L)), Ix.Seqs(Seq(1L, 2L, 3L)))
    assert(sub.shape == (2L, 3L))
    assert(matOf(sub) == Map((0L, 0L) -> 2L, (0L, 2L) -> 3L, (1L, 1L) -> 5L, (1L, 2L) -> 7L))
  }

  test("matrix assign: submatrix, row/col band, scalar-densify guard") {
    val a = matA
    val sub = GrbMatrix.fromValues(spark, Seq((0L, 0L, 91L: Any), (1L, 1L, 92L: Any)),
      GrbType.INT64, 2, 2)
    val r = a.assign(Ix.Seqs(Seq(0L, 1L)), Ix.Seqs(Seq(0L, 1L)), Right(sub))
    val rm = matOf(r)
    assert(rm.get((0L, 0L)).contains(91L) && rm.get((1L, 1L)).contains(92L))
    assert(!rm.contains((0L, 1L))) // region cell cleared (was 2, rhs empty there)
    assert(rm.get((0L, 3L)).contains(3L)) // outside region untouched
    // row band assign
    val band = GrbVector.fromValues(spark, Seq(0L -> 70L, 6L -> 71L), GrbType.INT64, 7)
    val r2 = a.assignRow(2L, band)
    val r2m = matOf(r2)
    assert(r2m.get((2L, 0L)).contains(70L) && r2m.get((2L, 6L)).contains(71L)
      && !r2m.contains((2L, 5L)))
    intercept[IllegalArgumentException] {
      a.assign(Ix.All, Ix.All, Left(lit(1L)))
    }
  }

  test("kronecker (declared-but-unimplemented in reference; spec parity)") {
    val x = GrbMatrix.fromValues(spark, Seq((0L, 0L, 1L: Any), (1L, 1L, 2L: Any)),
      GrbType.INT64, 2, 2)
    val y = GrbMatrix.fromValues(spark, Seq((0L, 1L, 10L: Any)), GrbType.INT64, 2, 2)
    val k = x.kronecker(y, Ops.times)
    assert(k.shape == (4L, 4L))
    assert(matOf(k) == Map((0L, 1L) -> 10L, (2L, 3L) -> 20L))
  }

  test("diag: vector→matrix k-th diagonal and matrix→vector") {
    val d = GrbVector.fromValues(spark, Seq(0L -> 1L, 2L -> 3L), GrbType.INT64, 3)
    val m0 = Structure.diagMatrix(d)
    assert(matOf(m0) == Map((0L, 0L) -> 1L, (2L, 2L) -> 3L))
    val m1 = Structure.diagMatrix(d, 1)
    assert(m1.shape == (4L, 4L) && matOf(m1) == Map((0L, 1L) -> 1L, (2L, 3L) -> 3L))
    val mneg = Structure.diagMatrix(d, -1)
    assert(matOf(mneg) == Map((1L, 0L) -> 1L, (3L, 2L) -> 3L))
    assert(vecOf(Structure.diagVector(m1, 1)) == Map(0L -> 1L, 2L -> 3L))
    assert(vecOf(Structure.diagVector(matA)) == Map.empty[Long, Any])
  }

  test("concat / stacks / resize") {
    val a = GrbVector.fromValues(spark, Seq(0L -> 1L), GrbType.INT64, 2)
    val b = GrbVector.fromValues(spark, Seq(1L -> 2L), GrbType.INT64, 3)
    val c = Structure.concatVectors(Seq(a, b))
    assert(c.size == 5 && vecOf(c) == Map(0L -> 1L, 3L -> 2L))
    val shrunk = v.resize(3)
    assert(shrunk.size == 3 && vecOf(shrunk) == Map(0L -> 0L, 1L -> -20L, 2L -> 30L))
    val grown = v.resize(10)
    assert(grown.size == 10 && grown.nvals == 5)
    val m = matA
    val stacked = Structure.rowStack(Seq(m, m))
    assert(stacked.shape == (14L, 7L) && stacked.nvals == 24)
    val side = Structure.columnStack(Seq(m, m))
    assert(side.shape == (7L, 14L) && side.nvals == 24)
  }

  test("isequal / isclose") {
    assert(v.isequal(v.dup()))
    assert(!v.isequal(w.dup(GrbType.INT64)))
    assert(!v.isequal(v.resize(7))) // size matters
    val w2 = w.applyRight(Ops.plus, lit(1e-12))
    assert(w.isclose(w2, relTol = 1e-7, absTol = 1e-9))
    assert(!w.isequal(w2))
  }

  test("inner / outer products") {
    val r = v.inner(v, Ops.plusTimes)
    assert(r.value.contains(0L + 400L + 900L + 1600L + 2500L))
    val o = v.outer(v, Ops.times)
    assert(o.shape == (6L, 6L) && o.nvals == 25)
  }

  test("selectOp extension + value-mask filtering parity") {
    assert(vecOf(v.selectOp(_ > 0)) == Map(2L -> 30L, 4L -> 40L, 5L -> 50L))
  }

  test("dtype promotion and dup cast") {
    assert(GrbType.promote(GrbType.INT32, GrbType.FP64) == GrbType.FP64)
    val cast = v.dup(GrbType.FP64)
    assert(cast.dtype == GrbType.FP64 && cast.nvals == 5)
  }

  test("chunk-layout invariance: results independent of partitioning") {
    for (parts <- Seq(1, 3, 7)) {
      val vp = new GrbVector(v.df.repartition(parts), 6)
      val wp = new GrbVector(w.df.repartitionByRange(math.max(parts, 1), col("i")), 6)
      assert(vecOf(vp.ewiseAdd(wp.dup(GrbType.INT64), Ops.plus)) ==
        Map(0L -> 1L, 1L -> -18L, 2L -> 30L, 3L -> 3L, 4L -> 36L, 5L -> 50L))
      val ap = new GrbMatrix(matA.df.repartition(parts), 7, 7)
      assert(vecOf(ap.mxv(GrbVector.fromValues(spark, Seq(0L -> 0L, 2L -> 1L), GrbType.INT64, 7),
        Ops.minPlus)) == Map(3L -> 3L, 5L -> 2L, 6L -> 6L))
    }
  }

  test("tril/triu selects (GxB_select analogues)") {
    val m = GrbMatrix.fromValues(spark,
      Seq((0L, 0L, 1L: Any), (0L, 2L, 2L: Any), (2L, 0L, 3L: Any), (1L, 1L, 4L: Any)),
      GrbType.INT64, 3L, 3L)
    val lo = graft.ops.Structure.tril(m).toValues.map(t => (t._1, t._2)).toSet
    assert(lo == Set((0L, 0L), (2L, 0L), (1L, 1L)))
    val up = graft.ops.Structure.triu(m, 1L).toValues.map(t => (t._1, t._2)).toSet
    assert(up == Set((0L, 2L)))
  }
}
