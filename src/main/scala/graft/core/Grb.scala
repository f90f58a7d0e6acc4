package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Index grammar for extract/assign — reference IndexerResolver,
  * dask_grblas/expr.py:422-563: int (incl. negative), slice with step,
  * index list (duplicates allowed), distributed index array, Ellipsis.
  */
sealed trait Ix
object Ix {
  /** single index; negative normalized against dimension */
  final case class At(n: Long) extends Ix
  /** python-style slice [start, stop) with step (stop exclusive) */
  final case class Range(start: Long, stop: Long, step: Long = 1L) extends Ix
  /** explicit index list — order- and duplicate-preserving */
  final case class Seqs(ix: Seq[Long]) extends Ix
  /** distributed index array: DataFrame[(pos: Long, idx: Long)] —
    * first-class, matching da.Array indices (expr.py:491-496)
    */
  final case class Dist(df: DataFrame) extends Ix
  /** the full axis (Ellipsis / `:`) */
  case object All extends Ix

  def normalize(ix: Ix, dim: Long): Ix = ix match {
    case At(n) if n < 0 => At(n + dim)
    case Range(a, b, s) =>
      Range(if (a < 0) a + dim else a, if (b < 0) b + dim else math.min(b, dim), s)
    case Seqs(xs) => Seqs(xs.map(n => if (n < 0) n + dim else n))
    case other => other
  }

  /** materialize an index as DataFrame[(pos, idx)]: pos = position in
    * the extracted/assigned region, idx = global index. All-Spark; no
    * driver loops (Range via spark.range).
    */
  def toDF(spark: SparkSession, ix: Ix, dim: Long): DataFrame = {
    import spark.implicits._
    normalize(ix, dim) match {
      case At(n)  => Seq((0L, n)).toDF("pos", "idx")
      case All    => spark.range(dim).select(col("id").as("pos"), col("id").as("idx"))
      case Range(a, b, s) =>
        val len = math.max(0L, if (s > 0) (b - a + s - 1) / s else (a - b - s - 1) / (-s))
        spark.range(len).select(col("id").as("pos"), (lit(a) + col("id") * lit(s)).as("idx"))
      case Seqs(xs) => xs.zipWithIndex.map { case (n, p) => (p.toLong, n) }.toDF("pos", "idx")
      case Dist(df) => df.select(col("pos").cast(LongType), col("idx").cast(LongType))
    }
  }

  def length(ix: Ix, dim: Long): Option[Long] = normalize(ix, dim) match {
    case At(_) => Some(1L)
    case All => Some(dim)
    case Range(a, b, s) =>
      Some(math.max(0L, if (s > 0) (b - a + s - 1) / s else (a - b - s - 1) / (-s)))
    case Seqs(xs) => Some(xs.length.toLong)
    case Dist(_) => None // unknown without a count; caller may supply
  }

  /** region-membership predicate on an index column, when expressible
    * as a pure filter — All/At/Range/modest Seqs. Lets extract/assign
    * skip the (pos, idx) join entirely: at 10^11-dim collections a
    * `spark.range(dim)` build side for a no-op region is a scale
    * killer (round-1 verdict items 3-4).
    */
  def predicate(ix: Ix, c: Column, dim: Long): Option[Column] = normalize(ix, dim) match {
    case All    => Some(lit(true))
    case At(n)  => Some(c === n)
    case Range(a, b, s) =>
      if (s > 0) Some(c >= a && c < b && (c - a) % s === 0)
      else Some(c <= a && c > b && (c - a) % s === 0)
    case Seqs(xs) if xs.length <= 10000 => Some(c.isin(xs: _*))
    case _ => None
  }

  /** map a global index column to its position within the region —
    * inverse of the (pos → idx) mapping, valid for rows that satisfy
    * `predicate`. Defined for All/At/Range only.
    */
  def position(ix: Ix, c: Column, dim: Long): Option[Column] = normalize(ix, dim) match {
    case All => Some(c)
    case At(_) => Some(lit(0L))
    case Range(a, _, s) =>
      // integer division (IntegralDivide), not double `/` + cast: the
      // float path is only exact while (c - start) < 2^53
      Some(call_function("div", c - lit(a), lit(s)))
    case _ => None
  }
}

/** 0-dim possibly-empty scalar (reference dask_grblas/scalar.py:52-231).
  * Lazy: the DataFrame has 0 or 1 rows, single column `v`; `.value`
  * materializes once and caches (scalar.py:120-136 — PythonScalar
  * compute-on-demand; SURVEY §7.4 hard part 8).
  */
final class GrbScalar(val df: DataFrame,
    private[core] val declared: Option[GrbType] = None) {
  /** UINT64 semantics come from the owning session's conf, resolved
    * fresh at each op build — see [[Grb.Uint64ModeKey]]
    */
  private implicit def u64m: Grb.U64Mode = Grb.u64Mode(df.sparkSession)
  lazy val value: Option[Any] = df.limit(1).collect().headOption.map(_.get(0))
  def isEmpty: Boolean = value.isEmpty
  def nvals: Long = if (isEmpty) 0L else 1L
  /** `declared` mirrors GrbVector/GrbMatrix: unsigned dtypes share a
    * physical type with wider signed ints, so a UINT scalar produced by
    * a domain-preserving reduce must keep its label explicitly.
    */
  def dtype: GrbType =
    declared.getOrElse(GrbType.fromSpark(df.schema("v").dataType))
  def boolValue: Boolean = value.exists {
    case b: Boolean => b
    case n: Number  => n.doubleValue() != 0.0
  }
  def dup(dtype: GrbType): GrbScalar =
    new GrbScalar(df.select(Grb.castTo(col("v"), dtype).as("v")), Some(dtype))

  /** `-s` (reference scalar.py:138-142) — empty stays empty */
  def neg: GrbScalar =
    new GrbScalar(df.select((-col("v")).cast(df.schema("v").dataType).as("v")),
      declared)

  /** `~s` boolean-not (reference scalar.py:143-146) */
  def invert: GrbScalar =
    new GrbScalar(df.select((!col("v").cast(BooleanType)).as("v")))

  /** merge a result scalar into this one with an accumulator — the
    * scalar arm of the §2.9 truth table (reference _reduce_accum,
    * dask_grblas/expr.py:1901-1915): both present → accum(t, r), one
    * present → it, neither → empty. Output domain = this scalar's dtype.
    */
  def merge(r: GrbScalar, accum: Option[BinaryOp]): GrbScalar = accum match {
    case None => r.dup(dtype)
    case Some(acc) =>
      val outType = df.schema("v").dataType
      val t = df.select(lit(1).as("_k"), col("v").as("_tv"))
      val rr = r.df.select(lit(1).as("_k"), col("v").as("_rv"))
      new GrbScalar(t.join(rr, Seq("_k"), "full_outer")
        .select(when(col("_tv").isNotNull && col("_rv").isNotNull,
          Grb.castToType(Grb.accumOp(acc, col("_tv"), col("_rv"), outType), outType))
          .otherwise(Grb.castToType(coalesce(col("_rv"), col("_tv")), outType)).as("v"))
        .filter(col("v").isNotNull), declared)
  }
}

object GrbScalar {
  def fromValue(spark: SparkSession, v: Any, dtype: GrbType): GrbScalar = {
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    val schema = StructType(Seq(StructField("v", Grb.store(dtype), nullable = false)))
    new GrbScalar(spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(Grb.hostValue(v, dtype))),
      schema), Some(dtype))
  }
  def empty(spark: SparkSession, dtype: GrbType): GrbScalar = {
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    val schema = StructType(Seq(StructField("v", Grb.store(dtype), nullable = false)))
    new GrbScalar(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      Some(dtype))
  }
}

/** 1-dim sparse vector: COO DataFrame[(i: Long, v: T)] + logical size.
  * Reference: dask_grblas/vector.py:77-200. Absence = missing row,
  * never NULL (SURVEY §1.4).
  *
  * `declared`: the GraphBLAS dtype when it cannot be re-derived from
  * the Spark schema — Spark has no unsigned types, so UINT8/16/32/64
  * share physical types with wider signed ints; without the declared
  * dtype a dup()'d UINT8 vector would silently report INT16. Carried
  * through structure-preserving ops; value-producing ops re-derive
  * from the (signed) schema — a documented deviation.
  */
final class GrbVector(val df: DataFrame, val size: Long,
    private[core] val declared: Option[GrbType] = None) {
  import GrbVector.KEYS

  def spark: SparkSession = df.sparkSession
  /** UINT64 semantics come from the owning session's conf, resolved
    * fresh at each op build — see [[Grb.Uint64ModeKey]]
    */
  private implicit def u64m: Grb.U64Mode = Grb.u64Mode(df.sparkSession)
  def dtype: GrbType =
    declared.getOrElse(GrbType.fromSpark(df.schema("v").dataType))
  lazy val nvals: Long = df.count()
  /** nvals as a LAZY 1-row scalar — the distributed-friendly form of
    * `nvals` (no driver action until the scalar is consumed).
    */
  def nvalsScalar: GrbScalar =
    new GrbScalar(df.agg(
      org.apache.spark.sql.functions.count(lit(1)).cast(LongType).as("v")))

  /** reference base.py:112-136: deep copy w/ optional cast + mask.
    * DataFrames are immutable so the copy is free.
    */
  def dup(dtype: GrbType = dtype, mask: Option[Mask] = None): GrbVector = {
    val d0 = mask.fold(df)(_.filter(df, KEYS))
    new GrbVector(d0.select(col("i"), Grb.castTo(col("v"), dtype).as("v")),
      size, Some(dtype))
  }

  def clear: GrbVector = GrbVector.empty(spark, dtype, size)

  /** metadata-only when growing; filter when shrinking
    * (vector.py:236-270)
    */
  def resize(newSize: Long): GrbVector =
    new GrbVector(if (newSize >= size) df else df.filter(col("i") < newSize),
      newSize, declared)

  // ---- element-wise apply (vector.py:430-442) ----
  private def keepType(preserve: Boolean, c: Column): Column =
    if (preserve) Grb.castTo(c, dtype) else c

  private def carried(preserve: Boolean): Option[GrbType] =
    if (preserve) declared else None

  /** declared label of an apply result: kept when the op preserves the
    * domain, or — with unsigned tracking in play — when the output's
    * physical type still equals this dtype's representation (the same
    * rule promotedDeclared applies to ewise results, so
    * apply(plus, 1) on UINT64 keeps the label exactly like ewise_add)
    */
  private def carriedOut(preserve: Boolean, out: DataFrame): Option[GrbType] =
    if (preserve) declared
    else if (declared.nonEmpty && Grb.reprMatches(out.schema("v").dataType, dtype)) declared
    else None

  def apply(op: UnaryOp): GrbVector = {
    val outDF = df.select(col("i"), keepType(op.preserve, op(col("v"))).as("v"))
    val d = carriedOut(op.preserve, outDF)
    new GrbVector(Grb.uintGuard(outDF, d), size, d)
  }
  def applyLeft(op: BinaryOp, left: Column): GrbVector = {
    val outDF = df.select(col("i"),
      keepType(op.preserve, Grb.binOp(op, left, col("v"), dtype)).as("v"))
    val d = carriedOut(op.preserve, outDF)
    new GrbVector(Grb.uintGuard(outDF, d), size, d)
  }
  def applyRight(op: BinaryOp, right: Column): GrbVector = {
    val outDF = df.select(col("i"),
      keepType(op.preserve, Grb.binOp(op, col("v"), right, dtype)).as("v"))
    val d = carriedOut(op.preserve, outDF)
    new GrbVector(Grb.uintGuard(outDF, d), size, d)
  }
  /** bind a LAZY scalar as the right operand (reference: lazy Scalar in
    * apply, tests/test_vector.py:269-369) — broadcast crossJoin with the
    * ≤1-row scalar frame, no driver materialization.
    *
    * Documented deviation: grblas raises eagerly on an EMPTY scalar
    * operand; a lazy engine cannot without forcing a job, so an empty
    * scalar yields an empty result instead (the crossJoin with a
    * 0-row frame).
    */
  def applyRightScalar(op: BinaryOp, s: GrbScalar): GrbVector =
    new GrbVector(df.crossJoin(broadcast(s.df.select(col("v").as("_sv"))))
      .select(col("i"),
        keepType(op.preserve, Grb.binOp(op, col("v"), col("_sv"), dtype)).as("v")), size)
  def applyLeftScalar(op: BinaryOp, s: GrbScalar): GrbVector =
    new GrbVector(df.crossJoin(broadcast(s.df.select(col("v").as("_sv"))))
      .select(col("i"),
        keepType(op.preserve, Grb.binOp(op, col("_sv"), col("v"), dtype)).as("v")), size)
  /** positional op: value = index (unary.positioni etc.) */
  def applyPositional: GrbVector = new GrbVector(df.select(col("i"), col("i").as("v")), size)

  /** GrB_select-alike extension (reference has none; masks play the
    * role — SURVEY §2.2): keep entries where predicate on value holds.
    */
  def selectOp(pred: Column => Column): GrbVector =
    new GrbVector(df.filter(pred(col("v"))), size, declared)

  // ---- element-wise joins (SURVEY §2.4) ----
  /** declared dtype of an ewise result: the GraphBLAS-promoted type
    * when the op preserves the domain, or — with unsigned tracking in
    * play — when the output's physical type already equals the
    * promoted type's representation (e.g. UINT8+UINT8 stays short).
    */
  private def promotedDeclared(other: GrbVector, preserve: Boolean,
      outDF: DataFrame): Option[GrbType] = {
    val promoted = GrbType.promote(dtype, other.dtype)
    if (preserve) Some(promoted)
    else if ((declared.nonEmpty || other.declared.nonEmpty) &&
        Grb.reprMatches(outDF.schema("v").dataType, promoted)) Some(promoted)
    else None
  }

  /** intersection of structures (vector.py:365-368) */
  def ewiseMult(other: GrbVector, op: BinaryOp): GrbVector = {
    if (size != other.size) GraphblasException.dimensionMismatch(
      s"ewise_mult sizes $size vs ${other.size}")
    val b = other.df.select(col("i"), col("v").as("_bv"))
    val promoted = GrbType.promote(dtype, other.dtype)
    val out = Grb.binOp(op, col("v"), col("_bv"), promoted)
    val outC = if (op.preserve) Grb.castTo(out, promoted) else out
    val outDF = df.join(b, KEYS).select(col("i"), outC.as("v"))
    val pd = promotedDeclared(other, op.preserve, outDF)
    new GrbVector(Grb.uintGuard(outDF, pd), size, pd)
  }

  /** union of structures; op where both present (vector.py:360-363).
    * Pass-through values are cast to the op's output dtype — grblas
    * supports comparison ops in ewise_add by casting the one-sided
    * values to BOOL, and Spark's when/otherwise needs type-compatible
    * branches.
    *
    * `requireMonoid` (reference vector.py:360-363): ewise_add with a
    * plain binary op that extends to no monoid (e.g. minus) is almost
    * always a bug — the one-sided pass-through silently changes the
    * op's meaning; refuse unless explicitly overridden.
    */
  def ewiseAdd(other: GrbVector, op: BinaryOp,
      requireMonoid: Boolean = true): GrbVector = {
    // message pins the reference's asserted phrasing: the suite catches
    // TypeError matching "require_monoid" (tests/from_grblas/test_matrix.py:289)
    require(!requireMonoid || Ops.isMonoidal(op),
      s"op '${op.name}' is not a Monoid and require_monoid=True " +
        "(pass requireMonoid = false to allow it)")
    if (size != other.size) GraphblasException.dimensionMismatch(
      s"ewise_add sizes $size vs ${other.size}")
    val a = df.select(col("i"), col("v").as("_av"))
    val b = other.df.select(col("i"), col("v").as("_bv"))
    val joined = a.join(b, KEYS, "full_outer")
    val promoted = GrbType.promote(dtype, other.dtype)
    val out = Grb.binOp(op, col("_av"), col("_bv"), promoted)
    val outC = if (op.preserve) Grb.castTo(out, promoted) else out
    // analysis-only probe for the op's output type (no job is run)
    val outType = joined.select(outC.as("_t")).schema("_t").dataType
    val outDF = joined.select(col("i"),
      when(col("_av").isNotNull && col("_bv").isNotNull, outC)
        .otherwise(coalesce(col("_av"), col("_bv")).cast(outType)).as("v"))
    val pd = promotedDeclared(other, op.preserve, outDF)
    new GrbVector(Grb.uintGuard(outDF, pd), size, pd)
  }

  // ---- products (SURVEY §2.5) ----
  /** row-vector × matrix (vector.py:423-428): join on this.i == A.i,
    * group by A.j. Semiring add monoid folds the contracted axis —
    * Spark's two-phase hash agg is the reference's block-tree reduction.
    */
  def vxm(a: GrbMatrix, sr: Semiring, broadcastSelf: Boolean = false): GrbVector = {
    if (size != a.nrows) GraphblasException.dimensionMismatch(
      s"vxm size $size vs nrows ${a.nrows}")
    val self0 = df.select(col("i"), col("v").as("_xv"))
    val self = if (broadcastSelf && size <= Grb.broadcastGuard(df.sparkSession)) broadcast(self0) else self0
    // positional mult: the row vector is 1×n, so firsti ≡ 0, firstj ≡
    // the contracted index (this vector's i)
    val mult = sr.positional match {
      case Some(pf) => pf(lit(0L), col("i"), col("j"))
      case None =>
        val promoted = GrbType.promote(dtype, a.dtype)
        val p = Grb.binOp(sr.mult, col("_xv"), col("v"), promoted)
        if (sr.mult.preserve) Grb.castTo(p, promoted) else p
    }
    val prod = a.df.join(self, KEYS).select(col("j").as("i"), mult.as("_p"))
    val agged = sr.add.agg(col("_p"))
    val aggC = if (sr.add.preserve) Grb.castToType(agged, prod.schema("_p").dataType) else agged
    val out = prod.groupBy("i").agg(aggC.as("v"))
    val pd = Grb.srDeclared(dtype, declared, a.dtype, a.declared, sr, out)
    new GrbVector(Grb.uintGuard(out, pd), a.ncols, pd)
  }

  /** dot product (vector.py:371-392 declares `inner` as a stub; cheap
    * for us: intersection join + global fold)
    */
  def inner(other: GrbVector, sr: Semiring): GrbScalar =
    // reduce applies the monoid's preserve cast + the UINT64 guard,
    // so the wide store stays wrapped/labeled through the fold
    ewiseMult(other, sr.mult).reduce(sr.add)

  /** outer product (vector.py:394-421 stub) */
  def outer(other: GrbVector, op: BinaryOp): GrbMatrix = {
    val b = other.df.select(col("i").as("j"), col("v").as("_bv"))
    val promoted = GrbType.promote(dtype, other.dtype)
    val out = Grb.binOp(op, col("v"), col("_bv"), promoted)
    val outC = if (op.preserve) Grb.castTo(out, promoted) else out
    val outDF = df.crossJoin(b).select(col("i"), col("j"), outC.as("v"))
    val pd = promotedDeclared(other, op.preserve, outDF)
    new GrbMatrix(Grb.uintGuard(outDF, pd), size, other.size, pd)
  }

  // ---- reductions (SURVEY §2.6) ----
  /** fold over present values; EMPTY input → EMPTY scalar, not the
    * monoid identity (expr.py:196-206; SURVEY §7.4 hard part 4) —
    * the isNotNull filter implements that guard.
    */
  def reduce(m: Monoid): GrbScalar = {
    val agged = m.agg(col("v"))
    val aggC = if (m.preserve) Grb.castTo(agged, dtype) else agged
    new GrbScalar(Grb.uintGuard(
      df.agg(aggC.as("v")).filter(col("v").isNotNull), carried(m.preserve)),
      carried(m.preserve))
  }

  /** reduce with accum into an existing target Scalar (reference
    * expr.py:293-339 + _reduce_accum expr.py:1901-1915)
    */
  def reduceInto(target: GrbScalar, m: Monoid, accum: Option[BinaryOp]): GrbScalar =
    target.merge(reduce(m), accum)

  def count: Long = nvals

  // ---- extract (SURVEY §2.3) ----
  def extractScalar(n: Long): GrbScalar = {
    val nn = if (n < 0) n + size else n
    new GrbScalar(df.filter(col("i") === nn).select(col("v")), declared)
  }

  /** extract with a LAZY Scalar as the index (reference
    * expr.py:498-504) — the index value never touches the driver.
    */
  def extractAt(s: GrbScalar): GrbScalar = {
    val ix0 = s.df.select(col("v").cast(LongType).as("_ix"))
    val ix = ix0.select(when(col("_ix") < 0, col("_ix") + size).otherwise(col("_ix")).as("_ix"))
    new GrbScalar(df.join(broadcast(ix), col("i") === col("_ix")).select(col("v")))
  }

  /** `w << v[index]`: order- and duplicate-preserving gather.
    * All → identity; Range → filter + arithmetic reindex (no join; a
    * `spark.range(10^11)` build side for a no-op was round-1's top
    * scale hazard); At/Seqs/Dist → join against the (pos, idx) mapping
    * (replaces the reference's data×index chunk meshpoint machinery,
    * expr.py:1108-1245). `sizeHint` supplies the Dist index length so
    * callers in loops (FastSV) skip a count() action per call.
    */
  def extract(ix: Ix, inputMask: Option[Mask] = None, sizeHint: Long = -1L): GrbVector = {
    val src = inputMask.fold(df)(_.filter(df, KEYS))
    Ix.normalize(ix, size) match {
      case Ix.All => new GrbVector(src, size, declared)
      case r @ Ix.Range(_, _, _) =>
        val pred = Ix.predicate(r, col("i"), size).get
        val pos = Ix.position(r, col("i"), size).get
        new GrbVector(src.filter(pred).select(pos.as("i"), col("v")),
          Ix.length(r, size).get, declared)
      case norm =>
        val idx = Ix.toDF(spark, norm, size)
        val newSize = Ix.length(norm, size)
          .getOrElse(if (sizeHint >= 0) sizeHint else idx.count())
        val joined = src.join(idx.withColumnRenamed("idx", "i"), KEYS)
          .select(col("pos").as("i"), col("v"))
        new GrbVector(joined, newSize, declared)
    }
  }

  // ---- assign (SURVEY §2.7) ----
  /** C(mask, accum, replace)[idx] << obj  (GrB_assign) and
    * C[idx](mask, accum, replace) << obj  (GxB_subassign, mask scoped
    * to the region). One recipe (expr.py:1506-1785 collapsed):
    *   1. Z_region = region-merge of newVals into C's region (accum)
    *   2. Z        = outside ∪ Z_region
    *   3. C'       = mask-merge(C, Z) — full-frame for assign,
    *                 region-scoped for subassign.
    * Duplicate indices: LAST wins (expr.py:1463-1499 _uniquify).
    */
  def assign(ix: Ix, value: Either[Column, GrbVector], desc: Desc = Desc.plain,
      subassign: Boolean = false): GrbVector = {
    val norm = Ix.normalize(ix, size)
    val pred = Ix.predicate(norm, col("i"), size)
    // last-duplicate-wins on the global index: keep value at max pos
    // (expr.py:1463-1499 _uniquify); only list/distributed indices can
    // carry duplicates — All/Range/At skip the dedup aggregate
    lazy val idxU = norm match {
      case Ix.All | Ix.Range(_, _, _) | Ix.At(_) => Ix.toDF(spark, norm, size)
      case _ => Ix.toDF(spark, norm, size).groupBy("idx").agg(max(col("pos")).as("pos"))
    }
    lazy val regionKeys = idxU.select(col("idx").as("i"))
    val newVals: DataFrame = value match {
      case Left(s) =>
        // a scalar fill of a region is dense by definition; when a
        // non-complemented mask is present only mask-covered keys can
        // survive the merge, so enumerate those instead of the region
        val keysDF = desc.mask match {
          case Some(m) if !m.complement =>
            val mk = m.coveredKeys(KEYS)
            pred.map(p => mk.filter(p))
              .getOrElse(mk.join(regionKeys, KEYS, "left_semi"))
          case _ => regionKeys
        }
        keysDF.select(col("i"), s.as("v"))
      case Right(vec) =>
        // grblas raises DimensionMismatch when the value's shape is
        // not the region's shape — also what keeps the arithmetic
        // reindex below from writing outside the region
        Ix.length(norm, size).foreach(len =>
          if (vec.size != len) GraphblasException.dimensionMismatch(
            s"assign value size ${vec.size} vs region $len"))
        norm match {
          // All/Range: arithmetic reindex, no join
          case Ix.All => vec.df
          case Ix.Range(a, _, s) =>
            vec.df.select((lit(a) + col("i") * lit(s)).as("i"), col("v"))
          case _ =>
            vec.df.join(idxU.withColumnRenamed("pos", "i"), KEYS)
              .select(col("idx").as("i"), col("v"))
        }
    }
    val inside = pred.map(df.filter).getOrElse(df.join(regionKeys, KEYS, "left_semi"))
    val outside = pred.map(p => df.filter(!p)).getOrElse(df.join(regionKeys, KEYS, "left_anti"))
    if (subassign) {
      // mask/replace confined to the region (expr.py:1446-1452)
      val zRegion = Merge(inside, newVals, KEYS, desc)
      new GrbVector(outside.unionByName(zRegion), size)
    } else {
      val zRegion = desc.accum match {
        case None      => newVals
        case Some(acc) => Merge.outerAccum(inside, newVals, KEYS, acc)
      }
      val z = outside.unionByName(zRegion)
      // full-frame mask merge; accum already applied in step 1
      // (replace deletes uncovered entries even OUTSIDE the region —
      //  expr.py:1041-1057)
      val out = Merge(df, z, KEYS, Desc(desc.mask, None, desc.replace))
      new GrbVector(out, size)
    }
  }

  /** scatter-with-combine `lhs[indices] << rhs` where duplicate target
    * indices are REDUCED by dupOp (reference reduce_assign,
    * expr.py:697-776 — implemented there via a CSC selection-matrix
    * trick because Dask lacks shuffles; Spark's groupBy IS the shuffle).
    * first/last = min/max over (pos, v) structs.
    */
  def reduceAssign(indices: GrbVector, rhs: GrbVector, dupAgg: Column => Column,
      desc: Desc = Desc.plain): GrbVector = {
    val tgt = indices.df.select(col("i").as("pos"), col("v").cast(LongType).as("i"))
    val scattered = rhs.df.withColumnRenamed("i", "pos").join(tgt, Seq("pos"))
      .groupBy("i").agg(dupAgg(col("v")).as("v"))
    // indexed-assign semantics: region = target indices; outside kept
    val regionKeys = tgt.select("i").distinct()
    val inside = df.join(regionKeys, KEYS, "left_semi")
    val outside = df.join(regionKeys, KEYS, "left_anti")
    val zRegion = desc.accum match {
      case None      => scattered
      case Some(acc) => Merge.outerAccum(inside, scattered, KEYS, acc)
    }
    val z = outside.unionByName(zRegion)
    new GrbVector(Merge(df, z, KEYS, Desc(desc.mask, None, desc.replace)), size)
  }

  def del(n: Long): GrbVector = {
    val nn = if (n < 0) n + size else n
    new GrbVector(df.filter(col("i") =!= nn), size, declared)
  }

  def contains(n: Long): Boolean = !df.filter(col("i") === n).isEmpty

  /** n×1 column-matrix view (reference vector.py `_as_matrix` — the
    * bridge inner/outer/vxm build on). Zero-shuffle projection.
    */
  def asMatrix: GrbMatrix =
    new GrbMatrix(df.select(col("i"), lit(0L).as("j"), col("v")),
      size, 1L, declared)

  // ---- equality (base.py:35-92) ----
  def isequal(other: GrbVector, checkDtype: Boolean = false): Boolean = {
    if (size != other.size) return false
    if (checkDtype && dtype != other.dtype) return false
    isequalScalar(other).boolValue
  }

  /** isequal as a LAZY 1-row boolean scalar: same-structure,
    * same-values full-outer comparison folded to a count of
    * mismatches, with the metadata (size/dtype) comparison baked in as
    * a literal — lets equality participate in lazy pipelines and be
    * driver-verified as a query.
    */
  def isequalScalar(other: GrbVector, checkDtype: Boolean = false): GrbScalar = {
    val meta = size == other.size && (!checkDtype || dtype == other.dtype)
    val a = df.select(col("i"), col("v").as("_av"))
    val b = other.df.select(col("i"), col("v").as("_bv"))
    val mismatches = a.join(b, KEYS, "full_outer")
      .filter(col("_av").isNull || col("_bv").isNull || col("_av") =!= col("_bv"))
    new GrbScalar(mismatches.agg(
      (org.apache.spark.sql.functions.count(lit(1)) === 0 && lit(meta)).as("v")))
  }

  def isclose(other: GrbVector, relTol: Double = 1e-7, absTol: Double = 0.0): Boolean =
    size == other.size && iscloseScalar(other, relTol, absTol).boolValue

  /** isclose as a LAZY 1-row boolean scalar — the tolerance sibling of
    * isequalScalar (base.py:35-92): same structure and
    * |a−b| ≤ atol + rtol·|b| per key, folded to one mismatch count.
    * The predicate is IEEE-deterministic (fixed operand order), so an
    * external engine reproduces the boolean bit-for-bit.
    */
  def iscloseScalar(other: GrbVector, relTol: Double = 1e-7, absTol: Double = 0.0): GrbScalar = {
    val meta = size == other.size
    val a = df.select(col("i"), col("v").cast(DoubleType).as("_av"))
    val b = other.df.select(col("i"), col("v").cast(DoubleType).as("_bv"))
    val mismatches = a.join(b, KEYS, "full_outer")
      .filter(col("_av").isNull || col("_bv").isNull ||
        abs(col("_av") - col("_bv")) > lit(absTol) + lit(relTol) * abs(col("_bv")))
    new GrbScalar(mismatches.agg(
      (org.apache.spark.sql.functions.count(lit(1)) === 0 && lit(meta)).as("v")))
  }

  /** merge an operation result into this collection under a descriptor —
    * the `C(mask, accum, replace) << expr` write path.
    */
  def accept(result: GrbVector, desc: Desc): GrbVector =
    new GrbVector(Merge(df, result.df, KEYS, desc), size, declared)

  /** globally ordered COO extraction (vector.py:506-548) */
  def toValues: Seq[(Long, Any)] =
    df.orderBy("i").collect().toSeq.map(r => (r.getLong(0), r.get(1)))

  /** lineage checkpoint for iterative algorithms (base.py:345-346
    * persist; SURVEY §3.4) — cache + localCheckpoint truncates the plan.
    */
  def persist(): GrbVector = new GrbVector(df.localCheckpoint(true), size, declared)

  def repartitionByIndex(n: Int): GrbVector =
    new GrbVector(df.repartitionByRange(n, col("i")), size, declared)
}

object GrbVector {
  val KEYS: Seq[String] = Seq("i")

  def empty(spark: SparkSession, dtype: GrbType, size: Long): GrbVector = {
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    val schema = StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("v", Grb.store(dtype), nullable = false)))
    new GrbVector(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      size, Some(dtype))
  }

  /** build from (index, value) pairs with optional dup-resolution
    * (vector.py:100-160): dupAgg combines duplicate indices; absent →
    * duplicates are an error. size: explicit, or 1+max(i).
    */
  def fromValues(spark: SparkSession, pairs: Seq[(Long, Any)], dtype: GrbType,
      size: Long = -1L, dupAgg: Option[Column => Column] = None): GrbVector = {
    // reference-pinned phrasings (tests/from_grblas/test_vector.py:66,73)
    if (pairs.isEmpty && size < 0) throw new GraphblasException(
      "No indices provided. Unable to infer size.")
    if (dupAgg.isEmpty && pairs.map(_._1).distinct.size != pairs.size)
      throw new GraphblasException(
        "Duplicate indices found, must provide `dup_op` BinaryOp")
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    val schema = StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("v", Grb.store(dtype), nullable = false)))
    val rows = pairs.map { case (i, v) =>
      org.apache.spark.sql.Row(i, Grb.hostValue(v, dtype)) }
    val df0 = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    val built = fromDF(df0, size, dupAgg)
    new GrbVector(built.df, built.size, Some(dtype))
  }

  /** distributed construction from an existing COO DataFrame */
  def fromDF(df0: DataFrame, size: Long = -1L,
      dupAgg: Option[Column => Column] = None): GrbVector = {
    val df = dupAgg match {
      case Some(agg) => df0.groupBy("i").agg(agg(col("v")).as("v"))
      case None      => df0.select(col("i"), col("v"))
    }
    val sz = if (size >= 0) size
      else df.agg(max(col("i"))).collect().headOption
        .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long] + 1L)).getOrElse(0L)
    new GrbVector(df, sz)
  }

  /** populate an existing, must-be-empty vector (vector.py:448-504):
    * OutputNotEmpty / IndexOutOfBound checks.
    */
  def build(target: GrbVector, pairs: Seq[(Long, Any)],
      dupAgg: Option[Column => Column] = None): GrbVector = {
    if (target.nvals != 0L) GraphblasException.outputNotEmpty("vector")
    if (!pairs.forall(p => p._1 >= 0 && p._1 < target.size))
      GraphblasException.indexOutOfBound(s"index must be < size ${target.size}")
    fromValues(target.spark, pairs, target.dtype, target.size, dupAgg)
  }
}

/** 2-dim sparse matrix: COO DataFrame[(i, j, v)] + (nrows, ncols).
  * Reference: dask_grblas/matrix.py:43-248. Transpose is a zero-shuffle
  * lazy projection (matrix.py:682-753 TransposedMatrix).
  */
final class GrbMatrix(val df: DataFrame, val nrows: Long, val ncols: Long,
    private[core] val declared: Option[GrbType] = None) {
  import GrbMatrix.KEYS

  def spark: SparkSession = df.sparkSession
  /** UINT64 semantics come from the owning session's conf, resolved
    * fresh at each op build — see [[Grb.Uint64ModeKey]]
    */
  private implicit def u64m: Grb.U64Mode = Grb.u64Mode(df.sparkSession)
  def dtype: GrbType =
    declared.getOrElse(GrbType.fromSpark(df.schema("v").dataType))
  lazy val nvals: Long = df.count()
  /** nvals as a LAZY 1-row scalar (no driver action until consumed) */
  def nvalsScalar: GrbScalar =
    new GrbScalar(df.agg(count(lit(1)).cast(LongType).as("v")))
  def shape: (Long, Long) = (nrows, ncols)

  def dup(dtype: GrbType = dtype, mask: Option[Mask] = None): GrbMatrix = {
    val d0 = mask.fold(df)(_.filter(df, KEYS))
    new GrbMatrix(d0.select(col("i"), col("j"), Grb.castTo(col("v"), dtype).as("v")),
      nrows, ncols, Some(dtype))
  }

  def clear: GrbMatrix = GrbMatrix.empty(spark, dtype, nrows, ncols)

  def resize(newRows: Long, newCols: Long): GrbMatrix = {
    val d = if (newRows >= nrows && newCols >= ncols) df
      else df.filter(col("i") < newRows && col("j") < newCols)
    new GrbMatrix(d, newRows, newCols, declared)
  }

  /** zero-cost transposed view: a projection, no shuffle
    * (matrix.py:682-753)
    */
  def transpose: GrbMatrix =
    new GrbMatrix(df.select(col("j").as("i"), col("i").as("j"), col("v")),
      ncols, nrows, declared)

  // ---- apply ----
  private def keepType(preserve: Boolean, c: Column): Column =
    if (preserve) Grb.castTo(c, dtype) else c

  private def carried(preserve: Boolean): Option[GrbType] =
    if (preserve) declared else None

  /** see GrbVector.promotedDeclared */
  private def promotedDeclared(other: GrbMatrix, preserve: Boolean,
      outDF: DataFrame): Option[GrbType] = {
    val promoted = GrbType.promote(dtype, other.dtype)
    if (preserve) Some(promoted)
    else if ((declared.nonEmpty || other.declared.nonEmpty) &&
        Grb.reprMatches(outDF.schema("v").dataType, promoted)) Some(promoted)
    else None
  }

  /** see GrbVector.carriedOut — the same label-retention rule */
  private def carriedOut(preserve: Boolean, out: DataFrame): Option[GrbType] =
    if (preserve) declared
    else if (declared.nonEmpty && Grb.reprMatches(out.schema("v").dataType, dtype)) declared
    else None

  def apply(op: UnaryOp): GrbMatrix = {
    val outDF = df.select(col("i"), col("j"),
      keepType(op.preserve, op(col("v"))).as("v"))
    val d = carriedOut(op.preserve, outDF)
    new GrbMatrix(Grb.uintGuard(outDF, d), nrows, ncols, d)
  }
  def applyLeft(op: BinaryOp, left: Column): GrbMatrix = {
    val outDF = df.select(col("i"), col("j"),
      keepType(op.preserve, Grb.binOp(op, left, col("v"), dtype)).as("v"))
    val d = carriedOut(op.preserve, outDF)
    new GrbMatrix(Grb.uintGuard(outDF, d), nrows, ncols, d)
  }
  def applyRight(op: BinaryOp, right: Column): GrbMatrix = {
    val outDF = df.select(col("i"), col("j"),
      keepType(op.preserve, Grb.binOp(op, col("v"), right, dtype)).as("v"))
    val d = carriedOut(op.preserve, outDF)
    new GrbMatrix(Grb.uintGuard(outDF, d), nrows, ncols, d)
  }
  /** positional: value = row index (positioni) or col index (positionj) */
  def applyPositional(rowIndex: Boolean): GrbMatrix =
    new GrbMatrix(df.select(col("i"), col("j"),
      (if (rowIndex) col("i") else col("j")).as("v")), nrows, ncols)

  def selectOp(pred: Column => Column): GrbMatrix =
    new GrbMatrix(df.filter(pred(col("v"))), nrows, ncols, declared)

  // ---- ewise ----
  def ewiseMult(other: GrbMatrix, op: BinaryOp): GrbMatrix = {
    if (shape != other.shape) GraphblasException.dimensionMismatch(
      s"ewise_mult shapes $shape vs ${other.shape}")
    val b = other.df.select(col("i"), col("j"), col("v").as("_bv"))
    val promoted = GrbType.promote(dtype, other.dtype)
    val out = Grb.binOp(op, col("v"), col("_bv"), promoted)
    val outC = if (op.preserve) Grb.castTo(out, promoted) else out
    val outDF = df.join(b, KEYS).select(col("i"), col("j"), outC.as("v"))
    val pd = promotedDeclared(other, op.preserve, outDF)
    new GrbMatrix(Grb.uintGuard(outDF, pd), nrows, ncols, pd)
  }

  /** see GrbVector.ewiseAdd for the `requireMonoid` contract */
  def ewiseAdd(other: GrbMatrix, op: BinaryOp,
      requireMonoid: Boolean = true): GrbMatrix = {
    require(!requireMonoid || Ops.isMonoidal(op),
      s"op '${op.name}' is not a Monoid and require_monoid=True " +
        "(pass requireMonoid = false to allow it)")
    if (shape != other.shape) GraphblasException.dimensionMismatch(
      s"ewise_add shapes $shape vs ${other.shape}")
    val a = df.select(col("i"), col("j"), col("v").as("_av"))
    val b = other.df.select(col("i"), col("j"), col("v").as("_bv"))
    val joined = a.join(b, KEYS, "full_outer")
    val promoted = GrbType.promote(dtype, other.dtype)
    val out = Grb.binOp(op, col("_av"), col("_bv"), promoted)
    val outC = if (op.preserve) Grb.castTo(out, promoted) else out
    // analysis-only probe: pass-through cast to the op's output dtype
    val outType = joined.select(outC.as("_t")).schema("_t").dataType
    val outDF = joined.select(col("i"), col("j"),
      when(col("_av").isNotNull && col("_bv").isNotNull, outC)
        .otherwise(coalesce(col("_av"), col("_bv")).cast(outType)).as("v"))
    val pd = promotedDeclared(other, op.preserve, outDF)
    new GrbMatrix(Grb.uintGuard(outDF, pd), nrows, ncols, pd)
  }

  // ---- products (SURVEY §2.5: the heart of the engine) ----
  /** C(i,k) = ⊕_j A(i,j) ⊗ B(j,k). One equi-join on the contracted
    * dimension + hash aggregate (the reference's two hand-rolled
    * matmul strategies, expr.py:43-164, collapse to this plan).
    * Masked variant: the mask's key set is semi-joined against the
    * products BEFORE aggregation, shrinking the shuffle — matches
    * `_matmul2_masked` pushing the mask into block products
    * (expr.py:147-160,1967-1971).
    *
    * The join is HINTED merge (shuffled sort-merge) instead of
    * letting Catalyst choose. Size heuristics see only the OPERANDS,
    * never the product: a matrix side under the broadcast threshold
    * gets a BroadcastHashJoin, which generates the entire product —
    * Σ_k nnz_A(k)·nnz_B(k) rows, quadratic in column multiplicity —
    * inside the other side's SCAN tasks (a handful of parquet
    * splits), where the partial hash aggregate then builds per-task
    * tables of near-output size. Measured on a 17.2M-cell product at
    * 32 cores: unhinted/BHJ 20-35 s, GC-bound and unstable; hinted
    * 4-7 s — product generation AND partial aggregation spread
    * across the full shuffle width with per-task state bounded by
    * the contraction key's partition share. This is 1-D SpGEMM by
    * construction; no cluster can broadcast a real matrix operand
    * anyway, so the bench-scale broadcast "win" is exactly the plan
    * that would never survive 100 TB. merge over shuffle_hash
    * (2.6-7 s, statistically tied): sort-merge spills gracefully on
    * hub columns, and operands pre-bucketed on the contraction key
    * (BucketedCoo, sorted at write) keep their exchange-free AND
    * sort-free plan — a shuffle_hash hint re-shaped that to
    * per-bucket hash builds and cost q_mxm_bucketed 2× (5.5 → 11-16 s
    * fresh-context A/B).
    *
    * Two cases stay UNHINTED:
    *  - MASKED products: the mask's semi-join filters the product
    *    stream BEFORE the partial aggregate inside the same codegen
    *    stage, so per-task aggregate state is bounded by nnz(mask) no
    *    matter where the product is generated — the pathology cannot
    *    arise, and the broadcast plan Catalyst picks for small
    *    operands is genuinely better (hinting the masked family cost
    *    q_clustering 1.2 → 4.6 s, q_ktruss 2.4 → 3.5 s: per-round
    *    exchanges in tight loops for nothing).
    *  - An operand read back from a BUCKETED table (BucketedCoo): its
    *    clustering was paid once at write time and Catalyst already
    *    plans the contraction exchange-free on that side; forcing
    *    merge re-shaped that to per-bucket sorts and cost
    *    q_mxm_bucketed ~1.7× (ABBA'd). A deployment that bucketed its
    *    operands made exactly the placement decision the hint exists
    *    to approximate — respect it.
    */
  def mxm(other: GrbMatrix, sr: Semiring, mask: Option[Mask] = None): GrbMatrix = {
    if (ncols != other.nrows) GraphblasException.dimensionMismatch(
      s"mxm ncols $ncols vs nrows ${other.nrows}")
    // per-side, per-key opt-out: only bucketing ON THE CONTRACTION KEY
    // (j for the left operand, i for the right) earns the exemption
    val forceShuffle = mask.isEmpty &&
      !Grb.hasBucketedScanOn(df, "j") && !Grb.hasBucketedScanOn(other.df, "i")
    def shuffled(d: org.apache.spark.sql.DataFrame) =
      if (forceShuffle) d.hint("merge") else d
    val a = shuffled(df.select(col("i"), col("j").as("_k"), col("v").as("_av")))
    val b = shuffled(other.df.select(col("i").as("_k"), col("j"), col("v").as("_bv")))
    val mult = sr.positional match {
      case Some(pf) => pf(col("i"), col("_k"), col("j"))
      case None =>
        val promoted = GrbType.promote(dtype, other.dtype)
        val p = Grb.binOp(sr.mult, col("_av"), col("_bv"), promoted)
        if (sr.mult.preserve) Grb.castTo(p, promoted) else p
    }
    val prod0 = a.join(b, Seq("_k")).select(col("i"), col("j"), mult.as("_p"))
    val prod = mask.fold(prod0)(m => m.filter(prod0, KEYS))
    val agged = sr.add.agg(col("_p"))
    val aggC = if (sr.add.preserve) Grb.castToType(agged, prod0.schema("_p").dataType) else agged
    // Packed-key product aggregate: (i, j) packs into ONE non-negative
    // long i·ncols + j whenever the output shape fits int64, so the
    // partial aggregate — the engine's hottest loop, it hashes every
    // product row — keys on a single 8-byte column instead of two,
    // and the product exchange carries 16-byte rows instead of 24.
    // Unpack is exact integer arithmetic (DIV / %), never a double
    // round-trip: floor(_ij / nc) through a double would corrupt keys
    // past 2^53, which a 100 TB shape reaches. Same groups (the pack
    // is bijective on the index domain), same aggregate, same output
    // schema; spark.graft.mxm.packedAgg=false restores the two-column
    // aggregate for A/Bs. MASKED products stay on (i, j): the mask's
    // semi-join clusters the product stream by (i, j) and the final
    // aggregate reuses that exchange — packing there ADDED an
    // exchange (q_triangle 13 → 14, measured in the round-14 plan
    // probe) instead of narrowing one.
    val nc = other.ncols
    val packable = mask.isEmpty &&
      nc > 0 && nrows > 0 && nrows <= Long.MaxValue / nc &&
      Grb.flag(df.sparkSession, "spark.graft.mxm.packedAgg", default = true)
    val out =
      if (packable)
        prod.select((col("i") * nc + col("j")).as("_ij"), col("_p"))
          .groupBy("_ij").agg(aggC.as("v"))
          .select(expr(s"_ij DIV ${nc}L").as("i"), (col("_ij") % nc).as("j"), col("v"))
      else prod.groupBy("i", "j").agg(aggC.as("v"))
    val pd = Grb.srDeclared(dtype, declared, other.dtype, other.declared, sr, out)
    new GrbMatrix(Grb.uintGuard(out, pd), nrows, other.ncols, pd)
  }

  /** matrix × column vector (matrix.py:449-454). broadcastVec hints the
    * planner to replicate the (typically small) vector to every
    * partition — no shuffle of the matrix side. The hint is a FORCED
    * broadcast, so it is suppressed when the vector's dimension says
    * it could not possibly fit an executor (nnz ≤ size; beyond the
    * guard AQE still converts to broadcast at runtime when actual
    * stats allow).
    *
    * Deliberate ASYMMETRY with mxm's forced-shuffle SpGEMM rule (do
    * not "consistency-fix" the merge hint onto vector products): a
    * matrix product's row count is Σ_k nnz_A(·,k)·nnz_B(k,·) —
    * quadratic in the contraction key's multiplicity, invisible to
    * operand-size heuristics — while a vector product generates AT
    * MOST ONE row per matching matrix entry (the vector holds ≤ 1
    * value per k), so the product stream is bounded by nnz(A) and the
    * broadcast plan's per-task aggregate state is bounded by the
    * task's own matrix rows. The blow-up the mxm hint guards against
    * cannot arise here; vxm inherits the same bound by symmetry.
    * Pinned in PlanAuditSpec ("mxv keeps the broadcast plan").
    */
  def mxv(vec: GrbVector, sr: Semiring, mask: Option[Mask] = None,
      broadcastVec: Boolean = true): GrbVector = {
    if (ncols != vec.size) GraphblasException.dimensionMismatch(
      s"mxv ncols $ncols vs size ${vec.size}")
    val v0 = vec.df.select(col("i").as("j"), col("v").as("_xv"))
    val v = if (broadcastVec && vec.size <= Grb.broadcastGuard(df.sparkSession)) broadcast(v0) else v0
    // positional mult: the column vector is n×1, so secondj ≡ 0
    val mult = sr.positional match {
      case Some(pf) => pf(col("i"), col("j"), lit(0L))
      case None =>
        val promoted = GrbType.promote(dtype, vec.dtype)
        val p = Grb.binOp(sr.mult, col("v"), col("_xv"), promoted)
        if (sr.mult.preserve) Grb.castTo(p, promoted) else p
    }
    val prod0 = df.join(v, Seq("j")).select(col("i"), mult.as("_p"))
    val prod = mask.fold(prod0)(m => m.filter(prod0, GrbVector.KEYS))
    val agged = sr.add.agg(col("_p"))
    val aggC = if (sr.add.preserve) Grb.castToType(agged, prod0.schema("_p").dataType) else agged
    val out = prod.groupBy("i").agg(aggC.as("v"))
    val pd = Grb.srDeclared(dtype, declared, vec.dtype, vec.declared, sr, out)
    new GrbVector(Grb.uintGuard(out, pd), nrows, pd)
  }

  /** Kronecker product — declared-but-unimplemented in the reference
    * (matrix.py:461-464 builds meta; expr.py:255-279 has no branch →
    * ValueError). Implemented here for GraphBLAS-spec parity.
    */
  def kronecker(other: GrbMatrix, op: BinaryOp): GrbMatrix = {
    val b = other.df.select(col("i").as("_bi"), col("j").as("_bj"), col("v").as("_bv"))
    val promoted = GrbType.promote(dtype, other.dtype)
    val out = Grb.binOp(op, col("v"), col("_bv"), promoted)
    val outC = if (op.preserve) Grb.castTo(out, promoted) else out
    val outDF = df.crossJoin(b).select(
      (col("i") * other.nrows + col("_bi")).as("i"),
      (col("j") * other.ncols + col("_bj")).as("j"),
      outC.as("v"))
    val pd = promotedDeclared(other, op.preserve, outDF)
    new GrbMatrix(Grb.uintGuard(outDF, pd), nrows * other.nrows, ncols * other.ncols, pd)
  }

  // ---- reductions (SURVEY §2.6) ----
  /** per-row fold (matrix.py:480-482): partial+final hash agg is the
    * reference's per-chunk reduce + ewise_add-of-partials combine
    * (expr.py:1844-1869).
    */
  private def aggPreserve(m: Monoid): Column = {
    val agged = m.agg(col("v"))
    if (m.preserve) Grb.castTo(agged, dtype) else agged
  }
  def reduceRowwise(m: Monoid): GrbVector = {
    val out = df.groupBy("i").agg(aggPreserve(m).as("v"))
    val pd = carriedOut(m.preserve, out)
    new GrbVector(Grb.uintGuard(out, pd), nrows, pd)
  }
  def reduceColumnwise(m: Monoid): GrbVector = {
    val out = df.groupBy("j").agg(aggPreserve(m).as("v"))
      .withColumnRenamed("j", "i")
    val pd = carriedOut(m.preserve, out)
    new GrbVector(Grb.uintGuard(out, pd), ncols, pd)
  }
  def reduceScalar(m: Monoid): GrbScalar =
    new GrbScalar(Grb.uintGuard(
      df.agg(aggPreserve(m).as("v")).filter(col("v").isNotNull),
      carried(m.preserve)), carried(m.preserve))
  def reduceScalarInto(target: GrbScalar, m: Monoid, accum: Option[BinaryOp]): GrbScalar =
    target.merge(reduceScalar(m), accum)

  // ---- extract (SURVEY §2.3) ----
  def extractScalar(i0: Long, j0: Long): GrbScalar = {
    val ii = if (i0 < 0) i0 + nrows else i0
    val jj = if (j0 < 0) j0 + ncols else j0
    new GrbScalar(df.filter(col("i") === ii && col("j") === jj).select(col("v")),
      declared)
  }

  /** row extract → Vector (matrix row i0, columns by colIx) */
  def extractRow(i0: Long, colIx: Ix = Ix.All): GrbVector = {
    val ii = if (i0 < 0) i0 + nrows else i0
    val row = df.filter(col("i") === ii).select(col("j").as("i"), col("v"))
    new GrbVector(row, ncols).extract(colIx)
  }

  def extractCol(j0: Long, rowIx: Ix = Ix.All): GrbVector = {
    val jj = if (j0 < 0) j0 + ncols else j0
    val colV = df.filter(col("j") === jj).select(col("i"), col("v"))
    new GrbVector(colV, nrows).extract(rowIx)
  }

  /** submatrix extract C << A[rows, cols]. All axes pass through
    * untouched; Range axes are a filter + arithmetic reindex; only
    * At/Seqs/Dist axes pay a gather join (replaces expr.py:1108-1245's
    * meshpoint/defrag machinery).
    */
  def extract(rowIx: Ix, colIx: Ix, inputMask: Option[Mask] = None): GrbMatrix = {
    val src = inputMask.fold(df)(_.filter(df, KEYS))
    def axis(dfIn: DataFrame, ix: Ix, dim: Long, key: String): (DataFrame, Long) =
      Ix.normalize(ix, dim) match {
        case Ix.All => (dfIn, dim)
        case norm @ (Ix.At(_) | Ix.Range(_, _, _)) =>
          val pred = Ix.predicate(norm, col(key), dim).get
          val pos = Ix.position(norm, col(key), dim).get
          (dfIn.filter(pred).withColumn(key, pos), Ix.length(norm, dim).get)
        case norm =>
          val idx = Ix.toDF(spark, norm, dim)
            .select(col("pos").as("_pos"), col("idx").as(key))
          val joined = dfIn.join(idx, Seq(key))
            .withColumn(key, col("_pos")).drop("_pos")
          (joined, Ix.length(norm, dim).getOrElse(idx.count()))
      }
    val (d1, nr) = axis(src, rowIx, nrows, "i")
    val (d2, nc) = axis(d1, colIx, ncols, "j")
    new GrbMatrix(d2.select(col("i"), col("j"), col("v")), nr, nc, declared)
  }

  // ---- assign (SURVEY §2.7) ----
  /** submatrix assign; same staged recipe as GrbVector.assign.
    * value: scalar Column (broadcast to the region), or GrbMatrix
    * (region-shaped), or a GrbVector for row/col band assign via
    * assignRow/assignCol.
    */
  def assign(rowIx: Ix, colIx: Ix, value: Either[Column, GrbMatrix],
      desc: Desc = Desc.plain, subassign: Boolean = false): GrbMatrix = {
    // scalar broadcast to full unmasked matrix would densify → error
    // (base.py:242-252)
    value match {
      case Left(_) if rowIx == Ix.All && colIx == Ix.All && desc.mask.isEmpty =>
        throw new IllegalArgumentException(
          "scalar assign to entire Matrix without a mask would densify")
      case _ =>
    }
    val rNorm = Ix.normalize(rowIx, nrows)
    val cNorm = Ix.normalize(colIx, ncols)
    val rPred = Ix.predicate(rNorm, col("i"), nrows)
    val cPred = Ix.predicate(cNorm, col("j"), ncols)
    def uniq(norm: Ix, dim: Long): DataFrame = norm match {
      // only list/distributed indices can carry duplicates
      case Ix.All | Ix.Range(_, _, _) | Ix.At(_) => Ix.toDF(spark, norm, dim)
      case _ => Ix.toDF(spark, norm, dim).groupBy("idx").agg(max("pos").as("pos"))
    }
    lazy val rIdx = uniq(rNorm, nrows).select(col("pos").as("_rpos"), col("idx").as("_ri"))
    lazy val cIdx = uniq(cNorm, ncols).select(col("pos").as("_cpos"), col("idx").as("_cj"))
    val newVals: DataFrame = value match {
      case Left(s) =>
        // scalar fill is dense over the region by definition; with a
        // non-complemented mask only mask-covered keys survive the
        // merge, so enumerate those instead of region × region
        desc.mask match {
          case Some(mk) if !mk.complement =>
            val keys0 = mk.coveredKeys(KEYS)
            val keys1 = rPred.map(p => keys0.filter(p))
              .getOrElse(keys0.join(rIdx.select(col("_ri").as("i")), Seq("i"), "left_semi"))
            val keys2 = cPred.map(p => keys1.filter(p))
              .getOrElse(keys1.join(cIdx.select(col("_cj").as("j")), Seq("j"), "left_semi"))
            keys2.select(col("i"), col("j"), s.as("v"))
          case _ =>
            rIdx.crossJoin(cIdx).select(col("_ri").as("i"), col("_cj").as("j"), s.as("v"))
        }
      case Right(m) =>
        // grblas DimensionMismatch guard (also keeps the arithmetic
        // reindex from writing outside the region)
        Ix.length(rNorm, nrows).foreach(len =>
          if (m.nrows != len) GraphblasException.dimensionMismatch(
            s"assign value nrows ${m.nrows} vs region $len"))
        Ix.length(cNorm, ncols).foreach(len =>
          if (m.ncols != len) GraphblasException.dimensionMismatch(
            s"assign value ncols ${m.ncols} vs region $len"))
        // per-axis: All = identity, Range = arithmetic reindex, else join
        def mapAxis(dfIn: DataFrame, norm: Ix, key: String,
            idxDF: => DataFrame, posName: String, idxName: String): DataFrame = norm match {
          case Ix.All => dfIn
          case Ix.Range(a, _, s) =>
            dfIn.withColumn(key, lit(a) + col(key) * lit(s))
          case _ =>
            dfIn.join(idxDF.withColumnRenamed(posName, key), Seq(key))
              .withColumn(key, col(idxName)).drop(idxName)
        }
        val d1 = mapAxis(m.df, rNorm, "i", rIdx, "_rpos", "_ri")
        mapAxis(d1, cNorm, "j", cIdx, "_cpos", "_cj").select(col("i"), col("j"), col("v"))
    }
    // region membership without a dense keys crossJoin: filter when the
    // axis is predicate-expressible, left-join flags otherwise
    var flagged = df
    val rIn: Column = rPred.getOrElse {
      flagged = flagged.join(
        rIdx.select(col("_ri").as("i"), lit(true).as("_rin")), Seq("i"), "left")
      col("_rin").isNotNull
    }
    val cIn: Column = cPred.getOrElse {
      flagged = flagged.join(
        cIdx.select(col("_cj").as("j"), lit(true).as("_cin")), Seq("j"), "left")
      col("_cin").isNotNull
    }
    val inside = flagged.filter(rIn && cIn).select(col("i"), col("j"), col("v"))
    val outside = flagged.filter(!(rIn && cIn)).select(col("i"), col("j"), col("v"))
    if (subassign) {
      val zRegion = Merge(inside, newVals, KEYS, desc)
      new GrbMatrix(outside.unionByName(zRegion), nrows, ncols)
    } else {
      val zRegion = desc.accum match {
        case None      => newVals
        case Some(acc) => Merge.outerAccum(inside, newVals, KEYS, acc)
      }
      val z = outside.unionByName(zRegion)
      new GrbMatrix(Merge(df, z, KEYS, Desc(desc.mask, None, desc.replace)), nrows, ncols)
    }
  }

  /** band assign: vector into row i0 (GrB_Row_assign,
    * expr.py:1756-1765)
    */
  def assignRow(i0: Long, vec: GrbVector, colIx: Ix = Ix.All,
      desc: Desc = Desc.plain): GrbMatrix = {
    val asMatrix = new GrbMatrix(
      vec.df.select(lit(0L).as("i"), col("i").as("j"), col("v")), 1L, vec.size)
    assign(Ix.Seqs(Seq(i0)), colIx, Right(asMatrix), desc)
  }

  def assignCol(j0: Long, vec: GrbVector, rowIx: Ix = Ix.All,
      desc: Desc = Desc.plain): GrbMatrix = {
    val asMatrix = new GrbMatrix(
      vec.df.select(col("i"), lit(0L).as("j"), col("v")), vec.size, 1L)
    assign(rowIx, Ix.Seqs(Seq(j0)), Right(asMatrix), desc)
  }

  def del(i0: Long, j0: Long): GrbMatrix =
    new GrbMatrix(df.filter(!(col("i") === i0 && col("j") === j0)),
      nrows, ncols, declared)

  def contains(i0: Long, j0: Long): Boolean =
    !df.filter(col("i") === i0 && col("j") === j0).isEmpty

  /** row-major flatten to a length-nrows·ncols vector (reference
    * matrix.py `_flatten` — feeds whole-matrix aggregator reduces).
    * Zero-shuffle projection. The flattened length nrows·ncols must
    * fit a signed 64-bit index — unchecked it would silently wrap to
    * a negative vector size (and scramble every flattened index).
    */
  def flatten: GrbVector = {
    val len =
      try Math.multiplyExact(nrows, ncols)
      catch { case _: ArithmeticException => GraphblasException.dimensionMismatch(
        s"flatten length ${nrows}x$ncols overflows a 64-bit index") }
    new GrbVector(df.select((col("i") * ncols + col("j")).as("i"), col("v")),
      len, declared)
  }

  def isequal(other: GrbMatrix, checkDtype: Boolean = false): Boolean = {
    if (shape != other.shape) return false
    if (checkDtype && dtype != other.dtype) return false
    val a = df.select(col("i"), col("j"), col("v").as("_av"))
    val b = other.df.select(col("i"), col("j"), col("v").as("_bv"))
    a.join(b, KEYS, "full_outer")
      .filter(col("_av").isNull || col("_bv").isNull || col("_av") =!= col("_bv"))
      .isEmpty
  }

  def isclose(other: GrbMatrix, relTol: Double = 1e-7, absTol: Double = 0.0): Boolean = {
    if (shape != other.shape) return false
    val a = df.select(col("i"), col("j"), col("v").cast(DoubleType).as("_av"))
    val b = other.df.select(col("i"), col("j"), col("v").cast(DoubleType).as("_bv"))
    a.join(b, KEYS, "full_outer")
      .filter(col("_av").isNull || col("_bv").isNull ||
        abs(col("_av") - col("_bv")) > lit(absTol) + lit(relTol) * abs(col("_bv")))
      .isEmpty
  }

  def accept(result: GrbMatrix, desc: Desc): GrbMatrix =
    new GrbMatrix(Merge(df, result.df, KEYS, desc), nrows, ncols, declared)

  def toValues: Seq[(Long, Long, Any)] =
    df.orderBy("i", "j").collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2)))

  def persist(): GrbMatrix =
    new GrbMatrix(df.localCheckpoint(true), nrows, ncols, declared)

  /** co-partition by row key — lets downstream joins/aggregations on i
    * reuse the exchange (rechunk analogue, matrix.py:637-642)
    */
  def repartitionByRow(n: Int): GrbMatrix =
    new GrbMatrix(df.repartitionByRange(n, col("i")), nrows, ncols, declared)
}

object GrbMatrix {
  val KEYS: Seq[String] = Seq("i", "j")

  def empty(spark: SparkSession, dtype: GrbType, nrows: Long, ncols: Long): GrbMatrix = {
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    val schema = StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("v", Grb.store(dtype), nullable = false)))
    new GrbMatrix(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema),
      nrows, ncols, Some(dtype))
  }

  def fromValues(spark: SparkSession, triples: Seq[(Long, Long, Any)], dtype: GrbType,
      nrows: Long = -1L, ncols: Long = -1L,
      dupAgg: Option[Column => Column] = None): GrbMatrix = {
    // reference-pinned phrasings (tests/from_grblas/test_matrix.py:81,91)
    if (triples.isEmpty && (nrows < 0 || ncols < 0)) throw new GraphblasException(
      "No indices provided. Unable to infer nrows and ncols.")
    if (dupAgg.isEmpty &&
        triples.map(t => (t._1, t._2)).distinct.size != triples.size)
      throw new GraphblasException(
        "Duplicate indices found, must provide `dup_op` BinaryOp")
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    val schema = StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("v", Grb.store(dtype), nullable = false)))
    val rows = triples.map { case (i, j, v) =>
      org.apache.spark.sql.Row(i, j, Grb.hostValue(v, dtype)) }
    val df0 = spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
    val built = fromDF(df0, nrows, ncols, dupAgg)
    new GrbMatrix(built.df, built.nrows, built.ncols, Some(dtype))
  }

  /** Build from an existing COO DataFrame.
    *
    * INDEX CONTRACT (round-15, ADVICE r14): with EXPLICIT dims the
    * caller asserts every row satisfies 0 ≤ i < nrows and
    * 0 ≤ j < ncols — no validation job is run (a full-scan bounds
    * check on every construction would tax each of the ~150 catalog
    * queries to guard against a caller bug). Out-of-range indexes
    * break more than the obvious: the packed-key product aggregate
    * keys on i·ncols + j, which is bijective ONLY on the declared
    * index domain, so a j ≥ ncols row would silently alias into a
    * neighboring cell (where the two-column aggregate would have kept
    * it distinct). Callers deriving indexes from data (key offsets,
    * hashes) must size dims from the same derivation — every catalog
    * query does (dims come from max(key)+1 or the fixed encoding).
    * When dims are INFERRED (the max(i)/max(j) pass below), the
    * contract holds by construction for non-negative indexes.
    */
  def fromDF(df0: DataFrame, nrows: Long = -1L, ncols: Long = -1L,
      dupAgg: Option[Column => Column] = None,
      clusterBy: Seq[String] = Nil): GrbMatrix = {
    // Pre-cluster the raw COO on the column the CONSUMER will key on
    // (guide §2.4: operations keyed the same way share one exchange):
    // the dedup aggregate satisfies its distribution from this single
    // exchange (subset rule — hash(j) clusters (i, j)), and the
    // downstream contraction join / rowwise reduce then reuses the
    // SAME partitioning instead of re-exchanging the deduped frame —
    // q_mxm drops from 5 Exchanges to 3, mxv/rowwise-reduce from 2 to
    // 1. Caller-declared, because only the caller knows the consumer's
    // key. Trade-off, recorded: the RAW rows ride the one exchange
    // instead of the dedup output riding a second one — a win unless
    // the dup factor is large (lineitem's (i,j) dup factor is ~1.07;
    // a caller with heavily duplicated COO input should keep the
    // map-side dedup and not declare clusterBy).
    // spark.graft.precluster=false ignores the declarations (A/B hook).
    val base =
      if (clusterBy.nonEmpty &&
          Grb.flag(df0.sparkSession, "spark.graft.precluster", default = true))
        df0.repartition(clusterBy.map(col): _*)
      else df0
    val df = dupAgg match {
      case Some(agg) => base.groupBy("i", "j").agg(agg(col("v")).as("v"))
      case None      => base.select(col("i"), col("j"), col("v"))
    }
    val (nr, nc) =
      if (nrows >= 0 && ncols >= 0) (nrows, ncols)
      else {
        val r = df.agg(max(col("i")).as("mi"), max(col("j")).as("mj")).collect().head
        (if (nrows >= 0) nrows else Option(r.get(0)).map(_.asInstanceOf[Long] + 1).getOrElse(0L),
         if (ncols >= 0) ncols else Option(r.get(1)).map(_.asInstanceOf[Long] + 1).getOrElse(0L))
      }
    new GrbMatrix(df, nr, nc)
  }

  def build(target: GrbMatrix, triples: Seq[(Long, Long, Any)],
      dupAgg: Option[Column => Column] = None): GrbMatrix = {
    if (target.nvals != 0L) GraphblasException.outputNotEmpty("matrix")
    if (!triples.forall(t => t._1 >= 0 && t._1 < target.nrows &&
        t._2 >= 0 && t._2 < target.ncols))
      GraphblasException.indexOutOfBound(
        s"indices must be < shape (${target.nrows}, ${target.ncols})")
    fromValues(target.spark, triples, target.dtype, target.nrows, target.ncols, dupAgg)
  }
}

/** engine-wide tuning constants + the per-session UINT64 mode */
object Grb {
  /** Conservative in-memory bytes per broadcast row: the guarded
    * frames are two-long rows (16 B of data), and a broadcast hash
    * relation roughly doubles that (UnsafeRow header + key map
    * entry). Used to convert the BYTE budget below into the row-count
    * guard the operators compare against.
    */
  val BroadcastRowBytes: Long = 32L

  /** Per-executor byte budget for the forced-broadcast modes
    * (`spark.graft.broadcast.maxBytes`, default 512 MiB). Round-15
    * (VERDICT r14 item 4): the guard was a flat 32M ROWS, a number
    * tuned against local[32] memory geometry — at 32 B/row that let a
    * ~1 GiB relation be forced onto every executor at the edge. The
    * gate now derives from bytes: 512 MiB / 32 B = 16.7M rows by
    * default — ~5% of a typical 8–16 GiB executor heap, safely under
    * Spark's 8 GiB broadcast-relation hard cap, and orders of
    * magnitude above every bench-scale vertex set (≤ ~1M), so plans
    * at bench scale are unchanged. A 100 TB deployment sizes it from
    * its own executor memory: budget = fraction-of-heap the operator
    * may pin per broadcast, guard rows = budget / 32. Frames wider
    * than two longs pass their own `rowBytes` (RandomWalk's walker
    * frame).
    */
  def broadcastGuard(spark: SparkSession,
      rowBytes: Long = BroadcastRowBytes): Long = {
    val key = "spark.graft.broadcast.maxBytes"
    val default = 512L * 1024 * 1024
    // a malformed budget warns like Grb.flag: maxBytes=1 is how an
    // operator forces the sharded plans, so a typo must not silently
    // leave them broadcasting
    val budget = spark.conf.getOption(key).fold(default) { raw =>
      scala.util.Try(raw.trim.toLong).toOption.filter(_ > 0).getOrElse {
        System.err.println(s"graft: ignoring unparsable conf $key='$raw' " +
          s"(want a positive byte count); using default=$default")
        default
      }
    }
    math.max(1L, budget / rowBytes)
  }

  /** conf-gated plan toggle (the spark.graft.* escape-hatch family):
    * accepts true/false/1/0/on/off/yes/no (case-insensitive); an
    * absent conf → the measured default; a MALFORMED value warns to
    * stderr on every read and falls back to the default — silently
    * honoring the default would invert the operator's intent for
    * values like `packedAgg=of` (round-14 advice).
    */
  private[graft] def flag(spark: SparkSession, key: String,
      default: Boolean): Boolean =
    spark.conf.getOption(key) match {
      case None => default
      case Some(raw) => raw.trim.toLowerCase match {
        case "true" | "1" | "on" | "yes"  => true
        case "false" | "0" | "off" | "no" => false
        case other =>
          System.err.println(s"graft: ignoring unparsable conf $key='$other' " +
            s"(want true/false/1/0/on/off); using default=$default")
          default
      }
    }

  /** True when `d`'s output column `key` derives (through the analyzed
    * plan's alias/cast lineage) from a bucket column of a bucketed
    * table scan — the mxm merge-hint opt-out (a bucketed operand's
    * clustering was paid at write time; see the mxm scaladoc).
    *
    * The check is per-COLUMN, not per-plan (round-12 advice): a frame
    * that merely JOINED against some bucketed table, or one bucketed
    * on the non-contracted dimension, must NOT lose the guard against
    * the measured 4-7× broadcast-product pathology. Implementation:
    * seed with the exprIds of `d`'s output attributes named `key`,
    * chase Alias chains downward to the scan attributes, then require
    * some bucketed HadoopFsRelation whose bucketSpec covers one of the
    * traced attributes by its SCAN-level name. Residual conservatism
    * is one-sided and safe: an exchange BELOW `d` that destroyed the
    * bucketing isn't detected here, so that frame just keeps
    * Catalyst's unassisted join choice (the pre-round-12 behavior)
    * instead of the forced merge — never the reverse.
    */
  private[core] def hasBucketedScanOn(
      d: org.apache.spark.sql.DataFrame, key: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val plan = d.queryExecution.analyzed
    var ids: Set[ExprId] = plan.output.filter(_.name == key).map(_.exprId).toSet
    if (ids.isEmpty) return false
    // transitive closure over alias chains: Alias(expr as key') whose
    // exprId is traced pulls in every AttributeReference inside expr
    // (covers select/withColumnRenamed/cast — the COO frame idioms)
    val aliases = plan.collect { case p => p }
      .flatMap(_.expressions).flatMap(_.collect { case a: Alias => a })
    var changed = true
    while (changed) {
      changed = false
      aliases.foreach { a =>
        if (ids.contains(a.exprId)) {
          a.child.foreach {
            case ar: AttributeReference if !ids.contains(ar.exprId) =>
              ids += ar.exprId; changed = true
            case _ =>
          }
        }
      }
    }
    plan.collectFirst {
      case lr: LogicalRelation if (lr.relation match {
            case fs: HadoopFsRelation => fs.bucketSpec.exists { spec =>
              val bcols = spec.bucketColumnNames.toSet
              lr.output.exists(o => ids.contains(o.exprId) && bcols.contains(o.name))
            }
            case _ => false
          }) => true
    }.isDefined
  }

  /** Session conf key selecting UINT64 semantics — `wrap` (default),
    * `checked`, or `wide`. UINT64 is stored in a signed long (Spark
    * has no unsigned types — documented deviation, Types.scala), so a
    * genuine value past 2⁶³−1 wraps negative SILENTLY under the
    * default C-wrap semantics.
    *
    *  - `wrap`: the reference's C-wrap behavior on the long store.
    *  - `checked`: any operator result declared UINT64 that
    *    materializes a negative long raises instead (one codegen'd
    *    comparison per row — no plan change).
    *  - `wide`: TRUE-RANGE UINT64 — the value column is stored as
    *    Decimal(20,0), so genuine values in [2⁶³, 2⁶⁴) are
    *    representable, and every preserve-cast wraps mod 2⁶⁴ — the
    *    reference's exact C semantics at full range (numpy uint64).
    *    Binary `times` is computed by 32-bit limb decomposition
    *    ([[mulMod64]]): a naive Decimal(20,0)×Decimal(20,0) is capped
    *    at Decimal(38,0) ≈ 10³⁸−1, but the max two-operand product
    *    (2⁶⁴−1)² ≈ 3.4·10³⁸ — large products would overflow to NULL
    *    before any wrap could run. Plus-accumulating reductions hold
    *    partials at Decimal(30,0) (Spark's sum widening): sums beyond
    *    10³⁰ are out of scope; times-monoid REDUCTIONS use Spark's
    *    double-typed product aggregate and are only exact below 2⁵³.
    *    Default `wrap`: the long-backed representation is faster
    *    (primitive vs 128-bit decimal per row) and covers every value
    *    the driver workloads produce.
    *
    * The mode is resolved from the owning DataFrame's session conf at
    * op-build time — two sessions in one JVM (`spark.newSession()`)
    * can run different modes concurrently without cross-talk, and a
    * conf flip never rewrites the semantics of already-built frames.
    */
  val Uint64ModeKey = "spark.graft.uint64Mode"

  /** resolved UINT64 semantics for one op build — see [[Uint64ModeKey]] */
  final case class U64Mode(wide: Boolean, checked: Boolean)

  def u64Mode(spark: SparkSession): U64Mode =
    spark.conf.get(Uint64ModeKey, "wrap") match {
      case "wrap"    => U64Mode(wide = false, checked = false)
      case "checked" => U64Mode(wide = false, checked = true)
      case "wide"    => U64Mode(wide = true, checked = false)
      case other => throw new IllegalArgumentException(
        s"$Uint64ModeKey must be one of wrap|checked|wide, got '$other'")
    }

  /** 2⁶⁴ as an exact decimal literal — the wide-mode wrap modulus */
  private val Two64 = new java.math.BigDecimal("18446744073709551616")

  /** physical store for a dtype under the session's UINT64 mode —
    * LongType for UINT64 normally, Decimal(20,0) in wide mode
    */
  private[graft] def store(t: GrbType)(implicit m: U64Mode): DataType =
    if (m.wide && t == GrbType.UINT64) DecimalType(20, 0) else t.spark

  /** preserve-cast a result column to a dtype's physical store; in
    * wide-UINT64 mode the cast wraps mod 2⁶⁴ first (C semantics),
    * instead of Spark's overflow-to-null decimal downcast
    */
  private[core] def castTo(c: Column, t: GrbType)(implicit m: U64Mode): Column =
    if (m.wide && t == GrbType.UINT64)
      pmod(c, lit(Two64)).cast(DecimalType(20, 0))
    else c.cast(t.spark)

  /** cast to a raw physical type (the semiring-add paths cast partial
    * products back to the mult output's physical type); a plain cast
    * into the wide-UINT64 Decimal(20,0) store would overflow to NULL,
    * so wrap mod 2⁶⁴ first — only ever reachable under wide mode,
    * since nothing else produces a Decimal(20,0) store
    */
  private[core] def castToType(c: Column, dt: DataType)(implicit m: U64Mode): Column =
    // any decimal target counts: only wide-UINT64 produces decimal
    // stores, and intermediates widen precision (sum partials are
    // Decimal(30,0)) — a plain cast would overflow to NULL instead of
    // wrapping
    if (m.wide && dt.isInstanceOf[DecimalType])
      pmod(c, lit(Two64)).cast(dt)
    else c.cast(dt)

  /** exact a·b mod 2⁶⁴ for wide-UINT64 operands, by 32-bit limb
    * decomposition. Needed because Spark caps decimal multiply results
    * at Decimal(38,0) ≈ 10³⁸−1 while (2⁶⁴−1)² ≈ 3.4·10³⁸ — a naive
    * product of large operands overflows to NULL (non-ANSI) before the
    * wrap cast can run, silently dropping entries.
    *
    * With a = ah·2³² + al and b = bh·2³² + bl:
    *   a·b ≡ al·bl + (ah·bl + al·bh)·2³²  (mod 2⁶⁴)
    * All limb products run in LONG arithmetic whose natural mod-2⁶⁴
    * wrap (ANSI off) is exactly the semantics wanted; the signed-long
    * bit pattern is then lifted back to [0, 2⁶⁴) as Decimal. Stays
    * fully inside whole-stage codegen — no UDF.
    */
  private[core] def mulMod64(a: Column, b: Column): Column = {
    val t32 = lit(new java.math.BigDecimal("4294967296")) // 2^32
    def lo(x: Column): Column = pmod(x, t32).cast(LongType)
    def hi(x: Column): Column = ((x - pmod(x, t32)) / t32).cast(LongType)
    val r = lo(a) * lo(b) + shiftleft(hi(a) * lo(b) + lo(a) * hi(b), 32)
    // lift the signed-long bit pattern back to [0, 2⁶⁴); the value
    // always fits 20 digits, so the final cast can never overflow
    when(r < 0, r.cast(DecimalType(21, 0)) + lit(Two64))
      .otherwise(r.cast(DecimalType(21, 0)))
      .cast(DecimalType(20, 0))
  }

  /** dispatch a binary op over two value columns whose GraphBLAS
    * result domain is `promoted` — routes wide-UINT64 `times` through
    * the overflow-safe limb multiply, everything else straight through
    */
  private[core] def binOp(op: BinaryOp, a: Column, b: Column,
      promoted: GrbType)(implicit m: U64Mode): Column =
    if (m.wide && promoted == GrbType.UINT64 && op.name == "times") mulMod64(a, b)
    else op(a, b)

  /** accumulator dispatch keyed on the target's physical type (merges
    * fix the output domain from C's store, not a promoted dtype)
    */
  private[core] def accumOp(accum: BinaryOp, a: Column, b: Column,
      outType: DataType)(implicit m: U64Mode): Column =
    if (m.wide && outType == DecimalType(20, 0) && accum.name == "times") mulMod64(a, b)
    else accum(a, b)

  /** declared-label rule for semiring products (mxm/mxv/vxm), the
    * ewise `promotedDeclared` convention lifted to semirings:
    * positional semirings emit indices (no value label); a
    * preserve-mult labels the result with the promoted operand dtype;
    * a non-preserve mult keeps the label only when at least one
    * operand was declared AND the physical result still carries the
    * promoted store (reprMatches — in wide mode any decimal counts,
    * uintGuard then normalizes it back into the wrapped store)
    */
  private[core] def srDeclared(aDtype: GrbType, aDecl: Option[GrbType],
      bDtype: GrbType, bDecl: Option[GrbType],
      sr: Semiring, out: DataFrame)(implicit m: U64Mode): Option[GrbType] =
    if (sr.positional.nonEmpty) None
    else {
      val promoted = GrbType.promote(aDtype, bDtype)
      if (sr.mult.preserve) Some(promoted)
      else if ((aDecl.nonEmpty || bDecl.nonEmpty) &&
          reprMatches(out.schema("v").dataType, promoted)) Some(promoted)
      else None
    }

  /** normalize a host-provided value for the physical store: the
    * wide-UINT64 Decimal(20,0) schema needs BigDecimal rows, but
    * fixtures naturally pass Long/Int/BigInt — accept them all
    */
  private[core] def hostValue(v: Any, dtype: GrbType)(implicit m: U64Mode): Any =
    if (m.wide && dtype == GrbType.UINT64) v match {
      case b: java.math.BigDecimal => b
      case b: scala.BigDecimal     => b.bigDecimal
      case b: scala.BigInt         => new java.math.BigDecimal(b.bigInteger)
      case n: Long                 => java.math.BigDecimal.valueOf(n)
      case n: Int                  => java.math.BigDecimal.valueOf(n.toLong)
      case other                   => other
    } else v

  /** does a physical result type still carry a dtype's store? Exact
    * match normally; in wide-UINT64 mode any decimal counts for
    * UINT64, because decimal arithmetic widens precision (20,0)+x →
    * (21,0) on non-preserve ops exactly like long+long stays long —
    * uintGuard then normalizes the value back into the wrapped store
    */
  private[core] def reprMatches(dt: DataType, t: GrbType)(implicit m: U64Mode): Boolean =
    if (m.wide && t == GrbType.UINT64) dt.isInstanceOf[DecimalType]
    else dt == t.spark

  /** wrap a result frame's value column with the overflow check when
    * checked mode is on and the result's declared dtype is UINT64.
    * Long store: a wrapped value shows up negative. Wide store:
    * normalize the (possibly precision-widened) decimal back into
    * [0, 2⁶⁴) ∩ Decimal(20,0) — the mod-2⁶⁴ wrap IS the semantics,
    * so the checked flag has nothing left to catch.
    */
  private[core] def uintGuard(out: DataFrame,
      declared: Option[GrbType])(implicit m: U64Mode): DataFrame =
    if (m.wide && declared.contains(GrbType.UINT64) &&
        out.schema("v").dataType != DecimalType(20, 0))
      out.withColumn("v", castTo(col("v"), GrbType.UINT64))
    else if (m.checked && declared.contains(GrbType.UINT64))
      out.withColumn("v",
        when(col("v") < 0, raise_error(concat(
          lit("UINT64 overflow: value wrapped past 2^63-1 (stored as "),
          col("v").cast("string"),
          lit(s"); set $Uint64ModeKey=wrap for C-wrap semantics, "),
          lit(s"or $Uint64ModeKey=wide for the full-range Decimal(20,0) store"))))
          .otherwise(col("v")))
    else out
}
