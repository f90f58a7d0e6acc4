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

/** What GrbVector and GrbMatrix share (reference dask_grblas/base.py
  * `BaseType`): a COO DataFrame of key columns — Seq("i") for a vector,
  * Seq("i", "j") for a matrix — plus the value column `v`, one dimension
  * per key, and an optional declared dtype. Absence = missing row, never
  * NULL (SURVEY §1.4). The element-wise, label, equality, extract/assign,
  * product and write-path methods are written here once over the key
  * columns; a subclass supplies its dimensions, its shape check and
  * (through its companion) its constructor.
  *
  * `declared`: the GraphBLAS dtype when it cannot be re-derived from
  * the Spark schema — Spark has no unsigned types, so UINT8/16/32/64
  * share physical types with wider signed ints; without the declared
  * dtype a dup()'d UINT8 vector would silently report INT16. Carried
  * through structure-preserving ops; value-producing ops re-derive
  * from the (signed) schema — a documented deviation.
  */
private[graft] abstract class GrbCollection[C <: GrbCollection[C]] {
  /** COO frame: the key columns, then `v` */
  val df: DataFrame
  private[graft] val declared: Option[GrbType]
  /** one dimension per key column */
  private[graft] def dims: Seq[Long]
  /** DimensionMismatch unless `other` has this collection's shape */
  protected def requireSameShape(other: C, op: String): Unit
  protected def companion: GrbCollectionCompanion[C]

  private[core] def keys: Seq[String] = companion.KEYS

  /** a result of this collection's kind, through the one labelled
    * constructor ([[GrbCollectionCompanion.labelled]]); the dimensions
    * default to this collection's
    */
  private[graft] def derive(out: DataFrame, declared: Option[GrbType],
      dims: Seq[Long] = dims): C = companion.labelled(out, dims, declared)

  /** the key columns followed by `v` as the value column */
  private def keyed(v: Column): Seq[Column] = keys.map(col) :+ v.as("v")
  /** the key columns and `v`, as they are */
  private def coo: Seq[Column] = keys.map(col) :+ col("v")
  /** the COO columns of `d`, with key column `key` computed by `c` */
  private def rekeyed(d: DataFrame, key: String, c: Column): DataFrame =
    d.select(keys.map(k => if (k == key) c.as(k) else col(k)) :+ col("v"): _*)

  def spark: SparkSession = df.sparkSession
  /** UINT64 semantics come from the owning session's conf, resolved
    * fresh at each op build — see [[Grb.Uint64ModeKey]]
    */
  protected implicit def u64m: Grb.U64Mode = Grb.u64Mode(df.sparkSession)
  def dtype: GrbType =
    declared.getOrElse(GrbType.fromSpark(df.schema("v").dataType))
  lazy val nvals: Long = df.count()
  /** nvals as a LAZY 1-row scalar — the distributed-friendly form of
    * `nvals` (no driver action until the scalar is consumed).
    */
  def nvalsScalar: GrbScalar =
    new GrbScalar(df.agg(count(lit(1)).cast(LongType).as("v")))

  /** reference base.py:112-136: deep copy w/ optional cast + mask.
    * DataFrames are immutable so the copy is free.
    */
  def dup(dtype: GrbType = dtype, mask: Option[Mask] = None): C = {
    val d0 = mask.fold(df)(_.filter(df, keys))
    derive(d0.select(keyed(Grb.castTo(col("v"), dtype)): _*), Some(dtype))
  }

  def clear: C = companion.emptyOf(spark, dtype, dims)

  // ---- element-wise apply (vector.py:430-442) ----
  private def keepType(preserve: Boolean, c: Column): Column =
    if (preserve) Grb.castTo(c, dtype) else c

  /** declared label of an apply result: kept when the op preserves the
    * domain, or — with unsigned tracking in play — when the output's
    * physical type still equals this dtype's representation (the same
    * rule promotedDeclared applies to ewise results, so
    * apply(plus, 1) on UINT64 keeps the label exactly like ewise_add)
    */
  protected def carriedOut(preserve: Boolean, out: DataFrame): Option[GrbType] =
    if (preserve) declared
    else if (declared.nonEmpty && Grb.reprMatches(out.schema("v").dataType, dtype)) declared
    else None

  /** declared dtype of a result combining this collection's values
    * with `other`'s (ewise, outer, kronecker): the GraphBLAS-promoted
    * type when the op preserves the domain, or — with unsigned tracking
    * in play — when at least one operand was declared AND the output's
    * physical type still carries the promoted store (e.g. UINT8+UINT8
    * stays short; reprMatches — in wide mode any decimal counts,
    * uintGuard then normalizes it back into the wrapped store).
    */
  protected def promotedDeclared(other: GrbCollection[_], preserve: Boolean,
      outDF: DataFrame): Option[GrbType] = {
    val promoted = GrbType.promote(dtype, other.dtype)
    if (preserve) Some(promoted)
    else if ((declared.nonEmpty || other.declared.nonEmpty) &&
        Grb.reprMatches(outDF.schema("v").dataType, promoted)) Some(promoted)
    else None
  }

  /** the same rule for semiring products (mxm/mxv/vxm), keyed on the
    * mult; positional semirings emit indices, so no value label
    */
  protected def srDeclared(other: GrbCollection[_], sr: Semiring,
      out: DataFrame): Option[GrbType] =
    if (sr.positional.nonEmpty) None else promotedDeclared(other, sr.mult.preserve, out)

  // ---- semiring products (SURVEY §2.5) ----
  /** column `from` as `to`; no alias when the name is unchanged */
  private def renamed(from: String, to: String): Column =
    if (from == to) col(from) else col(from).as(to)

  /** `of` with its contracted key `on` renamed to `key`, `v` to `value` */
  private final class Side(val of: GrbCollection[_], val on: String, key: String,
      value: String) {
    val outer: Seq[String] = of.keys.filterNot(_ == on)
    val outerDims: Seq[Long] = of.keys.zip(of.dims).collect { case (k, d) if k != on => d }
    /** an unchanged frame adds no projection */
    val frame: DataFrame =
      if (on == key && value == "v") of.df
      else of.df.select(of.keys.map(k => if (k == on) renamed(k, key) else col(k)) :+
        renamed("v", value): _*)
    /** this side's outer key as a positional index; a vector's is 0 */
    def index: Column = outer.headOption.map(col).getOrElse(lit(0L))
  }

  /** `this ⊕.⊗ other` over one contracted key: the one product recipe
    * of mxm, mxv and vxm (the reference's `_matmul2`, expr.py:86-164).
    *  1. Each side's contracted key `on` is renamed to the join key
    *     `key`, and its `v` to its `values` column.
    *  2. The product is the positional semiring's index triple (this
    *     side's outer key, the contracted key, the other side's) or the
    *     promoted mult of this side's value by the other's.
    *  3. Equi-join on `key`; a mask filters the products on the
    *     result's keys.
    *  4. The add monoid folds each result key (Spark's two-phase hash
    *     aggregate is the reference's block-tree reduction), cast back
    *     to the product's type when it preserves the domain.
    *  5. The outer keys, this side's first, are the result's keys,
    *     labelled by [[srDeclared]].
    * Placement: a vector side is the join's right side, broadcast when
    * `broadcastVector` and its size passes [[Grb.broadcastGuard]]; two
    * matrices take mxm's SpGEMM placement (merge hint, packed aggregate;
    * see [[GrbMatrix.mxm]]).
    */
  private[core] def contract[R <: GrbCollection[R]](other: GrbCollection[_], sr: Semiring,
      mask: Option[Mask], result: GrbCollectionCompanion[R], on: (String, String),
      key: String, values: (String, String), broadcastVector: Boolean = false): R = {
    val (a, b) = (new Side(this, on._1, key, values._1), new Side(other, on._2, key, values._2))
    val mult = sr.positional match {
      case Some(pf) => pf(a.index, col(key), b.index)
      case None => Grb.promotedOp(sr.mult, col(values._1), col(values._2), dtype, other.dtype)
    }
    val (left, right) = Seq(a, b).partition(_.outer.nonEmpty) match {
      case (Seq(m), Seq(vec)) =>
        val guarded = broadcastVector && vec.of.dims.head <= Grb.broadcastGuard(df.sparkSession)
        (m.frame, if (guarded) broadcast(vec.frame) else vec.frame)
      case _ =>
        // per-side opt-out: only bucketing ON THE CONTRACTED KEY earns it
        val hinted = mask.isEmpty &&
          !Grb.hasBucketedScanOn(a.of.df, a.on) && !Grb.hasBucketedScanOn(b.of.df, b.on)
        def place(s: Side) = if (hinted) s.frame.hint("merge") else s.frame
        (place(a), place(b))
    }
    val outKeys = (a.outer ++ b.outer).zip(result.KEYS).map { case (o, k) => renamed(o, k) }
    val prod0 = left.join(right, Seq(key)).select(outKeys :+ mult.as("_p"): _*)
    val prod = mask.fold(prod0)(m => m.filter(prod0, result.KEYS))
    val agged = sr.add.agg(col("_p"))
    val aggC = if (sr.add.preserve) Grb.castToType(agged, prod0.schema("_p").dataType) else agged
    val dims = a.outerDims ++ b.outerDims
    val out = dims match {
      // two matrices, unmasked, shape within int64: mxm's packed key
      case Seq(nr, nc) if mask.isEmpty && nc > 0 && nr > 0 && nr <= Long.MaxValue / nc =>
        val Seq(ki, kj) = result.KEYS
        prod.select((col(ki) * nc + col(kj)).as("_ij"), col("_p"))
          .groupBy("_ij").agg(aggC.as("v"))
          .select(expr(s"_ij DIV ${nc}L").as(ki), (col("_ij") % nc).as(kj), col("v"))
      case _ => prod.groupBy(result.KEYS.head, result.KEYS.tail: _*).agg(aggC.as("v"))
    }
    result.labelled(out, dims, srDeclared(other, sr, out))
  }

  /** `v` of `from` replaced by `v`, labelled by the apply rule */
  private def applied(from: DataFrame, preserve: Boolean, v: Column): C = {
    val outDF = from.select(keyed(keepType(preserve, v)): _*)
    derive(outDF, carriedOut(preserve, outDF))
  }

  def apply(op: UnaryOp): C = applied(df, op.preserve, op(col("v")))
  def applyLeft(op: BinaryOp, left: Column): C =
    applied(df, op.preserve, Grb.binOp(op, left, col("v"), dtype))
  def applyRight(op: BinaryOp, right: Column): C =
    applied(df, op.preserve, Grb.binOp(op, col("v"), right, dtype))

  /** bind a LAZY scalar as the right operand (reference: lazy Scalar in
    * apply, tests/test_vector.py:269-369) — broadcast crossJoin with the
    * ≤1-row scalar frame, no driver materialization.
    *
    * Documented deviation: grblas raises eagerly on an EMPTY scalar
    * operand; a lazy engine cannot without forcing a job, so an empty
    * scalar yields an empty result instead (the crossJoin with a
    * 0-row frame).
    */
  def applyRightScalar(op: BinaryOp, s: GrbScalar): C =
    applied(withScalar(s), op.preserve, Grb.binOp(op, col("v"), col("_sv"), dtype))
  def applyLeftScalar(op: BinaryOp, s: GrbScalar): C =
    applied(withScalar(s), op.preserve, Grb.binOp(op, col("_sv"), col("v"), dtype))
  private def withScalar(s: GrbScalar): DataFrame =
    df.crossJoin(broadcast(s.df.select(col("v").as("_sv"))))

  /** GrB_select-alike extension (reference has none; masks play the
    * role — SURVEY §2.2): keep entries where predicate on value holds.
    */
  def selectOp(pred: Column => Column): C =
    derive(df.filter(pred(col("v"))), declared)

  // ---- element-wise joins (SURVEY §2.4) ----
  /** the key columns plus `v` renamed to `name` */
  private def valuesAs(d: DataFrame, name: String): DataFrame =
    d.select(keys.map(col) :+ col("v").as(name): _*)

  /** intersection of structures (vector.py:365-368) */
  def ewiseMult(other: C, op: BinaryOp): C = {
    requireSameShape(other, "ewise_mult")
    val outC = Grb.promotedOp(op, col("v"), col("_bv"), dtype, other.dtype)
    val outDF = df.join(valuesAs(other.df, "_bv"), keys).select(keyed(outC): _*)
    val pd = promotedDeclared(other, op.preserve, outDF)
    derive(outDF, pd)
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
  def ewiseAdd(other: C, op: BinaryOp, requireMonoid: Boolean = true): C = {
    // message pins the reference's asserted phrasing: the suite catches
    // TypeError matching "require_monoid" (tests/from_grblas/test_matrix.py:289)
    require(!requireMonoid || Ops.isMonoidal(op),
      s"op '${op.name}' is not a Monoid and require_monoid=True " +
        "(pass requireMonoid = false to allow it)")
    requireSameShape(other, "ewise_add")
    val joined = valuesAs(df, "_av").join(valuesAs(other.df, "_bv"), keys, "full_outer")
    val outC = Grb.promotedOp(op, col("_av"), col("_bv"), dtype, other.dtype)
    // analysis-only probe for the op's output type (no job is run)
    val outType = joined.select(outC.as("_t")).schema("_t").dataType
    val outDF = joined.select(keyed(
      when(col("_av").isNotNull && col("_bv").isNotNull, outC)
        .otherwise(coalesce(col("_av"), col("_bv")).cast(outType))): _*)
    val pd = promotedDeclared(other, op.preserve, outDF)
    derive(outDF, pd)
  }

  // ---- reductions (SURVEY §2.6) ----
  /** monoid fold of `v`, cast back into this dtype when the monoid
    * preserves the domain
    */
  protected def aggPreserve(m: Monoid): Column = {
    val agged = m.agg(col("v"))
    if (m.preserve) Grb.castTo(agged, dtype) else agged
  }

  /** fold over every present value; EMPTY input → EMPTY scalar, not the
    * monoid identity (expr.py:196-206; SURVEY §7.4 hard part 4) —
    * the isNotNull filter implements that guard.
    */
  protected def foldAll(m: Monoid): GrbScalar = {
    val d = if (m.preserve) declared else None
    new GrbScalar(Grb.uintGuard(
      df.agg(aggPreserve(m).as("v")).filter(col("v").isNotNull), d), d)
  }

  // ---- equality (base.py:35-92) ----
  def isequal(other: C, checkDtype: Boolean = false): Boolean =
    dims == other.dims && (!checkDtype || dtype == other.dtype) &&
      isequalScalar(other).boolValue

  /** isequal as a LAZY 1-row boolean scalar: same-structure,
    * same-values full-outer comparison folded to a count of
    * mismatches, with the metadata (shape/dtype) comparison baked in as
    * a literal — lets equality participate in lazy pipelines and be
    * driver-verified as a query.
    */
  def isequalScalar(other: C, checkDtype: Boolean = false): GrbScalar = {
    val meta = dims == other.dims && (!checkDtype || dtype == other.dtype)
    val mismatches = valuesAs(df, "_av").join(valuesAs(other.df, "_bv"), keys, "full_outer")
      .filter(col("_av").isNull || col("_bv").isNull || col("_av") =!= col("_bv"))
    new GrbScalar(mismatches.agg((count(lit(1)) === 0 && lit(meta)).as("v")))
  }

  def isclose(other: C, relTol: Double = 1e-7, absTol: Double = 0.0): Boolean =
    dims == other.dims && iscloseScalar(other, relTol, absTol).boolValue

  /** isclose as a LAZY 1-row boolean scalar — the tolerance sibling of
    * isequalScalar (base.py:35-92): same structure and
    * |a−b| ≤ atol + rtol·|b| per key, folded to one mismatch count.
    * The predicate is IEEE-deterministic (fixed operand order), so an
    * external engine reproduces the boolean bit-for-bit.
    */
  def iscloseScalar(other: C, relTol: Double = 1e-7, absTol: Double = 0.0): GrbScalar = {
    val meta = dims == other.dims
    def asDouble(d: DataFrame, name: String) =
      d.select(keys.map(col) :+ col("v").cast(DoubleType).as(name): _*)
    val mismatches = asDouble(df, "_av").join(asDouble(other.df, "_bv"), keys, "full_outer")
      .filter(col("_av").isNull || col("_bv").isNull ||
        abs(col("_av") - col("_bv")) > lit(absTol) + lit(relTol) * abs(col("_bv")))
    new GrbScalar(mismatches.agg((count(lit(1)) === 0 && lit(meta)).as("v")))
  }

  /** merge an operation result into this collection under a descriptor —
    * the `C(mask, accum, replace) << expr` write path.
    */
  def accept(result: C, desc: Desc): C =
    derive(Merge(df, result.df, keys, desc), declared)

  /** lineage checkpoint for iterative algorithms (base.py:345-346
    * persist; SURVEY §3.4) — cache + localCheckpoint truncates the plan.
    */
  def persist(): C = derive(df.localCheckpoint(true), declared)

  // ---- extract (SURVEY §2.3) ----
  /** `C << A[ix_0, ix_1, …]`, one pass per key column: All passes
    * through; At/Range are a filter + arithmetic reindex (no join — a
    * `spark.range(10^11)` build side for a no-op was round-1's top
    * scale hazard); Seqs/Dist pay an order- and duplicate-preserving
    * gather join against the (pos, idx) mapping (replaces the
    * reference's data×index chunk meshpoint/defrag machinery,
    * expr.py:1108-1245). `sizeHints(k) >= 0` supplies a Dist axis's
    * length so callers in loops (FastSV) skip a count() action per call.
    */
  protected def extractAxes(ixs: Seq[Ix], inputMask: Option[Mask],
      sizeHints: Seq[Long]): C = {
    val src = inputMask.fold(df)(_.filter(df, keys))
    val (out, newDims) = keys.indices.foldLeft((src, Vector.empty[Long])) {
      case ((d, ds), k) =>
        val (key, dim) = (keys(k), dims(k))
        Ix.normalize(ixs(k), dim) match {
          case Ix.All => (d, ds :+ dim)
          case norm @ (Ix.At(_) | Ix.Range(_, _, _)) =>
            val pred = Ix.predicate(norm, col(key), dim).get
            val pos = Ix.position(norm, col(key), dim).get
            (rekeyed(d.filter(pred), key, pos), ds :+ Ix.length(norm, dim).get)
          case norm =>
            val idx = Ix.toDF(spark, norm, dim)
            val len = Ix.length(norm, dim)
              .getOrElse(if (sizeHints(k) >= 0) sizeHints(k) else idx.count())
            val joined = d.join(idx.withColumnRenamed("idx", key), Seq(key))
            (rekeyed(joined, key, col("pos")), ds :+ len)
        }
    }
    derive(out, declared, newDims)
  }

  // ---- assign (SURVEY §2.7) ----
  /** one axis of an assign region: `tag` (r = row axis, c = column
    * axis) names its helper columns `_<tag>pos`, `_<tag><key>`, `_<tag>in`
    */
  private final class RegionAxis(val key: String, ix: Ix, val dim: Long, tag: String) {
    val norm: Ix = Ix.normalize(ix, dim)
    /** membership as a filter, when the index is expressible as one */
    val pred: Option[Column] = Ix.predicate(norm, col(key), dim)
    val pos = s"_${tag}pos"
    val idxCol = s"_$tag$key"
    val flag = s"_${tag}in"
    /** (pos, idx) mapping; last-duplicate-wins on the global index:
      * keep the value at max pos (expr.py:1463-1499 _uniquify) — only
      * list/distributed indices can carry duplicates, so All/Range/At
      * skip the dedup aggregate
      */
    lazy val idx: DataFrame = (norm match {
      case Ix.All | Ix.Range(_, _, _) | Ix.At(_) => Ix.toDF(spark, norm, dim)
      case _ => Ix.toDF(spark, norm, dim).groupBy("idx").agg(max("pos").as("pos"))
    }).select(col("pos").as(pos), col("idx").as(idxCol))
    /** rows of `d` whose key lies in this axis's index set */
    def within(d: DataFrame): DataFrame = pred.map(p => d.filter(p)).getOrElse(
      d.join(idx.select(col(idxCol).as(key)), Seq(key), "left_semi"))
    /** move a region-shaped value's key onto the region: All =
      * identity, Range = arithmetic reindex, otherwise a join
      */
    def place(d: DataFrame): DataFrame = norm match {
      case Ix.All => d
      case Ix.Range(a, _, s) => rekeyed(d, key, lit(a) + col(key) * lit(s))
      case _ => rekeyed(d.join(idx.withColumnRenamed(pos, key), Seq(key)), key, col(idxCol))
    }
  }

  /** C(mask, accum, replace)[ix_0, …] << obj  (GrB_assign) and
    * C[ix_0, …](mask, accum, replace) << obj  (GxB_subassign, mask
    * scoped to the region). One recipe (expr.py:1506-1785 collapsed):
    *   1. Z_region = region-merge of newVals into C's region (accum)
    *   2. Z        = outside ∪ Z_region
    *   3. C'       = mask-merge(C, Z) — full-frame for assign,
    *                 region-scoped for subassign.
    * The region is the product of the axes' index sets. value: a scalar
    * Column (broadcast to the region) or a region-shaped collection.
    * Duplicate indices: LAST wins (expr.py:1463-1499 _uniquify).
    */
  protected def assignAxes(ixs: Seq[Ix], value: Either[Column, C], desc: Desc,
      subassign: Boolean): C = {
    val axes = keys.indices.map(k =>
      new RegionAxis(keys(k), ixs(k), dims(k), Seq("r", "c")(k)))
    val newVals: DataFrame = value match {
      case Left(s) =>
        // a scalar fill of a region is dense by definition; when a
        // non-complemented mask is present only mask-covered keys can
        // survive the merge, so enumerate those instead of the region
        desc.mask match {
          case Some(m) if !m.complement =>
            axes.foldLeft(m.coveredKeys(keys))((d, a) => a.within(d)).select(keyed(s): _*)
          case _ =>
            axes.map(_.idx).reduce(_ crossJoin _)
              .select(axes.map(a => col(a.idxCol).as(a.key)) :+ s.as("v"): _*)
        }
      case Right(c) =>
        // grblas raises DimensionMismatch when the value's shape is
        // not the region's shape — also what keeps the arithmetic
        // reindex from writing outside the region
        axes.zip(c.dims).foreach { case (a, d) =>
          Ix.length(a.norm, a.dim).foreach(len =>
            if (d != len) GraphblasException.dimensionMismatch(
              s"assign value extent $d on ${a.key} vs region $len"))
        }
        axes.foldLeft(c.df)((d, a) => a.place(d)).select(coo: _*)
    }
    // region membership without a dense keys crossJoin: filter when the
    // axis is predicate-expressible, left-join flags otherwise
    var flagged = df
    val in = axes.map(a => a.pred.getOrElse {
      flagged = flagged.join(
        a.idx.select(col(a.idxCol).as(a.key), lit(true).as(a.flag)), Seq(a.key), "left")
      col(a.flag).isNotNull
    }).reduce(_ && _)
    val inside = flagged.filter(in).select(coo: _*)
    val outside = flagged.filter(!in).select(coo: _*)
    val out =
      if (subassign) {
        // mask/replace confined to the region (expr.py:1446-1452)
        outside.unionByName(Merge(inside, newVals, keys, desc))
      } else {
        val zRegion = desc.accum.fold(newVals)(acc => Merge.outerAccum(inside, newVals, keys, acc))
        // full-frame mask merge; accum already applied in step 1
        // (replace deletes uncovered entries even OUTSIDE the region —
        //  expr.py:1041-1057)
        Merge(df, outside.unionByName(zRegion), keys, Desc(desc.mask, None, desc.replace))
      }
    derive(out, declared)
  }
}

/** The GrbVector and GrbMatrix companions' builders (reference
  * vector.py:100-160,448-504 and matrix.py:81-248), written once over
  * the key columns; each companion keeps its own arity as thin forms.
  * `kind` and `dimsName` word the reference-pinned messages.
  */
private[graft] abstract class GrbCollectionCompanion[C <: GrbCollection[C]](
    val KEYS: Seq[String], kind: String, dimsName: String) {
  /** the raw constructor */
  protected def make(df: DataFrame, dims: Seq[Long], declared: Option[GrbType]): C

  /** the one labelled constructor every derived result goes through:
    * sets the declared dtype and applies [[Grb.uintGuard]] (a no-op in
    * the default `wrap` mode)
    */
  private[graft] def labelled(df: DataFrame, dims: Seq[Long], declared: Option[GrbType]): C =
    make(Grb.uintGuard(df, declared)(Grb.u64Mode(df.sparkSession)), dims, declared)

  private def schema(dtype: GrbType)(implicit m: Grb.U64Mode): StructType =
    StructType(KEYS.map(StructField(_, LongType, nullable = false)) :+
      StructField("v", Grb.store(dtype), nullable = false))

  private[core] def emptyOf(spark: SparkSession, dtype: GrbType, dims: Seq[Long]): C = {
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    labelled(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema(dtype)),
      dims, Some(dtype))
  }

  /** build from (keys, value) entries with optional dup-resolution:
    * dupAgg combines duplicate keys; absent → duplicates are an error.
    * A negative dimension is inferred as 1+max(key).
    */
  protected def fromEntries(spark: SparkSession, entries: Seq[(Seq[Long], Any)],
      dtype: GrbType, dims: Seq[Long], dupAgg: Option[Column => Column]): C = {
    // reference-pinned phrasings (tests/from_grblas/test_vector.py:66,73,
    // test_matrix.py:81,91)
    if (entries.isEmpty && dims.exists(_ < 0)) throw new GraphblasException(
      s"No indices provided. Unable to infer $dimsName.")
    if (dupAgg.isEmpty && entries.map(_._1).distinct.size != entries.size)
      throw new GraphblasException(
        "Duplicate indices found, must provide `dup_op` BinaryOp")
    implicit val m: Grb.U64Mode = Grb.u64Mode(spark)
    val rows = entries.map { case (ix, v) =>
      org.apache.spark.sql.Row.fromSeq(ix :+ Grb.hostValue(v, dtype)) }
    val built = fromFrame(spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema(dtype)), dims, dupAgg)
    labelled(built.df, built.dims, Some(dtype))
  }

  /** distributed construction from an existing COO DataFrame; see
    * [[GrbMatrix.fromDF]] for the index contract and `clusterBy`
    */
  protected def fromFrame(df0: DataFrame, dims: Seq[Long],
      dupAgg: Option[Column => Column], clusterBy: Seq[String] = Nil): C = {
    val base =
      if (clusterBy.nonEmpty) df0.repartition(clusterBy.map(col): _*)
      else df0
    val df = dupAgg match {
      case Some(agg) => base.groupBy(KEYS.map(col): _*).agg(agg(col("v")).as("v"))
      case None      => base.select(KEYS.map(col) :+ col("v"): _*)
    }
    val known =
      if (dims.forall(_ >= 0)) dims
      else {
        val r = df.agg(max(col(KEYS.head)), KEYS.tail.map(k => max(col(k))): _*)
          .collect().head
        dims.indices.map(k => if (dims(k) >= 0) dims(k)
          else Option(r.get(k)).map(_.asInstanceOf[Long] + 1L).getOrElse(0L))
      }
    labelled(df, known, None)
  }

  /** populate an existing, must-be-empty collection: OutputNotEmpty /
    * IndexOutOfBound checks (vector.py:448-504, matrix.py:507-533)
    */
  protected def buildInto(target: C, entries: Seq[(Seq[Long], Any)],
      dupAgg: Option[Column => Column]): C = {
    if (target.nvals != 0L) GraphblasException.outputNotEmpty(kind)
    if (!entries.forall(_._1.zip(target.dims).forall { case (x, d) => x >= 0 && x < d }))
      GraphblasException.indexOutOfBound(
        s"indices must be < shape ${target.dims.mkString("(", ", ", ")")}")
    fromEntries(target.spark, entries, target.dtype, target.dims, dupAgg)
  }
}

/** 1-dim sparse vector: COO DataFrame[(i: Long, v: T)] + logical size.
  * Reference: dask_grblas/vector.py:77-200. The shared collection
  * methods live on [[GrbCollection]].
  */
final class GrbVector(val df: DataFrame, val size: Long,
    private[graft] val declared: Option[GrbType] = None)
    extends GrbCollection[GrbVector] {
  import GrbVector.KEYS

  protected def companion: GrbVector.type = GrbVector
  private[graft] def dims: Seq[Long] = Seq(size)
  protected def requireSameShape(other: GrbVector, op: String): Unit =
    if (size != other.size) GraphblasException.dimensionMismatch(
      s"$op sizes $size vs ${other.size}")

  /** metadata-only when growing; filter when shrinking
    * (vector.py:236-270)
    */
  def resize(newSize: Long): GrbVector =
    new GrbVector(if (newSize >= size) df else df.filter(col("i") < newSize),
      newSize, declared)

  /** positional op: value = index (unary.positioni etc.) */
  def applyPositional: GrbVector = new GrbVector(df.select(col("i"), col("i").as("v")), size)

  // ---- products (SURVEY §2.5) ----
  /** row-vector × matrix (vector.py:423-428): join on this.i == A.i,
    * group by A.j (see [[GrbCollection.contract]]; the row vector is
    * 1×n, so firsti ≡ 0)
    */
  def vxm(a: GrbMatrix, sr: Semiring, broadcastSelf: Boolean = false): GrbVector = {
    if (size != a.nrows) GraphblasException.dimensionMismatch(
      s"vxm size $size vs nrows ${a.nrows}")
    contract(a, sr, None, GrbVector, on = ("i", "i"), key = "i", values = ("_xv", "v"),
      broadcastVector = broadcastSelf)
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
    val outC = Grb.promotedOp(op, col("v"), col("_bv"), dtype, other.dtype)
    val outDF = df.crossJoin(b).select(col("i"), col("j"), outC.as("v"))
    GrbMatrix.labelled(outDF, Seq(size, other.size), promotedDeclared(other, op.preserve, outDF))
  }

  // ---- reductions (SURVEY §2.6) ----
  /** fold over present values, see [[GrbCollection.foldAll]] */
  def reduce(m: Monoid): GrbScalar = foldAll(m)

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

  /** `w << v[index]`: order- and duplicate-preserving gather (see
    * [[GrbCollection.extractAxes]]). `sizeHint` supplies the Dist index
    * length.
    */
  def extract(ix: Ix, inputMask: Option[Mask] = None, sizeHint: Long = -1L): GrbVector =
    extractAxes(Seq(ix), inputMask, Seq(sizeHint))

  /** `w[index] << value`, see [[GrbCollection.assignAxes]] */
  def assign(ix: Ix, value: Either[Column, GrbVector], desc: Desc = Desc.plain,
      subassign: Boolean = false): GrbVector =
    assignAxes(Seq(ix), value, desc, subassign)

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
    derive(Merge(df, z, KEYS, Desc(desc.mask, None, desc.replace)), declared)
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

  /** globally ordered COO extraction (vector.py:506-548) */
  def toValues: Seq[(Long, Any)] =
    df.orderBy("i").collect().toSeq.map(r => (r.getLong(0), r.get(1)))

  def repartitionByIndex(n: Int): GrbVector =
    new GrbVector(df.repartitionByRange(n, col("i")), size, declared)
}

object GrbVector extends GrbCollectionCompanion[GrbVector](Seq("i"), "vector", "size") {
  protected def make(df: DataFrame, dims: Seq[Long], declared: Option[GrbType]): GrbVector =
    new GrbVector(df, dims.head, declared)

  def empty(spark: SparkSession, dtype: GrbType, size: Long): GrbVector =
    emptyOf(spark, dtype, Seq(size))

  /** build from (index, value) pairs (vector.py:100-160); size:
    * explicit, or 1+max(i)
    */
  def fromValues(spark: SparkSession, pairs: Seq[(Long, Any)], dtype: GrbType,
      size: Long = -1L, dupAgg: Option[Column => Column] = None): GrbVector =
    fromEntries(spark, pairs.map { case (i, v) => (Seq(i), v) }, dtype, Seq(size), dupAgg)

  def fromDF(df0: DataFrame, size: Long = -1L,
      dupAgg: Option[Column => Column] = None): GrbVector =
    fromFrame(df0, Seq(size), dupAgg)

  def build(target: GrbVector, pairs: Seq[(Long, Any)],
      dupAgg: Option[Column => Column] = None): GrbVector =
    buildInto(target, pairs.map { case (i, v) => (Seq(i), v) }, dupAgg)
}

/** 2-dim sparse matrix: COO DataFrame[(i, j, v)] + (nrows, ncols).
  * Reference: dask_grblas/matrix.py:43-248. Transpose is a zero-shuffle
  * lazy projection (matrix.py:682-753 TransposedMatrix). The shared
  * collection methods live on [[GrbCollection]].
  */
final class GrbMatrix(val df: DataFrame, val nrows: Long, val ncols: Long,
    private[graft] val declared: Option[GrbType] = None)
    extends GrbCollection[GrbMatrix] {
  protected def companion: GrbMatrix.type = GrbMatrix
  private[graft] def dims: Seq[Long] = Seq(nrows, ncols)
  protected def requireSameShape(other: GrbMatrix, op: String): Unit =
    if (shape != other.shape) GraphblasException.dimensionMismatch(
      s"$op shapes $shape vs ${other.shape}")

  def shape: (Long, Long) = (nrows, ncols)

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

  /** positional: value = row index (positioni) or col index (positionj) */
  def applyPositional(rowIndex: Boolean): GrbMatrix =
    new GrbMatrix(df.select(col("i"), col("j"),
      (if (rowIndex) col("i") else col("j")).as("v")), nrows, ncols)

  // ---- products (SURVEY §2.5: the heart of the engine) ----
  /** C(i,k) = ⊕_j A(i,j) ⊗ B(j,k), through [[GrbCollection.contract]]:
    * the reference's two hand-rolled matmul strategies (expr.py:43-164)
    * collapse to one equi-join + hash aggregate. A mask semi-joins the
    * products BEFORE the aggregate, as `_matmul2_masked` pushes it into
    * the block products (expr.py:147-160,1967-1971).
    *
    * SpGEMM placement. The join is HINTED merge: size heuristics see
    * the OPERANDS, never the product, and a broadcast matrix side makes
    * all Σ_k nnz_A(k)·nnz_B(k) products inside the other side's few
    * scan tasks, whose partial aggregates then hold near-output state
    * (17.2M-cell product at 32 cores: unhinted 20-35 s, GC-bound;
    * hinted 4-7 s). merge over shuffle_hash (tied at 2.6-7 s):
    * sort-merge spills gracefully on hub columns, and a shuffle_hash
    * hint cost q_mxm_bucketed 2×. Two cases stay UNHINTED:
    *  - MASKED products: the mask bounds per-task aggregate state by
    *    nnz(mask) wherever the products are made, and Catalyst's
    *    broadcast plan is better (hinting cost q_clustering 1.2 → 4.6 s,
    *    q_ktruss 2.4 → 3.5 s: per-round exchanges in tight loops);
    *  - an operand read from a table BUCKETED on the contracted key
    *    (BucketedCoo): its clustering was paid at write time, and the
    *    hint re-shaped its exchange-free plan to per-bucket sorts
    *    (q_mxm_bucketed ~1.7×, ABBA'd).
    * Unmasked products whose shape fits int64 aggregate on ONE packed
    * key i·ncols + j: the partial aggregate (it hashes every product
    * row) keys on one 8-byte column, and the exchange carries 16-byte
    * rows instead of 24. Unpack is exact integer DIV / % (a double
    * floor corrupts keys past 2^53). Masked products stay on (i, j):
    * the mask's semi-join already clusters the stream by (i, j), and
    * packing there added an exchange (q_triangle 13 → 14).
    */
  def mxm(other: GrbMatrix, sr: Semiring, mask: Option[Mask] = None): GrbMatrix = {
    if (ncols != other.nrows) GraphblasException.dimensionMismatch(
      s"mxm ncols $ncols vs nrows ${other.nrows}")
    contract(other, sr, mask, GrbMatrix, on = ("j", "i"), key = "_k", values = ("_av", "_bv"))
  }

  /** matrix × column vector (matrix.py:449-454), through
    * [[GrbCollection.contract]]. broadcastVec FORCES a broadcast of the
    * vector, skipped when its size says it could not fit an executor
    * (AQE may still broadcast at runtime).
    *
    * No merge hint, unlike mxm (do not "consistency-fix" it): a vector
    * holds ≤ 1 value per k, so its products number at most nnz(A) and
    * the broadcast plan's per-task aggregate state is bounded by the
    * task's own matrix rows — mxm's quadratic blow-up cannot arise;
    * vxm has the same bound. Pinned in PlanAuditSpec ("mxv keeps the
    * broadcast plan").
    */
  def mxv(vec: GrbVector, sr: Semiring, mask: Option[Mask] = None,
      broadcastVec: Boolean = true): GrbVector = {
    if (ncols != vec.size) GraphblasException.dimensionMismatch(
      s"mxv ncols $ncols vs size ${vec.size}")
    // the column vector is n×1, so secondj ≡ 0
    contract(vec, sr, mask, GrbVector, on = ("j", "i"), key = "j", values = ("v", "_xv"),
      broadcastVector = broadcastVec)
  }

  /** Kronecker product — declared-but-unimplemented in the reference
    * (matrix.py:461-464 builds meta; expr.py:255-279 has no branch →
    * ValueError). Implemented here for GraphBLAS-spec parity.
    */
  def kronecker(other: GrbMatrix, op: BinaryOp): GrbMatrix = {
    val b = other.df.select(col("i").as("_bi"), col("j").as("_bj"), col("v").as("_bv"))
    val outC = Grb.promotedOp(op, col("v"), col("_bv"), dtype, other.dtype)
    val outDF = df.crossJoin(b).select(
      (col("i") * other.nrows + col("_bi")).as("i"),
      (col("j") * other.ncols + col("_bj")).as("j"),
      outC.as("v"))
    derive(outDF, promotedDeclared(other, op.preserve, outDF),
      Seq(nrows * other.nrows, ncols * other.ncols))
  }

  // ---- reductions (SURVEY §2.6) ----
  /** per-row fold (matrix.py:480-482): partial+final hash agg is the
    * reference's per-chunk reduce + ewise_add-of-partials combine
    * (expr.py:1844-1869).
    */
  def reduceRowwise(m: Monoid): GrbVector = {
    val out = df.groupBy("i").agg(aggPreserve(m).as("v"))
    GrbVector.labelled(out, Seq(nrows), carriedOut(m.preserve, out))
  }
  def reduceColumnwise(m: Monoid): GrbVector = {
    val out = df.groupBy("j").agg(aggPreserve(m).as("v"))
      .withColumnRenamed("j", "i")
    GrbVector.labelled(out, Seq(ncols), carriedOut(m.preserve, out))
  }
  def reduceScalar(m: Monoid): GrbScalar = foldAll(m)
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

  /** submatrix extract C << A[rows, cols], see
    * [[GrbCollection.extractAxes]]
    */
  def extract(rowIx: Ix, colIx: Ix, inputMask: Option[Mask] = None): GrbMatrix =
    extractAxes(Seq(rowIx, colIx), inputMask, Seq(-1L, -1L))

  // ---- assign (SURVEY §2.7) ----
  /** submatrix assign, see [[GrbCollection.assignAxes]]; a GrbVector
    * goes into a row/col band via assignRow/assignCol
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
    assignAxes(Seq(rowIx, colIx), value, desc, subassign)
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

  def toValues: Seq[(Long, Long, Any)] =
    df.orderBy("i", "j").collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.get(2)))

  /** co-partition by row key — lets downstream joins/aggregations on i
    * reuse the exchange (rechunk analogue, matrix.py:637-642)
    */
  def repartitionByRow(n: Int): GrbMatrix =
    new GrbMatrix(df.repartitionByRange(n, col("i")), nrows, ncols, declared)
}

object GrbMatrix extends GrbCollectionCompanion[GrbMatrix](
    Seq("i", "j"), "matrix", "nrows and ncols") {
  protected def make(df: DataFrame, dims: Seq[Long], declared: Option[GrbType]): GrbMatrix =
    new GrbMatrix(df, dims(0), dims(1), declared)

  def empty(spark: SparkSession, dtype: GrbType, nrows: Long, ncols: Long): GrbMatrix =
    emptyOf(spark, dtype, Seq(nrows, ncols))

  def fromValues(spark: SparkSession, triples: Seq[(Long, Long, Any)], dtype: GrbType,
      nrows: Long = -1L, ncols: Long = -1L,
      dupAgg: Option[Column => Column] = None): GrbMatrix =
    fromEntries(spark, triples.map { case (i, j, v) => (Seq(i, j), v) }, dtype,
      Seq(nrows, ncols), dupAgg)

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
    * When dims are INFERRED (a max(i)/max(j) pass), the contract
    * holds by construction for non-negative indexes.
    *
    * `clusterBy`: pre-cluster the raw COO on the column the CONSUMER
    * will key on (guide §2.4: operations keyed the same way share one
    * exchange): the dedup aggregate satisfies its distribution from
    * this single exchange (subset rule — hash(j) clusters (i, j)), and
    * the downstream contraction join / rowwise reduce then reuses the
    * SAME partitioning instead of re-exchanging the deduped frame —
    * q_mxm drops from 5 Exchanges to 3, mxv/rowwise-reduce from 2 to
    * 1. Caller-declared, because only the caller knows the consumer's
    * key. Trade-off, recorded: the RAW rows ride the one exchange
    * instead of the dedup output riding a second one — a win unless
    * the dup factor is large (lineitem's (i,j) dup factor is ~1.07;
    * a caller with heavily duplicated COO input should keep the
    * map-side dedup and not declare clusterBy).
    */
  def fromDF(df0: DataFrame, nrows: Long = -1L, ncols: Long = -1L,
      dupAgg: Option[Column => Column] = None,
      clusterBy: Seq[String] = Nil): GrbMatrix =
    fromFrame(df0, Seq(nrows, ncols), dupAgg, clusterBy)

  def build(target: GrbMatrix, triples: Seq[(Long, Long, Any)],
      dupAgg: Option[Column => Column] = None): GrbMatrix =
    buildInto(target, triples.map { case (i, j, v) => (Seq(i, j), v) }, dupAgg)
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
    // a malformed budget warns: maxBytes=1 is how an operator forces
    // the sharded plans, so a typo must not silently leave them
    // broadcasting
    val budget = longConf(spark, "spark.graft.broadcast.maxBytes",
      default = 512L * 1024 * 1024, min = 1L)
    math.max(1L, budget / rowBytes)
  }

  /** a whole-number session conf: absent → `default`; a value that
    * does not parse or is below `min` warns on stderr (on every read)
    * and falls back to `default`, so a typo never silently reverts a
    * sizing conf
    */
  private[graft] def longConf(spark: SparkSession, key: String,
      default: Long, min: Long): Long =
    spark.conf.getOption(key).fold(default) { raw =>
      scala.util.Try(raw.trim.toLong).toOption.filter(_ >= min).getOrElse {
        System.err.println(s"graft: ignoring unparsable conf $key='$raw' " +
          s"(want a whole number >= $min); using default=$default")
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

  /** `op(a, b)` for operands of dtypes `aType` and `bType`: dispatched
    * in their GraphBLAS-promoted domain ([[binOp]]) and cast back into
    * it when the op preserves the domain — the ewise, outer, kronecker
    * and semiring-mult value column
    */
  private[core] def promotedOp(op: BinaryOp, a: Column, b: Column,
      aType: GrbType, bType: GrbType)(implicit m: U64Mode): Column = {
    val promoted = GrbType.promote(aType, bType)
    val out = binOp(op, a, b, promoted)
    if (op.preserve) castTo(out, promoted) else out
  }

  /** accumulator dispatch keyed on the target's physical type (merges
    * fix the output domain from C's store, not a promoted dtype)
    */
  private[core] def accumOp(accum: BinaryOp, a: Column, b: Column,
      outType: DataType)(implicit m: U64Mode): Column =
    if (m.wide && outType == DecimalType(20, 0) && accum.name == "times") mulMod64(a, b)
    else accum(a, b)

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
