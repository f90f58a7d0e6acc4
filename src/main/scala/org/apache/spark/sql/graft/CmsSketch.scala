// Hosted under the Spark namespace: AbstractDataType and the classic
// Column<->Expression converters are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Deterministic Count-Min sketch (depth d = 4, width w = 1024).
  *
  * Point-frequency telemetry at corpus scale: the buffer is a d×w
  * grid of 64-bit counters (32 KiB serialized); `add` bumps one
  * counter per row at the key's md5-derived column, `merge` is
  * elementwise SUM — associative and order-free, so the map-side
  * partial reduces ANY number of token occurrences to one 32 KiB
  * state before the exchange. A frequency watchlist over 100 TB
  * shuffles one grid per (group, partition) instead of expanding
  * every distinct token the way an exact `GROUP BY token` does, and
  * persisted per-shard states roll up by pure counter addition
  * ([[CmsMergeState]]) without rescanning the raw keys.
  *
  * Determinism contract (why this approximate sketch hash-matches
  * across engines): the d column indices come from disjoint 8-hex-char
  * windows of md5(key) mod w — identical in any engine — and both
  * add and merge are integer sums, so the grid is a pure function
  * of the input MULTISET. The estimate for a key is the MIN over its
  * d counters (classic CMS upper bound: over-counts only via
  * collisions, error ≤ e·N/w with prob 1−e^−d). The DuckDB oracle
  * mirrors the grid as `GROUP BY (row, column)` counts and takes the
  * same MIN — bit-identical despite the approximation.
  *
  * Input is the PACKED position vector (see
  * graft.pipeline.Sketch.cmsPacked): pos_i in 16-bit lanes of one
  * long, `packed = Σ_i pos_i << 16i`, computed by codegen md5/conv
  * expressions outside the aggregate so the hot loop is two shifts
  * and an array bump per row.
  */
object Cms extends SketchMonoid[Array[Long]]("cms") {
  val Depth = 4
  val Width = 1024
  val Cells: Int = Depth * Width // 4096 longs, 32 KiB serialized
  def stateBytes: Int = Cells * 8

  def empty(): Array[Long] = new Array[Long](Cells)

  def add(counts: Array[Long], packed: Long): Unit = {
    var r = 0
    while (r < Depth) { counts(cell(r, packed)) += 1L; r += 1 }
  }

  def merge(into: Array[Long], other: Array[Long]): Unit = {
    var i = 0
    while (i < Cells) { into(i) += other(i); i += 1 }
  }

  /** the grid as big-endian longs, row-major */
  def toBytes(counts: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(stateBytes)
    bb.asLongBuffer().put(counts)
    bb.array()
  }

  protected def decode(state: Array[Byte]): Array[Long] = {
    val counts = new Array[Long](Cells)
    java.nio.ByteBuffer.wrap(state).asLongBuffer().get(counts)
    counts
  }

  /** Point estimate of a well-formed state: the min over the key's d
    * counters, read in place.
    */
  def estimate(state: Array[Byte], packed: Long): Long = {
    val bb = java.nio.ByteBuffer.wrap(state)
    var best = Long.MaxValue
    var r = 0
    while (r < Depth) { best = math.min(best, bb.getLong(cell(r, packed) * 8)); r += 1 }
    best
  }

  /** grid index of row r's counter: the r-th 16-bit lane mod w */
  @inline private def cell(r: Int, packed: Long): Int =
    r * Width + (((packed >>> (16 * r)) & 0xffffL).toInt & (Width - 1))
}

/** Count-Min aggregate: the d×w counter grid as a 32 KiB binary
  * state — the PERSISTABLE form (write it next to the shard/day
  * partition; roll up later with [[CmsMergeState]]).
  */
object CmsState {
  def apply(packed: Column): Column = Cms.state(packed)
}

/** Union of persisted [[CmsState]] grids: elementwise counter sum.
  * Counter addition is associative and order-free, so
  * merge(states of parts) == state of the union, bit-for-bit — the
  * rollup touches 32 KiB per input row, never the raw keys.
  */
object CmsMergeState {
  def apply(state: Column): Column = Cms.mergeStates(state)
}

/** Point estimate ([[Cms.estimate]]) from a persisted grid, as a
  * scalar expression, so a stored sketch answers watchlist probes
  * without re-aggregating anything. Null on a malformed state.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(state: Any, packed: Any): Any =
    Cms.readOrNull(state)(Cms.estimate(_, packed.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (st, pk) => Cms.readCode(ev, "estimate", st, pk))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object CmsEstimate {
  def apply(state: Column, packed: Column): Column =
    ExpressionUtils.column(CmsEstimate(
      ExpressionUtils.expression(state), ExpressionUtils.expression(packed)))
}
