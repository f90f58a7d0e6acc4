// Hosted under the Spark namespace: AbstractDataType and the classic
// Column<->Expression converters are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Deterministic HyperLogLog registers over a 60-bit hash (m = 256
  * buckets, 52-bit rank field), as a [[SketchMonoid]].
  *
  * The buffer and the persisted state are one 256-byte register
  * array; merge is elementwise max, so the map-side partial reduces
  * ANY number of input rows to 256 bytes before the exchange — a
  * distinct-count at 100 TB shuffles one register array per group per
  * partition instead of every distinct key (the `COUNT(DISTINCT)`
  * expand plan). Registers are a pure function of the input key set
  * (md5-derived hash, max is order-free), so the result is
  * bit-identical to a SQL mirror of the same register algebra in any
  * engine — the aggregate stays oracle-checkable despite being
  * approximate.
  *
  * Hash layout (see Sketch.hash60): h ∈ [0, 2^60); bucket = top 8
  * bits (h >>> 52); rank field r = low 52 bits; rho = leading zeros
  * of r within the 52-bit field + 1 = nlz64(r) − 11 (r = 0 ⇒ 53). So
  * every register is in 0..53 (0 = empty bucket); a state with any
  * other register is malformed.
  */
object Hll extends SketchMonoid[Array[Byte]]("hll") {
  def stateBytes: Int = 256
  override protected def form = "a 256-byte register state with every register in 0..53"

  def empty(): Array[Byte] = new Array[Byte](256)

  def add(regs: Array[Byte], h: Long): Unit = {
    val bucket = (h >>> 52).toInt & 255
    val rho = (java.lang.Long.numberOfLeadingZeros(h & ((1L << 52) - 1)) - 11).toByte
    if (rho > regs(bucket)) regs(bucket) = rho
  }

  def merge(into: Array[Byte], other: Array[Byte]): Unit = {
    var i = 0
    while (i < 256) { if (other(i) > into(i)) into(i) = other(i); i += 1 }
  }

  def toBytes(regs: Array[Byte]): Array[Byte] = regs
  protected def decode(state: Array[Byte]): Array[Byte] = state.clone()

  override def wellFormed(state: Array[Byte]): Boolean = {
    var ok = state.length == 256
    var i = 0
    while (ok && i < 256) { ok = state(i) >= 0 && state(i) <= 53; i += 1 }
    ok
  }

  /** `sum_scaled = Σ_b 2^(53 − reg[b])` of a well-formed state, as a
    * BIGINT (empty bucket ⇒ reg 0 ⇒ 2^53; max 256·2^53 < 2^62):
    * summing the HLL indicator in integer space sidesteps double
    * summation-order nondeterminism. The caller turns it into the
    * raw-HLL estimate — see graft.pipeline.Sketch.estMilli (the raw
    * estimator is used at every range, no small-range linear-counting
    * switch, so the value is deterministic and engine-portable by
    * construction).
    */
  def estimate(regs: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < 256) { sum += 1L << (53 - regs(i)); i += 1 }
    sum
  }
}

/** `sum_scaled` over the group's hashes: [[HllEstimate]] of
  * [[HllState]] (SQL `graft_hll`).
  */
object HllRegisters {
  def apply(hash: Column): Column = HllEstimate(HllState(hash))
}

/** The group's register array itself (BinaryType) — the PERSISTABLE
  * form. States written per window/shard/day union later with
  * [[HllMergeState]] without rescanning the raw keys.
  */
object HllState {
  def apply(hash: Column): Column = Hll.state(hash)
}

/** Union of persisted [[HllState]] register arrays: elementwise max.
  * The rollup aggregate of the sketch-ledger workflow — daily states
  * merge into weekly/all-time states (and states from different
  * shards into a global one) touching 256 bytes per input row, never
  * the raw keys. Returns the merged state; estimate with
  * [[HllEstimate]].
  */
object HllMergeState {
  def apply(state: Column): Column = Hll.mergeStates(state)
}

/** `sum_scaled` ([[Hll.estimate]]) from a persisted register state,
  * as a scalar expression, so a stored sketch estimates without
  * re-aggregating anything. Null on a malformed state.
  */
case class HllEstimate(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(state: Any): Any = Hll.readOrNull(state)(Hll.estimate)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, st => Hll.readCode(ev, "estimate", st))

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}

object HllEstimate {
  def apply(state: Column): Column =
    ExpressionUtils.column(HllEstimate(ExpressionUtils.expression(state)))
}
