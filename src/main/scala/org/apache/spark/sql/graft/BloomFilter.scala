// Hosted under the Spark namespace: AbstractDataType and the classic
// Column<->Expression converters are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Deterministic Bloom filter (m = 65536 bits, k = 4 hashes).
  *
  * The set-membership PREFILTER for ingest-time dedup: the corpus
  * ledger's digests aggregate into one 8 KiB bit array that
  * BROADCASTS to every executor, so an arriving batch answers "seen
  * before?" with four bit tests per document — no shuffle, no join —
  * and only the bloom-positive sliver pays the exact ledger probe.
  * No false negatives ever (a set bit is never cleared, merge is
  * bitwise OR), so the prefilter cannot lose a duplicate; false
  * positives only send a few extra rows to the exact confirm, never
  * into the verdict. FP rate = (1 − e^(−k·n/m))^k — ~10⁻⁹ at the
  * bench ledger (n ≈ 400), ~2.4% at n = 8192 (n/m = ⅛). m is a
  * compile-time constant sized for one state per ledger SHARD: at
  * billions of keys, shard the ledger (store it bucketed on the
  * digest), keep one filter state per shard, and route each probe to
  * its shard's filter — states stay broadcast-sized and the FP rate
  * is set by shard fan-out, not corpus size.
  *
  * Determinism contract: the k bit positions are the low 16 bits of
  * disjoint 8-hex-char md5 windows (graft.pipeline.Sketch
  * .bloomPacked — same 16-bit-lane packing as the CMS), add/merge
  * are bitwise OR — order-free and idempotent — so the filter is a
  * pure function of the input SET and the DuckDB oracle mirrors it as
  * `DISTINCT position` rows with membership = "all k positions
  * present".
  */
object Bloom extends SketchMonoid[Array[Byte]]("bloom") {
  val Bits = 65536
  val Bytes: Int = Bits / 8 // 8 KiB serialized
  val Hashes = 4
  def stateBytes: Int = Bytes

  def empty(): Array[Byte] = new Array[Byte](Bytes)

  def add(bits: Array[Byte], packed: Long): Unit = {
    var i = 0
    while (i < Hashes) {
      val pos = lane(i, packed)
      bits(pos >>> 3) = (bits(pos >>> 3) | (1 << (pos & 7))).toByte
      i += 1
    }
  }

  def merge(into: Array[Byte], other: Array[Byte]): Unit = {
    var i = 0
    while (i < Bytes) { into(i) = (into(i) | other(i)).toByte; i += 1 }
  }

  def toBytes(bits: Array[Byte]): Array[Byte] = bits
  protected def decode(state: Array[Byte]): Array[Byte] = state.clone()

  /** Membership of a well-formed state: true iff ALL k of the key's
    * bits are set.
    */
  def maybe(bits: Array[Byte], packed: Long): Boolean = {
    var all = true
    var i = 0
    while (all && i < Hashes) {
      val pos = lane(i, packed)
      all = (bits(pos >>> 3) & (1 << (pos & 7))) != 0
      i += 1
    }
    all
  }

  @inline private def lane(i: Int, packed: Long): Int = ((packed >>> (16 * i)) & 0xffffL).toInt
}

/** Bloom-filter aggregate: the m-bit array (BinaryType) — persistable
  * next to the ledger shard; roll up with [[BloomMergeState]], probe
  * with [[BloomMaybe]].
  */
object BloomState {
  def apply(packed: Column): Column = Bloom.state(packed)
}

/** Union of persisted [[BloomState]] arrays: bitwise OR — associative,
  * commutative, idempotent, so merge(states of parts) == state of the
  * union bit-for-bit, and re-merging the same shard twice is harmless
  * (exactly the property an at-least-once ingest ledger needs).
  */
object BloomMergeState {
  def apply(state: Column): Column = Bloom.mergeStates(state)
}

/** Membership probe ([[Bloom.maybe]]) — the four-bit test that answers
  * "maybe seen" against a broadcast filter state. Null on a malformed
  * state.
  */
case class BloomMaybe(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true

  override def nullSafeEval(state: Any, packed: Any): Any =
    Bloom.readOrNull(state)(Bloom.maybe(_, packed.asInstanceOf[Long]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (st, pk) => Bloom.readCode(ev, "maybe", st, pk))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMaybe =
    copy(left = newLeft, right = newRight)
}

object BloomMaybe {
  def apply(state: Column, packed: Column): Column =
    ExpressionUtils.column(BloomMaybe(
      ExpressionUtils.expression(state), ExpressionUtils.expression(packed)))
}
