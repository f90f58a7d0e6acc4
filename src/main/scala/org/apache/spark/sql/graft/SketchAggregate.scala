// Hosted under the Spark namespace: AbstractDataType and the classic
// Column<->Expression converters are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.ExprCode
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** A sketch family's algebra: a monoid over a fixed-size buffer `B`
  * ([[empty]] is the identity, [[merge]] the associative, order-free
  * combine) that folds 64-bit keys in with [[add]] and persists as a
  * `stateBytes`-long byte state. [[Hll]] (register max), [[Cms]]
  * (counter sum) and [[Bloom]] (bit OR) each implement it once; the
  * one Catalyst aggregate over any of them is [[SketchAggregate]].
  *
  * Because merge is associative and order-free, the map-side partial
  * reduces any number of input rows to one buffer before the
  * exchange, and merge(states of parts) == state of the union,
  * bit-for-bit: persisted states (per window/shard/day) roll up
  * without rescanning the raw keys.
  *
  * Each family's read of a persisted state (estimate, probe) is a
  * plain method on its object; the read expressions' generated code
  * CALLS it ([[readCode]]) instead of inlining the loop, the pattern
  * [[QuantizedDot]] uses with [[GraftDot.macc]] (PERF_NOTES §17).
  */
abstract class SketchMonoid[B <: AnyRef](val family: String) extends Serializable {
  /** length of the persisted state */
  def stateBytes: Int
  /** what a well-formed state looks like, for the malformed-state error */
  protected def form: String = s"a $stateBytes-byte state"

  def empty(): B
  def add(buf: B, key: Long): Unit
  def merge(into: B, other: B): Unit
  /** the persisted form; may share memory with `buf` */
  def toBytes(buf: B): Array[Byte]
  /** a fresh buffer holding a well-formed `state` */
  protected def decode(state: Array[Byte]): B

  /** Whether `state` came from this family: states are read back from
    * storage outside the program, so every read and merge checks.
    */
  def wellFormed(state: Array[Byte]): Boolean = state.length == stateBytes

  final def fromBytes(state: Array[Byte]): B = {
    if (!wellFormed(state)) throw new IllegalArgumentException(
      s"graft_$family: malformed state (${state.length} bytes); expected $form")
    decode(state)
  }

  /** Interpreted read: `read(state)`, or null on a malformed state. */
  private[graft] def readOrNull(state: Any)(read: Array[Byte] => Any): Any = {
    val bytes = state.asInstanceOf[Array[Byte]]
    if (wellFormed(bytes)) read(bytes) else null
  }

  /** Generated read: a static call of the family's compiled `read` on
    * `state` and `args`, or null on a malformed state.
    */
  private[graft] def readCode(ev: ExprCode, read: String, state: String, args: String*): String = {
    val obj = getClass.getName.stripSuffix("$")
    s"""
       |if ($obj.wellFormed($state)) {
       |  ${ev.value} = $obj.$read(${(state +: args).mkString(", ")});
       |} else {
       |  ${ev.isNull} = true;
       |}
     """.stripMargin
  }

  /** Column-level aggregate of keys (BIGINT) into a state (BINARY). */
  def state(key: Column): Column = aggregate(merging = false, key)
  /** Column-level union of persisted states into one state. */
  def mergeStates(state: Column): Column = aggregate(merging = true, state)

  private def aggregate(merging: Boolean, c: Column): Column = ExpressionUtils.column(
    SketchAggregate(this, merging, ExpressionUtils.expression(c)).toAggregateExpression())
}

/** The one sketch aggregate: folds a group's keys (`merging = false`,
  * a BIGINT child, SQL `graft_<family>_state`) or persisted states
  * (`merging = true`, a BINARY child, SQL `graft_<family>_merge`) into
  * the family's buffer with its [[SketchMonoid]], and returns the
  * state (BINARY). Null inputs are skipped; a malformed state fails
  * the merge. As a TypedImperativeAggregate it plans as an
  * ObjectHashAggregate with a map-side partial.
  */
case class SketchAggregate[B <: AnyRef](
    monoid: SketchMonoid[B],
    merging: Boolean,
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] with ExpectsInputTypes {

  override def prettyName: String =
    s"graft_${monoid.family}_${if (merging) "merge" else "state"}"
  // the monoid and mode are in the name; plans show the child and offsets
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(if (merging) BinaryType else LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): B = monoid.empty()

  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) {
      if (merging) monoid.merge(buf, monoid.fromBytes(v.asInstanceOf[Array[Byte]]))
      else monoid.add(buf, v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(into: B, other: B): B = { monoid.merge(into, other); into }

  override def eval(buf: B): Any = monoid.toBytes(buf)
  override def serialize(buf: B): Array[Byte] = monoid.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): B = monoid.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAggregate[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAggregate[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAggregate[B] =
    copy(child = newChildren(0))
}
