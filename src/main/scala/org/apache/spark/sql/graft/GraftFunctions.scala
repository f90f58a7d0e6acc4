// Hosted under the Spark namespace: FunctionRegistry internals and the
// classic SparkSession's sessionState are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType

/** SQL-surface registration for the graft custom expressions, so the
  * engine's Catalyst extensions are first-class `spark.sql(...)`
  * citizens, not Scala-only Column helpers:
  *
  *  - `graft_quantized_dot(a, b)` — exact integer dot product of two
  *    `array<bigint>` quantized vectors (codegen [[QuantizedDot]]);
  *  - `graft_topk(ord, id, k)` — map-side-truncating top-k aggregate
  *    ([[TopKPairs]]); `k` must be an integer literal (it sizes the
  *    aggregation buffer at plan time);
  *  - `graft_<family>_state(key)` / `graft_<family>_merge(state)` for
  *    each sketch monoid — [[Hll]] over a 60-bit hash, [[Cms]] over
  *    the packed 4×16-bit position vector, [[Bloom]] over the same
  *    packing with positions mod 65536 — built from the monoid as the
  *    one [[SketchAggregate]] in its key or merge mode;
  *  - the sketch reads `graft_hll_estimate(state)`,
  *    `graft_cms_estimate(state, packed)` and
  *    `graft_bloom_maybe(state, packed)` ([[HllEstimate]],
  *    [[CmsEstimate]], [[BloomMaybe]]), and `graft_hll(hash)`, the
  *    composite `graft_hll_estimate(graft_hll_state(hash))` that
  *    returns `sum_scaled` ([[HllRegisters]]).
  *
  * Two attachment routes, same descriptors:
  *  - config: `spark.sql.extensions = graft.GraftExtensions` applies
  *    [[inject]] when the session is BUILT (the production route — a
  *    cluster user gets the functions in every session, including
  *    `newSession()` forks, with zero code);
  *  - runtime: [[register]] adds them to an already-running session's
  *    function registry (notebooks attaching graft to a live session).
  */
object GraftFunctions {

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** one descriptor: `usage` is the call shape `name(arg, ...)` */
  private def fn(usage: String, cls: Class[_])(
      b: Seq[Expression] => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = {
    val name = usage.takeWhile(_ != '(')
    val n = usage.count(_ == ',') + 1
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      args => if (args.length == n) b(args)
        else fail(s"$usage takes $n argument(s), got ${args.length}"))
  }

  private val sketches = for {
    m <- Seq(Hll, Cms, Bloom)
    (call, merging) <- Seq("state(key)" -> false, "merge(state)" -> true)
  } yield fn(s"graft_${m.family}_$call", classOf[SketchAggregate[_]])(
    args => SketchAggregate(m, merging, args(0)))

  /** (identifier, info, builder) descriptors, the shape both
    * `SparkSessionExtensions.injectFunction` and
    * `FunctionRegistry.registerFunction` consume.
    */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("graft_quantized_dot(a, b)", classOf[QuantizedDot])(args => QuantizedDot(args(0), args(1))),
    fn("graft_topk(ord, id, k)", classOf[TopKPairs]) { args =>
      // k sizes the fixed aggregation buffer — it must be known at
      // plan time, so only foldable integer expressions are accepted
      val k = args(2) match {
        case e if e.foldable && e.dataType == IntegerType =>
          e.eval() match {
            case i: java.lang.Integer => i.intValue()
            case other => fail(s"graft_topk: k evaluated to $other, expected an integer literal")
          }
        case _ => fail("graft_topk: k must be an integer literal")
      }
      TopKPairs(args(0), args(1), k)
    },
    fn("graft_hll(hash)", classOf[HllEstimate])(args =>
      HllEstimate(SketchAggregate(Hll, merging = false, args(0)).toAggregateExpression())),
    fn("graft_hll_estimate(state)", classOf[HllEstimate])(args => HllEstimate(args(0))),
    fn("graft_cms_estimate(state, packed)", classOf[CmsEstimate])(args => CmsEstimate(args(0), args(1))),
    fn("graft_bloom_maybe(state, packed)", classOf[BloomMaybe])(args => BloomMaybe(args(0), args(1)))
  ) ++ sketches

  /** config-route hook: called by `graft.GraftExtensions` during
    * session build for every descriptor.
    */
  def inject(ext: SparkSessionExtensions): Unit = all.foreach(ext.injectFunction)

  /** runtime-route hook: register into a live session's function
    * registry (idempotent — re-registering replaces the entry).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    all.foreach { case (id, fi, b) => reg.registerFunction(id, fi, b) }
  }
}
