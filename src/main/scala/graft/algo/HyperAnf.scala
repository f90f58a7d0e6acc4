package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.pipeline.Sketch

/** HyperANF (Boldi–Rosa–Vigna WWW'11) — the approximate neighbourhood
  * function: per vertex, the estimated number of vertices within
  * distance t, for every t up to `rounds`. THE at-scale way to read a
  * graph's distance distribution (effective diameter, closeness-like
  * centralities) — an exact per-vertex ball would be n BFS runs;
  * HyperANF carries one 256-byte HyperLogLog per vertex and unions
  * it along edges, so every round is O(nnz) register traffic
  * regardless of ball sizes.
  *
  * B₀(v) = HLL{v};  B_{t+1}(v) = B_t(v) ⊔ ⨆_{u∼v} B_t(u)
  * (register-wise max — associative and order-free, so map-side
  * partial merges are exact and the result is batch-boundary-free).
  *
  * Determinism: the engine's HLL discipline end-to-end (md5-derived
  * `hash60`, max registers, the indicator sum in 2⁵³-scaled integer
  * space, the raw estimator on one IEEE division) — the APPROXIMATE
  * estimate is itself bit-reproducible in any engine, which is what
  * lets a SQL oracle hash-match it. Raw-estimator bias at small balls
  * (below ~2.5·m) is the documented price, same as Sketch.
  *
  * Scale shape: the adjacency is cached once on the gather key; each
  * round is one equi-join (states ride to their neighbours) + one
  * hash aggregate whose custom buffer ([[org.apache.spark.sql.graft
  * .HllMergeState]]) max-merges map-side — shuffle volume is
  * ≤ 256 B × nnz per round, the HyperANF envelope. Rounds are
  * checkpointed with superseded state freed (the Iterate discipline).
  */
object HyperAnf {

  /** @param a      symmetric adjacency; values ignored
    * @param rounds radius bound (output has one row per vertex per
    *               t ∈ [1, rounds])
    * @return (i, t, ball_milli): floor(1000 × estimated |ball(i, t)|)
    */
  def balls(a: GrbMatrix, rounds: Int = 4): DataFrame = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"anf adjacency must be square: ${a.nrows}x${a.ncols}")
    // rounds × block fan-out: run the register propagation at the
    // loop width (Iterate.Loop.sized scaladoc)
    Iterate.scope(a.df.sparkSession, "HyperAnf") { loop =>
    val (raw, nnz) = loop.edges(a.df.select(col("i").as("v"), col("j").as("nbr")))
    loop.sized(nnz)
    val adj = loop.partition("adj", raw, "nbr")
    var b = loop.checkpoint("b0", adj.select(col("v")).distinct()
      .groupBy("v")
      .agg(org.apache.spark.sql.graft.HllState(
        Sketch.hash60(col("v"))).as("state")))
    val outs = scala.collection.mutable.ListBuffer[DataFrame]()
    loop.rounds(rounds)(true) { t =>
      // EVERY round's state stays live (its estimate rows read it
      // until the caller drains the output) — rounds × V × 256 B,
      // bounded and tiny relative to the per-round shuffle; a slot
      // per round, so no round supersedes another
      b = loop.checkpoint(s"b$t", adj
        .join(b.select(col("v").as("nbr"), col("state")), Seq("nbr"))
        .select(col("v"), col("state"))
        .unionByName(b)
        .groupBy("v")
        .agg(org.apache.spark.sql.graft.HllMergeState(col("state")).as("state")))
      outs += b.select(col("v").as("i"), lit(t.toLong).as("t"),
        Sketch.estMilli(org.apache.spark.sql.graft.HllEstimate(col("state")))
          .as("ball_milli"))
    }
    outs.reduce(_.unionByName(_))
    }
  }
}
