package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._

/** Minimum spanning forest by Borůvka's algorithm — THE classic
  * parallel MSF (and a staple of the GraphBLAS literature: each round
  * is a min_second reduction over the component-contracted adjacency).
  * Every round, each component picks its lightest incident cross-
  * component edge; the picked edges merge components; ≤ ⌈log₂ V⌉
  * rounds total because every component merges every round.
  *
  * Determinism: Kruskal/Borůvka are unique only under DISTINCT
  * weights, so edges are totally ordered by the packed key
  * w·2⁴² + a·2²¹ + b (weight first, then the canonical endpoint pair
  * as tie-break) — a single int64 whose MIN is the lexicographic
  * (w, a, b) minimum, pushable through a plain hash aggregate. With
  * distinct keys the selected edge set provably has no cycles and the
  * result is the exact MSF of the perturbed total order — the same
  * forest Kruskal would build, which is what the spec replays.
  * Packing bound: a, b < 2²¹ and w < 2²¹ — holds through SF ~10 on
  * the shipped id scheme; documented, not silently truncated.
  *
  * Scale shape: per round ONE relabel of the edge list (two
  * co-partitioned equi-joins against the O(V) label frame), one
  * hash-agg MIN per component with map-side partials, then a CC pass
  * over the SELECTED edges only — a label-space graph with ≤ one
  * edge per component, so the contraction works on a frame that
  * HALVES every round while the O(E) edge list is never shuffled
  * (it joins against labels on its own keys). Total work
  * O(E log V), the textbook parallel-Borůvka budget. Labels and
  * per-round selections are eagerly localCheckpoint'ed with
  * superseded blocks freed (the Iterate discipline); termination is
  * data-driven (no cross-component edge survives).
  */
object Msf {

  private val ShiftA = 21
  private val ShiftW = 42
  private val MaskId = (1L << ShiftA) - 1

  /** @param edges canonical weighted edge list (a, b, w) with a < b
    *              and (a, b) unique — one row per undirected edge
    * @param n     vertex-id bound (labels live in [0, n))
    * @param innerPregel contraction engine for the per-round label
    *              graph. Pregel by default: the decisive 1M-edge ABBA
    *              (PERF_NOTES §12e — Pregel 30.5-37.7 s vs FastSV
    *              53.6-64.8 s, stable window) matches the engine-wide
    *              CC bake-off; FastSV-inner only wins on tiny inputs
    *              (26.1 vs 34.9 s at 200k edges) where the whole run
    *              is seconds either way, so the scale-relevant engine
    *              is the default
    * @return the minimum spanning forest as (a, b, w) rows — a subset
    *         of the input rows, V − #components of them
    */
  def forest(edges: DataFrame, n: Long, maxRounds: Int = 25,
      innerPregel: Boolean = true): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("a"), col("b"), col("w"),
      (shiftleft(col("w"), ShiftW) + shiftleft(col("a"), ShiftA) + col("b"))
        .as("pk"))
      .cache()
    val nnz = e.count()
    // Borůvka rounds × block fan-out — loop-width discipline
    // (Iterate.Loop.sized); the inner CC sizes itself (PregelCC's
    // edge-RDD rule / FastSV's own loop scope)
    Iterate.scope(spark, "Msf") { loop =>
    loop.sized(nnz)
    var labels = loop.checkpoint("labels",
      e.select(explode(array(col("a"), col("b"))).as("v")).distinct()
        .select(col("v"), col("v").as("l")))
    var picked: List[DataFrame] = Nil
    var live = true
    loop.rounds(maxRounds)(live) { r =>
      val cross = e
        .join(labels.select(col("v").as("a"), col("l").as("la")), Seq("a"))
        .join(labels.select(col("v").as("b"), col("l").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
      // per-component lightest incident edge; DISTINCT because both
      // endpoints' components may pick the same edge
      val sel0 = cross.select(col("la").as("c"), col("pk"))
        .unionByName(cross.select(col("lb").as("c"), col("pk")))
        .groupBy(col("c")).agg(min(col("pk")).as("pk"))
        .select(col("pk")).distinct()
        .select(shiftright(col("pk"), ShiftW).as("w"),
          shiftright(col("pk"), ShiftA).bitwiseAND(lit(MaskId)).as("a"),
          col("pk").bitwiseAND(lit(MaskId)).as("b"))
      // picked-edge count rides the checkpoint job (observed metric);
      // a slot per round — picked selections are result rows
      val (sel, selProbe) = loop.probe(s"picked$r",
        sel0, count(lit(1)).as("n"))
      if (selProbe.getLong(0) == 0L) live = false
      else {
        picked ::= sel
        // contract: CC over the label-space graph of the picked edges
        // (symmetrized — FastSV's min-label propagation needs both
        // directions; Pregel's Either-direction send tolerates both)
        val le0 = sel
          .join(labels.select(col("v").as("a"), col("l").as("la")), Seq("a"))
          .join(labels.select(col("v").as("b"), col("l").as("lb")), Seq("b"))
          .select(col("la").as("i"), col("lb").as("j"))
        val le = le0.unionByName(le0.select(col("j").as("i"), col("i").as("j")))
          .withColumn("v", lit(1L))
        val lg = new GrbMatrix(le, n, n)
        // the inner CC's result blocks are this loop's to free once
        // the relabel below has read them
        val cc = loop.hold("cc",
          if (innerPregel) PregelCC.connectedComponents(lg).df
          else FastSV.connectedComponents(lg, nodes = Some(
            le.select(col("i")).distinct())).df)
        labels = loop.checkpoint("labels", labels
          .join(cc.select(col("i").as("l"), col("v").as("nl")), Seq("l"), "left")
          .select(col("v"), coalesce(col("nl"), col("l")).as("l")))
      }
    }
    e.unpersist(false)
    picked match {
      case Nil => spark.range(0)
        .select(col("id").as("a"), col("id").as("b"), col("id").as("w"))
      case head :: tail =>
        tail.foldLeft(head.select(col("a"), col("b"), col("w")))(
          (acc, s) => acc.unionByName(s.select(col("a"), col("b"), col("w"))))
    }
    }
  }
}
