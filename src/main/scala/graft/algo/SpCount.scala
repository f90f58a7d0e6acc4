package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core._

/** Single-source shortest-path COUNTING — the σ (sigma) forward wave
  * of Brandes betweenness centrality, and the plus_times counterpart
  * of [[Bfs.levels]]'s min_plus traversal: where BFS asks "how far",
  * this asks "how far, and along HOW MANY distinct shortest paths".
  * In GraphBLAS terms each round is a plus_times mxv of the frontier's
  * path counts through the adjacency, masked to unvisited vertices —
  * σ(v) = Σ σ(u) over neighbours u at depth d(v)−1, which is exactly
  * what the product delivers because the frontier holds precisely the
  * depth-(k−1) vertices (levels are final on first assignment, so the
  * anti-join mask never needs to retract a count).
  *
  * Determinism: σ values are exact integer path counts — no floats
  * anywhere, so the result is oracle-replayable round-for-round.
  * Counts grow multiplicatively with branching (σ can reach b^depth);
  * int64 holds any realistic diameter×branching at bench scale, and a
  * corpus where counts overflow 2^63 needs the log-space variant —
  * documented rather than silently saturated.
  *
  * Scale shape (the Bfs/Mis discipline): adjacency repartitioned ONCE
  * on the contraction key and cached — every round's mxv reuses the
  * exchange shuffle-free; per round one equi-join + one hash agg +
  * one anti-join against the visited set, all O(nnz_frontier);
  * per-round state eagerly localCheckpoint'ed with superseded blocks
  * freed. Termination is data-driven (the frontier empties).
  */
object SpCount {

  /** @param a      symmetric adjacency; values ignored (structure only)
    * @param source start vertex; d(source)=0, σ(source)=1
    * @return (i, d, sigma): distance and shortest-path count per
    *         reached vertex; unreachable vertices are absent
    */
  def counts(a: GrbMatrix, source: Long, maxIter: Int = 100): DataFrame = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"spcount adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.spark
    Iterate.scope(spark, "SpCount") { loop =>
      val hop = new GrbMatrix(loop.cache(
        a.df.select(col("i"), col("j"), lit(1L).as("v")).repartition(col("j"))),
        a.nrows, a.ncols)
      loop.frontier(spark.range(1)
        .select(lit(source).as("i"), lit(0L).as("d"), lit(1L).as("sigma")),
        Seq("i"), 1L, maxIter)(
        seed = res => res.select(col("i"), col("sigma").as("v")),
        // plus_times wave: every neighbour of a frontier vertex receives
        // the sum of its frontier-neighbours' path counts; the
        // complement mask keeps only first-touch (= shortest-distance)
        // counts
        expand = f => hop.mxv(new GrbVector(f, a.nrows), Ops.plusTimes).df,
        record = (next, k) =>
          next.select(col("i"), lit(k).as("d"), col("v").as("sigma")))
    }
  }

  /** The backward dag accumulation shared by [[stress]],
    * [[betweenness]] and [[landmarkBetweenness]]: dd starts at 0 on
    * every reached vertex, and each of max-depth rounds sets
    * dd(u) = Σ `term` over u's dag successors v (columns su, sv, dd of
    * v), 0 where u has none — per round one equi-join + hash agg +
    * left-join backfill, O(nnz_dag).
    *
    * @param fw  the forward wave (src keys, i, d, sigma)
    * @param dag descending edges (src keys, u, v, …), cached on the
    *            backward contraction key for the loop's lifetime
    * @param src per-source key columns (Nil single-source, "s" batched)
    * @return (src keys, i, dd)
    */
  private def accumulate(name: String, fw: DataFrame, dag: DataFrame,
      src: Seq[String])(term: Column): DataFrame =
    Iterate.scope(fw.sparkSession, name) { loop =>
      val cached = loop.cache(dag.repartition((src :+ "v").map(col): _*))
      val keys = src.map(col)
      val maxd = fw.agg(max(col("d"))).collect()(0).getLong(0) // 1-row driver agg
      var dd = loop.checkpoint("dd", fw.select(keys :+ col("i") :+ lit(0L).as("dd"): _*))
      loop.rounds(maxd.toInt)(true) { _ =>
        val up = cached.join(dd.select(keys :+ col("i").as("v") :+ col("dd"): _*), src :+ "v")
          .groupBy(keys :+ col("u"): _*).agg(sum(term).as("dd2"))
        dd = loop.checkpoint("dd", fw.select(keys :+ col("i"): _*)
          .join(up.select(keys :+ col("u").as("i") :+ col("dd2"): _*), src :+ "i", "left")
          .select(keys :+ col("i") :+ coalesce(col("dd2"), lit(0L)).as("dd"): _*))
      }
      dd
    }

  /** Single-source STRESS centrality — the exact-integer two-phase
    * Brandes structure: the forward σ wave ([[counts]]) followed by a
    * backward accumulation over the BFS dag. Where betweenness sums
    * σ-RATIOS (rationals — engine-shaped floats), stress counts
    * PATHS: stress(v) = σ(v) · D(v), where D(v) = number of shortest-
    * path continuations from v (dag paths to any descendant), via the
    * integer recurrence D(u) = Σ_{v ∈ succ(u)} (1 + D(v)). After t
    * rounds D counts continuations of length ≤ t, so max-depth rounds
    * reach the fixpoint exactly (and further rounds are idempotent —
    * what lets a fixed-round SQL oracle replay it). stress(v) is the
    * number of s-rooted shortest paths in which v appears as a
    * NON-TERMINAL vertex (for v = s: every shortest path from s).
    *
    * Scale shape: the dag (edges that descend one level) is built
    * with two co-partitioned equi-joins against the level frame,
    * repartitioned ONCE on the backward contraction key and cached;
    * each of the max-depth rounds is one equi-join + hash agg +
    * left-join backfill, O(nnz_dag). Counts multiply along branches —
    * σ·D can overflow int64 on adversarial graphs; the bound is
    * documented, not silently saturated (the [[counts]] discipline).
    *
    * @return (i, d, sigma, stress) per reached vertex
    */
  def stress(a: GrbMatrix, source: Long, maxIter: Int = 100): DataFrame = {
    val fw = counts(a, source, maxIter)
    val du = fw.select(col("i").as("u"), col("d").as("du"))
    val dv = fw.select(col("i").as("v"), col("d").as("dv"))
    val dag = a.df.select(col("i").as("u"), col("j").as("v"))
      .join(du, Seq("u")).join(dv, Seq("v"))
      .filter(col("dv") === col("du") + 1)
      .select(col("u"), col("v"))
    val dd = accumulate("Stress", fw, dag, Nil)(col("dd") + 1)
    fw.join(dd, Seq("i"))
      .select(col("i"), col("d"), col("sigma"),
        (col("sigma") * col("dd")).as("stress"))
  }

  /** Single-source BETWEENNESS dependency — the full Brandes backward
    * accumulation completing the family ([[counts]] = σ forward wave,
    * [[stress]] = integer path-count backward): here each vertex
    * accumulates the σ-RATIO dependency
    *   δ(v) = Σ_{w ∈ succ(v)}  σ(v)/σ(w) · (1 + δ(w))
    * — the per-source summand of betweenness centrality (Brandes
    * 2001, eq. 8). Ratios are rationals, so the engine keeps them in
    * exact floor-ppm units: each edge term is
    * floor(σ(v) · (10⁶ + δ_ppm(w)) / σ(w)) — every step integer,
    * oracle-replayable bit-for-bit (the same discipline PageRank and
    * harmonic use; the floor is taken per dag edge, so the oracle
    * mirrors it per edge too).
    *
    * Fixpoint shape is [[stress]]'s: δ depends only on strictly deeper
    * levels, the deepest level is 0 under the COALESCE(0) backfill,
    * so max-depth rounds reach the fixpoint and further rounds are
    * idempotent — a fixed-round SQL oracle replays it exactly.
    *
    * Scale shape: the dag is built with two co-partitioned equi-joins
    * against the level frame WITH σ attached per endpoint (paid once,
    * cached on the backward contraction key); each round is one
    * equi-join + hash agg + left-join backfill, O(nnz_dag). Bound:
    * per-edge term ≤ σ(v)·(10⁶·(1+n)) — int64-safe while
    * σ_max·n < 9·10¹²; documented, not silently saturated.
    *
    * @return (i, d, sigma, btw_ppm) per reached vertex; btw_ppm(s) is
    *         the source's own (excluded-by-convention) accumulation,
    *         emitted for completeness
    */
  def betweenness(a: GrbMatrix, source: Long, maxIter: Int = 100,
      scale: Long = 1000000L): DataFrame = {
    val fw = counts(a, source, maxIter)
    val su = fw.select(col("i").as("u"), col("d").as("du"), col("sigma").as("su"))
    val sv = fw.select(col("i").as("v"), col("d").as("dv"), col("sigma").as("sv"))
    val dag = a.df.select(col("i").as("u"), col("j").as("v"))
      .join(su, Seq("u")).join(sv, Seq("v"))
      .filter(col("dv") === col("du") + 1)
      .select(col("u"), col("v"), col("su"), col("sv"))
    val dd = accumulate("Betweenness", fw, dag, Nil)(
      expr(s"(su * ($scale + dd)) DIV sv"))
    fw.join(dd, Seq("i"))
      .select(col("i"), col("d"), col("sigma"), col("dd").as("btw_ppm"))
  }

  /** Multi-source σ wave — the [[counts]] forward phase batched over a
    * landmark set with the matrix-frontier idiom ([[Bfs.multiSourceLevels]]):
    * the frontier is a k×n matrix whose VALUES are path counts, one
    * plus_times F·A mxm per round expands every landmark's wave
    * simultaneously (k traversals share every scan, shuffle, and
    * scheduling barrier), the anti-join mask is keyed (source, vertex).
    *
    * @return (s, i, d, sigma) per (landmark, reached vertex)
    */
  def landmarkCounts(a: GrbMatrix, sources: Seq[Long],
      maxIter: Int = 100): DataFrame = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"landmark counts adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.spark
    val srcRows = sources.distinct.map(s => (s, s, 0L, 1L))
    Iterate.scope(spark, "LandmarkCounts") { loop =>
      val hop = new GrbMatrix(loop.cache(
        a.df.select(col("i"), col("j"), lit(1L).as("v")).repartition(col("i"))),
        a.nrows, a.ncols)
      loop.frontier(spark.createDataFrame(srcRows).toDF("s", "i", "d", "sigma"),
        Seq("s", "i"), srcRows.size.toLong, maxIter)(
        seed = res => res.select(col("s"), col("i"), col("sigma").as("v")),
        // plus_times F·A: every landmark's neighbours receive the sum of
        // their frontier-neighbours' path counts in ONE product
        expand = f => new GrbMatrix(
          f.select(col("s").as("i"), col("i").as("j"), col("v")),
          a.nrows, a.nrows).mxm(hop, Ops.plusTimes).df
          .select(col("i").as("s"), col("j").as("i"), col("v")),
        record = (next, k) => next.select(col("s"), col("i"),
          lit(k).as("d"), col("v").as("sigma")))
    }
  }

  /** LANDMARK betweenness — the Brandes-Pich estimator, how
    * betweenness is actually computed at corpus scale: exact
    * per-source dependencies ([[betweenness]]'s floor-ppm recurrence)
    * over a FIXED landmark sample, summed per vertex. Exact for the
    * landmark set (deterministic, oracle-replayable); the estimator's
    * statistical story (≈ n/|S| scaling) is the caller's.
    *
    * Batching: the forward σ waves share every product
    * ([[landmarkCounts]]); the backward accumulation runs all
    * landmarks together over the (source, edge)-keyed dag — per round
    * one equi-join + hash agg + left-join backfill on (s, v) keys,
    * O(|S|·nnz_dag). Same int64 bound as [[betweenness]], per source.
    *
    * Convention: a landmark's OWN dependency row (i = s) is excluded
    * from its sum — the standard Brandes-Pich endpoint-exclusion, so
    * landmark vertices are scored by the other landmarks exactly like
    * every non-landmark vertex (round-9 advice: summing δ_s(s) in
    * silently inflated landmark scores relative to the convention the
    * single-source [[betweenness]] documents).
    *
    * @return (i, btw_ppm): Σ over landmarks s ≠ i of the vertex's
    *         dependency, in exact floor-ppm
    */
  def landmarkBetweenness(a: GrbMatrix, sources: Seq[Long],
      maxIter: Int = 100, scale: Long = 1000000L): DataFrame = {
    val fw = landmarkCounts(a, sources, maxIter)
    val su = fw.select(col("s"), col("i").as("u"), col("d").as("du"),
      col("sigma").as("su"))
    val sv = fw.select(col("s"), col("i").as("v"), col("d").as("dv"),
      col("sigma").as("sv"))
    val dag = a.df.select(col("i").as("u"), col("j").as("v"))
      .join(su, Seq("u")).join(sv, Seq("s", "v"))
      .filter(col("dv") === col("du") + 1)
      .select(col("s"), col("u"), col("v"), col("su"), col("sv"))
    val dd = accumulate("LandmarkBetweenness", fw, dag, Seq("s"))(
      expr(s"(su * ($scale + dd)) DIV sv"))
    dd.filter(col("i") =!= col("s"))
      .groupBy(col("i")).agg(sum(col("dd")).as("btw_ppm"))
  }
}
