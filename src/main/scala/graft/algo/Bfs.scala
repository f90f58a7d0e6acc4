package graft.algo

import org.apache.spark.sql.functions._
import graft.core._

/** BFS levels — the GraphBLAS textbook traversal (alongside FastSV the
  * second canonical composition the reference's API exists to express:
  * frontier expansion IS a min_plus matrix-vector product; see e.g.
  * reference README's GraphBLAS positioning and dask_grblas/matrix.py
  * mxv:449-454).
  *
  * Each round: cand = A ⊗min_plus f (every neighbour of a labeled
  * vertex offered level+1), then f' = f ⊕min cand. Levels are FINAL
  * when first assigned (round k labels exactly the distance-k
  * frontier), so the key set grows monotonically and values never
  * change — value stability ≡ "nvals stopped growing", and the
  * prev-vs-next compare is folded into each round's checkpoint job
  * (Iterate.Loop.frontier: one checkpoint job per round, the frontier
  * size its probe).
  *
  * Scale shape: the adjacency is repartitioned ONCE on the contraction
  * key and cached, so every round's mxv reuses the exchange (the
  * FastSV pattern); per-round state is eagerly localCheckpoint'ed by
  * Iterate.Loop.frontier, keeping the plan O(one round). Work per round
  * is one equi-join frontier×adjacency + one hash agg — at 100 TB the
  * cost profile is rounds × (join on j + groupBy i), never n².
  */
object Bfs {

  /** @param a      symmetric (undirected) adjacency matrix; edge
    *               values are ignored — only structure is traversed
    * @param source start vertex; levels(source) = 0
    * @return sparse level vector: absent = unreachable
    *
    * Loop shape (round-10 refactor): levels are FINAL on first touch,
    * so each round needs only the depth-k FRONTIER — one min_plus mxv
    * of the frontier slice (every value in it is k, so the product
    * offers exactly k+1), an anti-join against the visited set, and a
    * union into the result. The previous full-vector round
    * (`f ⊕min A⊗f` under Iterate.Loop.stable) re-joined the
    * whole accumulated level vector every round; measured at the 20M-
    * nnz tier the frontier loop draws 13.9 s vs 46.7 s
    * (BASELINE_SELF round-10, via the identically-shaped SpCount).
    * SSSP must KEEP the full-vector value-stability round — its
    * distances improve after first assignment.
    */
  def levels(a: GrbMatrix, source: Long, maxIter: Int = 100): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"bfs adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.spark
    Iterate.scope(spark, "Bfs") { loop =>
      // traverse structure: weight 1 per edge makes min_plus's mult a
      // pure hop count; co-partition by the contracted key once
      val hop = new GrbMatrix(loop.cache(
        a.df.select(col("i"), col("j"), lit(1L).as("v")).repartition(col("j"))),
        a.nrows, a.ncols)
      // every value in the depth-k frontier is k, so the product
      // offers exactly k+1: the frontier rows ARE the result rows
      new GrbVector(loop.frontier(spark.range(1)
        .select(lit(source).as("i"), lit(0L).as("v")), Seq("i"), 1L, maxIter)(
        seed = res => res,
        expand = f => hop.mxv(new GrbVector(f, a.nrows), Ops.minPlus).df,
        record = (next, _) => next), a.nrows)
    }
  }

  /** Multi-source BFS — the MATRIX-frontier idiom (the GraphBLAS
    * answer to "run k BFS traversals at once"): the frontier is a
    * k×n Boolean MATRIX F (one row per source), each round ONE
    * F·A mxm expands every traversal simultaneously, and the
    * anti-join mask is keyed on (source, vertex). One k-fold-wider
    * join per round instead of k sequential BFS runs — k traversals
    * share every scan, shuffle, and scheduling barrier, which is the
    * entire point at 100 TB (per-round fixed cost is paid once, not
    * k times). The frontier loop discipline of [[levels]] applies
    * per source pair: levels are final on first touch.
    *
    * @param sources distinct source vertex ids (each becomes a row of
    *                the frontier matrix, keyed by its own id)
    * @return (s, i, d): level of vertex i from source s; unreachable
    *         pairs absent
    */
  def multiSourceLevels(a: GrbMatrix, sources: Seq[Long],
      maxIter: Int = 100): org.apache.spark.sql.DataFrame = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"msbfs adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.spark
    val srcRows = sources.distinct.map(s => (s, s, 0L))
    Iterate.scope(spark, "MultiSourceBfs") { loop =>
      val hop = new GrbMatrix(loop.cache(
        a.df.select(col("i"), col("j"), lit(1L).as("v")).repartition(col("i"))),
        a.nrows, a.ncols)
      loop.frontier(spark.createDataFrame(srcRows).toDF("s", "i", "d"),
        Seq("s", "i"), srcRows.size.toLong, maxIter)(
        seed = res => res.select(col("s"), col("i")),
        // F·A: contract the frontier's vertex column against the
        // adjacency's row key — every source's expansion in one product
        expand = f => new GrbMatrix(
          f.select(col("s").as("i"), col("i").as("j"), lit(1L).as("v")),
          a.nrows, a.nrows).mxm(hop, Ops.plusPair).df
          .select(col("i").as("s"), col("j").as("i")),
        record = (next, k) => next.select(col("s"), col("i"), lit(k).as("d")))
    }
  }

  /** Single-source shortest paths over positive edge weights — the
    * weighted sibling of [[levels]]: the identical min_plus round, but
    * the mult leg adds the EDGE WEIGHT instead of a unit hop
    * (Bellman-Ford as semiring iteration). Unlike BFS, a distance can
    * improve after first assignment (a longer-but-lighter path), so
    * convergence is VALUE stability, not nvals growth; the compare is
    * folded into each round's checkpoint as a change-flag column
    * (Iterate.Loop.stable — no extra isequal join+action per
    * round); rounds to fixpoint ≤ the max hop count of any shortest
    * path.
    *
    * @param a symmetric weighted adjacency; parallel edges should be
    *          pre-combined with min (fromDF dupAgg)
    */
  def sssp(a: GrbMatrix, source: Long, maxIter: Int = 100): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"sssp adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.spark
    Iterate.scope(spark, "Sssp") { loop =>
      val A = new GrbMatrix(loop.cache(a.df.repartition(col("j"))), a.nrows, a.ncols)
      val init = GrbVector.fromDF(
        spark.range(1).select(lit(source).as("i"), lit(0L).as("v")), a.nrows)
      loop.stable(init, maxIter)(f => f.ewiseAdd(A.mxv(f, Ops.minPlus), Ops.min))._1
    }
  }
}
