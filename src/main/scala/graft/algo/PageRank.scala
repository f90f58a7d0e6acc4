package graft.algo

import org.apache.spark.sql.functions._
import graft.core._

/** PageRank in integer fixed-point — the third classic iteration the
  * reference's GraphBLAS API exists to express (beside CC and BFS;
  * SuiteSparse ships it as LAGraph's flagship alongside both).
  *
  * Determinism discipline: floating-point PageRank cannot be
  * hash-compared across engines, so ranks live in integer mass units
  * (total mass = [[Scale]]) and every step is integer floor
  * arithmetic — contribution = r DIV degree, damping =
  * (85·Σ) DIV 100 — reproduced operation-for-operation by a SQL
  * oracle. Mass leaks a floor-remainder per step, which is fine: the
  * operator contract is the exact integer recurrence, not the real
  * eigenvector (at Scale = 10⁶ the two rank orders agree).
  *
  * Scale shape: per round one mxv (equi-join on the co-partitioned
  * adjacency + hash agg) and three narrow column ops; state is
  * checkpointed per round by Iterate.Loop.vectorRounds. Cost profile is
  * rounds × nnz, same as BFS/SSSP.
  */
object PageRank {

  val Scale = 1000000L

  /** @param a      symmetric adjacency (structure only — values are
    *               replaced by 1 for the contribution sum)
    * @param rounds fixed iteration count (deterministic, no
    *               convergence test — the usual 10 is plenty for rank
    *               ordering at this scale)
    * @param scale  total integer mass. Resolution guard: per-vertex
    *               mass starts at scale/n, and a vertex's contribution
    *               floors to ZERO once that drops below its degree —
    *               pick scale ≳ n × max-degree × 100 for big graphs
    *               (the default suits the ~2k-node oracle graph).
    * @return (i, v): integer rank mass per vertex, Σv ≲ scale
    */
  def ranks(a: GrbMatrix, rounds: Int = 10,
      dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = Scale): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"pagerank adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    // loop-width discipline (Iterate.Loop.sized scaladoc): 10
    // rounds of mxv at the session's aggregate-sized width is mostly
    // block fan-out; size the loop by nnz instead
    val raw = a.df.select(col("i"), col("j"), lit(1L).as("v")).cache()
    val nnz = raw.count()
    Iterate.scope(spark, "PageRank") { loop =>
    val width = loop.sized(nnz)
    // ZERO-EXCHANGE ROUNDS below the broadcast guard (round-15; the
    // LPA §17o family reaches the value-iteration tier): the rank
    // vector broadcasts into the mxv join, so the join no longer
    // demands j-clustering — the adjacency caches partitioned by I
    // (the product's OUTPUT key), the broadcast-hash join preserves
    // that partitioning, and the per-vertex sum, the degree reduce,
    // AND the contrib ewise-join (deg by i × the i-partitioned
    // checkpoint, which round-15 FreshCheckpoint now carries) all
    // plan exchange-free. Above the guard the sharded plan is
    // unchanged: adjacency by j, only the O(n) rank vector rides the
    // two per-round exchanges — the right 100 TB shape, where
    // per-executor rank replication would dominate.
    val bcast = loop.broadcasts(a.nrows)
    val ones = new GrbMatrix(
      loop.cache(raw.repartition(width, col(if (bcast) "i" else "j"))),
      a.nrows, a.ncols)
    val deg = new GrbVector(loop.cache(
      loop.checkpoint("deg", ones.reduceRowwise(Ops.plusMonoid).df)), a.nrows)
    val nNodes = deg.nvals // 1-row driver action, reused every round
    raw.unpersist(false) // ones materialized by the deg pass above
    val base = (scale - scale * dampNum / dampDen) / nNodes
    val init = new GrbVector(
      deg.df.select(col("i"), lit(scale / nNodes).as("v")), a.nrows)
    // fixed round count
    loop.vectorRounds(init, rounds) { r =>
      val contrib = r.ewiseMult(deg, Ops.floordiv)
      ones.mxv(contrib, Ops.plusTimes, broadcastVec = bcast)
        .applyRight(Ops.times, lit(dampNum))
        .applyRight(Ops.floordiv, lit(dampDen))
        .applyRight(Ops.plus, lit(base))
    }
    }
  }

  /** Personalized PageRank: the same integer fixed-point recurrence,
    * but every round's teleport mass lands on ONE seed vertex instead
    * of being spread uniformly — the "similarity to this vertex"
    * ranking used for recommendation and local community scoring
    * (reference surface: the mxv/ewise/apply ops this composes are
    * dask_grblas' matrix.py/vector.py public API).
    *
    * The rank vector stays SPARSE: round k's support is exactly the
    * k-hop ball around the seed (mass diffuses like a BFS frontier),
    * so early rounds touch a fraction of the graph — the reason PPR
    * scales to huge graphs where global PageRank must touch every
    * vertex every round. Vertices the mass never reaches are absent
    * from the output (not zero rows), matching the sparse oracle.
    *
    * Determinism: identical floor-arithmetic discipline to [[ranks]]
    * — contribution = r DIV degree, damped = (85·Σ) DIV 100, teleport
    * = base only at the seed via a one-row ewise_add — every step
    * integer, oracle-reproducible bit-for-bit.
    */
  def personalized(a: GrbMatrix, seed: Long, rounds: Int = 10,
      dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = Scale): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"ppr adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    val raw = a.df.select(col("i"), col("j"), lit(1L).as("v")).cache()
    val nnz = raw.count()
    Iterate.scope(spark, "PersonalizedPageRank") { loop =>
    val width = loop.sized(nnz)
    // broadcast mode mirrors [[ranks]] — and pays off even more here:
    // the PPR vector is SPARSE (round k's support is the k-hop ball),
    // so the per-round broadcast is a fraction of the vertex set
    val bcast = loop.broadcasts(a.nrows)
    val ones = new GrbMatrix(
      loop.cache(raw.repartition(width, col(if (bcast) "i" else "j"))),
      a.nrows, a.ncols)
    val deg = new GrbVector(loop.cache(
      loop.checkpoint("deg", ones.reduceRowwise(Ops.plusMonoid).df)), a.nrows)
    deg.nvals // materializes deg and with it ones
    raw.unpersist(false)
    val base = scale - scale * dampNum / dampDen
    // one-row frames: the seed's full starting mass and its per-round
    // teleport refill (broadcast-joined by ewiseAdd's planner choice)
    val init = new GrbVector(
      spark.range(1).select(lit(seed).as("i"), lit(scale).as("v")), a.nrows)
    val teleport = new GrbVector(
      spark.range(1).select(lit(seed).as("i"), lit(base).as("v")), a.nrows)
    // fixed round count
    loop.vectorRounds(init, rounds) { r =>
      val contrib = r.ewiseMult(deg, Ops.floordiv)
      ones.mxv(contrib, Ops.plusTimes, broadcastVec = bcast)
        .applyRight(Ops.times, lit(dampNum))
        .applyRight(Ops.floordiv, lit(dampDen))
        .ewiseAdd(teleport, Ops.plus)
    }
    }
  }
}
