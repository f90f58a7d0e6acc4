package graft.algo

import org.apache.spark.sql.functions._
import graft.core._

/** k-core decomposition by iterative peeling — the degeneracy pruning
  * pass of graph curation (spam/bot subgraph isolation, community
  * pre-filtering): the k-core is the maximal subgraph in which every
  * vertex keeps degree ≥ k, found by repeatedly deleting vertices
  * whose CURRENT degree (edges into the surviving set) falls below k.
  *
  * Pure core-op composition, like Bfs/FastSV: each round's surviving
  * degree is one plus_pair mxv of the adjacency against the survivor
  * indicator, masked (structural) to surviving rows; the peel is a
  * selectOp on the degree. The survivor key set shrinks monotonically,
  * so convergence is "nvals stopped shrinking" — count equality IS
  * set equality (no value compare needed; the inverse of BFS's
  * monotone-growth rule, which is why this loop cannot reuse
  * Iterate.Loop.stable).
  *
  * Scale shape: the adjacency is repartitioned ONCE on the contracted
  * key and cached (every round's mxv reuses the exchange — the
  * Bfs/FastSV pattern); per-round state is an eagerly checkpointed
  * (i, 1) indicator with superseded rounds' blocks freed (O(n) loop
  * storage, plan O(one round)). Work per round is one equi-join +
  * hash agg over the cached adjacency — rounds ≤ the peel depth
  * (≤ max degeneracy ordering length, in practice tens).
  *
  * No adjacency rebuild: every round scans the adjacency cached at
  * setup, and the mxv's survivor join and structural mask keep the
  * degrees exact. The plan of every round is a function of the graph
  * and k alone, the same at any core count and in any host window,
  * and the loop neither listens on the session's bus nor takes over
  * the caller's job group. (A rebuild to the surviving edges after a
  * round that kills 30% was not shown to pay in paired runs,
  * PERF_NOTES §21.)
  *
  * @return sparse vector over core members: value = degree WITHIN the
  *         k-core (≥ k by construction); vertices outside the core
  *         are absent. Empty when no k-core exists.
  */
object KCore {
  def kcore(a: GrbMatrix, k: Long, maxIter: Int = 100): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"kcore adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    // Whole-stage codegen OFF for the loop (round-14, PERF_NOTES
    // §17g): same mechanism as FastSV — many rounds of few-MB
    // exchanges re-generate fused classes per round/rep and pay the
    // interpret-until-C2 settle every rep. ABBA at sf0.1 (3-rep
    // mins, mid window): kcore 8.26->6.42, lpa 8.88->7.15,
    // mis 8.09->5.28 — each below its healthy-window record.
    Iterate.scope(spark, "KCore", codegen = false) { loop =>
    // one pass to learn nnz, then the whole loop runs at a shuffle
    // width sized for the loop's per-round work, not the session's
    // heaviest-single-aggregate width (Iterate.Loop.sized)
    val (raw, nnz) = loop.edges(a.df.select(col("i"), col("j"), lit(1L).as("v")))
    loop.sized(nnz)
    // ZERO-EXCHANGE ROUNDS below the broadcast guard (the LPA §17o
    // pattern): survivor-vector joins broadcast, adjacency cached by
    // i — see coreDegree below. Above the guard the sharded j-cache
    // plan is unchanged.
    val bcast = loop.broadcasts(a.nrows)
    val key = if (bcast) "i" else "j"
    val A = new GrbMatrix(loop.partition("adj", raw, key), a.nrows, a.ncols)
    // broadcast mode (the LPA §17o pattern): survivor vector broadcast
    // into BOTH its joins — mxv's own vector join (broadcastVec, the
    // existing dimension-guarded hint) and the structural-mask semi-
    // join (pre-hinted frame; the hint rides the mask's subtree into
    // the join). With A partitioned by i, the per-vertex degree
    // aggregate and every checkpoint then plan exchange-free.
    def coreDegree(s: GrbVector): GrbVector =
      A.mxv(s, Ops.plusPair,
        mask = Some(Mask.structural(loop.hint(s.df))), broadcastVec = bcast)
    // survivor counts ride each checkpoint job as an observed metric
    // (Loop.probe) instead of a per-round count job
    val (s0, sProbe0) = loop.probe("s",
      A.df.select(col("i"), lit(1L).as("v")).distinct(), count(lit(1)).as("n"))
    var s = new GrbVector(s0, a.nrows)
    var n = sProbe0.getLong(0)
    var stable = false
    loop.rounds(maxIter)(!stable && n > 0) { _ =>
      val (nextDf, probeRow) = loop.probe("s",
        coreDegree(s).selectOp(_ >= k).df
          .select(col("i"), lit(1L).as("v")), count(lit(1)).as("n"))
      val n2 = probeRow.getLong(0)
      stable = n2 == n
      s = new GrbVector(nextDf, a.nrows)
      n = n2
    }
    new GrbVector(loop.checkpoint("out", coreDegree(s).df), a.nrows)
    }
  }
}
