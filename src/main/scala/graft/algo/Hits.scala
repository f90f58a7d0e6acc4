package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._

/** HITS (Kleinberg hubs-and-authorities) as alternating GraphBLAS
  * products: authority = Aᵀ·hub (a vxm), hub = A·authority (an mxv),
  * each round re-normalized so the maximum score is exactly the ppm
  * scale — the mutual-reinforcement ranking for directed/bipartite
  * graphs where PageRank's single score conflates "points at good
  * things" with "is pointed at" (reference surface: composes the
  * mxv/vxm/reduce/apply ops of dask_grblas matrix.py/vector.py).
  *
  * Determinism: classic HITS L2-normalizes — irrational, not oracle-
  * replayable. This engine normalizes by the MAX component instead
  * (same fixpoint direction: both converge on the principal
  * eigenvector of AᵀA/AAᵀ up to scale), in exact integer arithmetic:
  * score′ = (score · 10⁶) DIV max(score). Every round is integer,
  * the max is observed during the product's own checkpoint job
  * (Iterate.Loop.probe), and a fixed round count makes the
  * whole run bit-for-bit SQL-replayable.
  *
  * Scale shape (round-15 surgery; the r14 profile showed 122 stages /
  * 10 rounds with stage-wall 2.48 s of 5.7 s wall — per-round driver
  * fixed cost, not data work):
  *  - BROADCAST MODE below Grb.BroadcastGuard (the LPA §17o family):
  *    the score vectors broadcast into the product joins, so the
  *    joins no longer demand contraction-key clustering — each
  *    orientation is cached partitioned by its product's OUTPUT key
  *    instead (vxm outputs j, mxv outputs i), the broadcast-hash
  *    join preserves that partitioning, and BOTH per-round product
  *    aggregates plan exchange-free.
  *  - SHARDED MODE above the guard: orientations keyed by the
  *    contraction keys exactly as before (vxm contracts on i, mxv on
  *    j) — the O(nnz) adjacency must never re-shuffle per round, and
  *    only the O(n) score vector rides each product's agg exchange.
  *  - The per-round normalize's max bound is an OBSERVED METRIC of
  *    the product's checkpoint job (CollectMetrics) instead of a
  *    broadcast scalar subquery: the old plan re-aggregated the
  *    checkpointed product and built a 1-row broadcast exchange per
  *    normalize (2 extra stage-jobs per round); now the max arrives
  *    with the checkpoint for free and the normalize is a pure
  *    projection. Exact integer max — bit-identical results.
  * Per-round state eagerly checkpointed, superseded blocks freed
  * (the Iterate discipline). Overflow bound: a pre-normalize sum is
  * ≤ deg_max·10⁶ and the scale multiply keeps every intermediate
  * ≤ deg_max·10¹² — int64-safe while deg_max < 9·10⁶; documented,
  * not silently saturated.
  */
object Hits {

  /** one normalize step: v′ = (v · scale) DIV mx, the max bound as a
    * LITERAL observed from the checkpoint job (empty vector → empty
    * result, matching the old empty-scalar crossJoin semantics)
    */
  private def normalize(v: GrbVector, scale: Long,
      mx: org.apache.spark.sql.Row): GrbVector =
    if (mx.isNullAt(0)) new GrbVector(v.df.filter(lit(false)), v.size)
    else v.applyRight(Ops.times, lit(scale))
      .applyRight(Ops.floordiv, lit(mx.getLong(0)))

  /** @param a      directed adjacency (i → j); values ignored
    * @param rounds fixed iteration count (oracle-replayable)
    * @return (i, hub_ppm, auth_ppm): hub score for vertices with
    *         out-edges, authority for vertices with in-edges, 0 for
    *         the side a vertex does not participate in; max of each
    *         column is exactly 10⁶ every round
    */
  def scores(a: GrbMatrix, rounds: Int = 10,
      scale: Long = 1000000L): DataFrame = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"hits adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    Iterate.scope(spark, "Hits") { loop =>
    // one pass to learn nnz, then the whole 10-round loop runs at a
    // shuffle width sized for its per-round work instead of the
    // session's heaviest-single-aggregate width — 20 products × the
    // session's 128-wide block fan-out was pure fixed cost here
    // (Iterate.Loop.sized scaladoc: the ITERTAIL decomposition)
    val (raw, nnz) = loop.edges(a.df.select(col("i"), col("j"), lit(1L).as("v")))
    loop.sized(nnz)
    // zero-exchange product rounds below the guard; sharded CSR/CSC
    // above it (see the scale-shape scaladoc), like the
    // lpa/mis/kcore/coloring/scc family.
    val bcast = loop.broadcasts(a.nrows)
    // two cached orientations: by the product's OUTPUT key in
    // broadcast mode (broadcast join preserves the streamed side's
    // partitioning → the aggregate rides it exchange-free), by the
    // CONTRACTION key in sharded mode (the adjacency must not
    // re-shuffle; only the vector side exchanges).
    val Seq(adjVxm, adjMxv) = loop.partitions("adj", raw,
      Seq(if (bcast) "j" else "i"), Seq(if (bcast) "i" else "j"))
      .map(new GrbMatrix(_, a.nrows, a.ncols))
    // hub support = vertices with out-edges, starting mass 1 each;
    // seeded from whichever orientation is partitioned by i so the
    // init distinct plans exchange-free in both modes
    val byI = if (bcast) adjMxv else adjVxm
    var hub = new GrbVector(loop.checkpoint("hub",
      byI.df.select(col("i")).distinct()
        .select(col("i"), lit(1L).as("v"))), a.nrows)
    var auth: GrbVector = null
    // checkpoint the RAW O(nnz) products; each normalize is a LAZY
    // projection over its checkpoint with the observed max as a
    // literal — no scalar subquery, no per-normalize broadcast build.
    // Each round's checkpoints supersede the previous round's (already
    // read by this round's materializations); the LAST round's stay
    // live — the returned frame reads them
    loop.rounds(rounds)(true) { r =>
      val (aCk, aProbe) = loop.probe("auth",
        hub.vxm(adjVxm, Ops.plusTimes, broadcastSelf = true).df,
        max(col("v")).as("mx"))
      val a1 = normalize(new GrbVector(aCk, a.nrows), scale, aProbe)
      val (hCk, hProbe) = loop.probe("hub",
        adjMxv.mxv(a1, Ops.plusTimes).df, max(col("v")).as("mx"))
      hub = normalize(new GrbVector(hCk, a.nrows), scale, hProbe)
      if (r == rounds) auth = a1
    }
    hub.df.select(col("i"), col("v").as("_h"))
      .join(auth.df.select(col("i"), col("v").as("_a")), Seq("i"), "full_outer")
      .select(col("i"), coalesce(col("_h"), lit(0L)).as("hub_ppm"),
        coalesce(col("_a"), lit(0L)).as("auth_ppm"))
    }
  }
}
