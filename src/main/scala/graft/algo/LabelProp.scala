package graft.algo

import org.apache.spark.sql.functions._
import graft.core._

/** Synchronous label propagation (Raghavan et al. 2007) — the
  * community-detection pass of graph curation (near-duplicate site
  * clusters, botnet rings, topic groups), beside CC (PregelCC/FastSV),
  * BFS/SSSP, PageRank and KCore in the algorithm tier.
  *
  * Determinism discipline (the PageRank rule): classic LPA breaks
  * ties randomly and updates asynchronously — neither survives a
  * cross-engine hash compare. Here every vertex simultaneously adopts
  * the most frequent label among its neighbours, ties broken toward
  * the SMALLEST label, for a fixed round HORIZON — a pure integer
  * recurrence a SQL oracle replays round-for-round. The horizon also
  * sidesteps sync-LPA's classic non-termination (on bipartite graphs
  * the labelling can 2-cycle forever, so "run to convergence" is not
  * a well-defined contract; a bounded horizon is). Within the horizon
  * the loop exits early at a FIXPOINT: a stable round is idempotent,
  * so the early exit is indistinguishable from unrolling every round.
  *
  * The mode reduction is NOT a semiring op (per-key max-count needs
  * the full per-label histogram — not associative over (label, count)
  * pairs), so unlike Bfs/KCore this composes DataFrame aggregates
  * directly: per round one equi-join of the adjacency against the
  * label frame (adjacency repartitioned ONCE on the contracted key
  * and cached — the shared mxv pattern), a two-level hash aggregate
  * (vote counts, then arg-max via struct ordering: max (count, -label)
  * = most votes, then least label), with per-round state eagerly
  * checkpointed and superseded blocks freed (Iterate.Loop.stable).
  * Work per round is O(nnz) join + aggregate — the BFS/CC cost
  * profile; nothing quadratic, no windows over the vertex set.
  */
object LabelProp {

  /** @param a      symmetric adjacency (structure only; values ignored)
    * @param rounds fixed synchronous rounds
    * @return (i, v): community label per vertex — the min-id member of
    *         the community the vertex landed in after `rounds` steps
    */
  def communities(a: GrbMatrix, rounds: Int = 7): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"lpa adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    // ZERO-EXCHANGE ROUNDS for label vectors small enough to
    // broadcast: with the label frame broadcast into the vote join,
    // the join no longer demands j-clustering — so the adjacency is
    // cached partitioned by I instead, the broadcast-hash join
    // preserves that partitioning (streamed-side passthrough), and
    // BOTH vote aggregates plan exchange-free (HashPartitioning(i)
    // satisfies ClusteredDistribution(i, lab) — subset rule — and
    // ClusteredDistribution(i)); the loop's cmp join rides the same
    // i-partitioning through FreshCheckpoint, which carries output
    // partitioning across rounds. Per round that removes all three
    // exchanges (labels-by-nb, votes-by-(i,lab), argmax-by-i) — the
    // loop's per-round fixed cost, which §14/§17 measured as the
    // dominant term at bench scale and the term degraded host windows
    // multiply. Guarded exactly like mxv's broadcast hint
    // (Grb.BroadcastGuard on the vector DIMENSION): above the guard —
    // a label vector too big to collect per round — the equi-join
    // plan below is unchanged (adjacency by j, shuffled aggregates),
    // which is the right 100 TB shape: at n ≫ guard the per-round
    // bytes dominate and per-executor label replication would cost
    // more than the exchanges it saves.
    //
    // Whole-stage codegen OFF for the loop (round-14, PERF_NOTES
    // §17g): same mechanism as FastSV — many rounds of few-MB
    // exchanges re-generate fused classes per round/rep. ABBA at
    // sf0.1 (3-rep mins, mid window): lpa 8.88->7.15 s.
    Iterate.scope(spark, "LabelProp", codegen = false) { loop =>
      val (raw, nnz) = loop.edges(a.df.select(col("i"), col("j")))
      loop.sized(nnz)
      val bcast = loop.broadcasts(a.nrows)
      val adj = loop.partition("adj", raw, if (bcast) "i" else "j")
      val init = new GrbVector(
        adj.select(col("i")).distinct()
          .select(col("i"), col("i").cast("long").as("v")), a.nrows)
      // FIXPOINT EARLY-EXIT under the fixed horizon: a stable round is
      // idempotent (every vertex re-adopts its own label), so exiting
      // the moment next == prev is oracle-identical to unrolling all
      // `rounds` rounds — the SQL oracle's remaining rounds are
      // identities. Keys are round-stable (symmetric adjacency: every
      // vertex has a labelled neighbour), so the one-job cmp-frame
      // loop (Loop.stable) applies; graphs that 2-cycle (the
      // bipartite oscillation in the scaladoc) never stabilize and
      // still stop at the horizon.
      loop.stable(init, rounds) { l =>
        new GrbVector(round(adj, l.df, bcast), a.nrows)
      }._1
    }
  }

  /** one synchronous vote/adopt step over labels (i, v) — exposed for
    * the plan audit (the loop checkpoints each round, so the returned
    * frame's plan is a block scan, not the round's shape)
    */
  private[graft] def round(adj: org.apache.spark.sql.DataFrame,
      labels: org.apache.spark.sql.DataFrame,
      bcast: Boolean = false): org.apache.spark.sql.DataFrame = {
    val lab0 = labels.select(col("i").as("nb"), col("v").as("lab"))
    val lab = if (bcast) broadcast(lab0) else lab0
    val votes = adj
      .join(lab, col("j") === col("nb"))
      .groupBy(col("i"), col("lab")).agg(count(lit(1)).as("c"))
    votes.groupBy(col("i"))
      .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
      .select(col("i"), (-col("m").getField("nl")).as("v"))
  }
}
