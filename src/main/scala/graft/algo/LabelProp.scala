package graft.algo

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core._
import scala.collection.mutable.LongMap

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
  * Two plans, chosen by the broadcast guard on the vertex dimension
  * (`Iterate.Loop.broadcasts`, the guard mxv's broadcast hint uses):
  *
  *  - Below it the label vector lives on the DRIVER, as a `LongMap`.
  *    The adjacency is cached once, partitioned by i and sorted by i
  *    within each partition; the job that materializes it also
  *    returns each partition's vertices, the identity start vector.
  *    A round is one Spark job: broadcast the vector, map each cached
  *    partition to (vertex, winning label) pairs, collect them. The
  *    vote is a mode by sort over each vertex's run of rows. Only
  *    neighbours that hold a label vote, so a vertex with no labelled
  *    neighbour drops out of the next vector. The fixpoint test
  *    (`Iterate.Loop.changed`'s rule) runs on the driver, and the
  *    result is a lineage-free frame over the loop width. A round so
  *    costs no Catalyst plan, no broadcast job and no checkpoint —
  *    the per-round fixed cost that dominates small graphs.
  *  - Above it (a vector too large to collect every round) the rounds
  *    are DataFrame equi-joins ([[round]]): the adjacency is cached
  *    repartitioned ONCE on the contracted key j (the shared mxv
  *    pattern), joined against the label frame, then a two-level hash
  *    aggregate (vote counts, then arg-max via struct ordering:
  *    max (count, -label) = most votes, then least label), with
  *    per-round state eagerly checkpointed and superseded blocks
  *    freed (`Iterate.Loop.stable`). Work per round is O(nnz) join +
  *    aggregate — the BFS/CC cost profile; nothing quadratic, no
  *    windows over the vertex set.
  *
  * The mode reduction is NOT a semiring op (per-key max-count needs
  * the full per-label histogram — not associative over (label, count)
  * pairs), so unlike Bfs/KCore neither plan goes through mxv.
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
    // Whole-stage codegen OFF for the loop (round-14, PERF_NOTES
    // §17g): same mechanism as FastSV — many rounds of few-MB
    // exchanges re-generate fused classes per round/rep. ABBA at
    // sf0.1 (3-rep mins, mid window): lpa 8.88->7.15 s.
    Iterate.scope(spark, "LabelProp", codegen = false) { loop =>
      val (raw, nnz) = loop.edges(a.df.select(col("i"), col("j")))
      val width = loop.sized(nnz)
      if (loop.broadcasts(a.nrows)) onDriver(loop, raw, a.nrows, rounds, width)
      else {
        val adj = loop.partition("adj", raw, "j")
        val init = new GrbVector(
          adj.select(col("i")).distinct()
            .select(col("i"), col("i").cast("long").as("v")), a.nrows)
        // FIXPOINT EARLY-EXIT under the fixed horizon: a stable round
        // is idempotent (every vertex re-adopts its own label), so
        // exiting the moment next == prev is oracle-identical to
        // unrolling all `rounds` rounds — the SQL oracle's remaining
        // rounds are identities. Keys are round-stable (symmetric
        // adjacency: every vertex has a labelled neighbour), so the
        // one-job cmp-frame loop (Loop.stable) applies; graphs that
        // 2-cycle (the bipartite oscillation in the scaladoc) never
        // stabilize and still stop at the horizon.
        loop.stable(init, rounds) { l =>
          new GrbVector(round(adj, l.df), a.nrows)
        }._1
      }
    }
  }

  /** one partition's (vertices, labels), in vertex order */
  private type Part = (Array[Long], Array[Long])

  /** The below-guard loop: the label vector on the driver, one job a
    * round (see the object's scaladoc). The fixpoint exit and the
    * horizon are the equi-join loop's.
    */
  private def onDriver(loop: Iterate.Loop, edges: DataFrame, n: Long,
      rounds: Int, width: Int): GrbVector = {
    val spark = edges.sparkSession
    val (adj, starts) = loop.partitionRows("adj", edges, "i")(vertices)
    var parts: Array[Part] = starts.map(v => (v, v))
    var labels = labelMap(parts)
    var change = true
    loop.rounds(rounds)(change) { _ =>
      val shipped = loop.ship("labels", labels)
      parts = adj.mapPartitions(rows => Iterator(vote(rows, shipped.value))).collect()
      val next = labelMap(parts)
      // Loop.changed's rule: a key whose value differs from the
      // previous round's, or that the previous round lacks
      change = next.exists { case (k, l) => labels.getOrElse(k, -1L) != l }
      labels = next
    }
    val rows = spark.sparkContext.parallelize(parts.toSeq, width).flatMap {
      case (vs, ls) => vs.indices.iterator.map(k => Row(vs(k), ls(k)))
    }
    new GrbVector(spark.createDataFrame(rows, StructType(Seq(
      StructField("i", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))), n)
  }

  private def labelMap(parts: Array[Part]): LongMap[Long] = {
    val m = new LongMap[Long](parts.map(_._1.length).sum)
    parts.foreach { case (vs, ls) => vs.indices.foreach(k => m.update(vs(k), ls(k))) }
    m
  }

  /** the distinct vertices of rows (i, j) sorted by i */
  private def vertices(rows: Iterator[InternalRow]): Array[Long] = {
    val vs = Array.newBuilder[Long]
    var cur = -1L // vertex ids are never negative
    rows.foreach { r =>
      val i = r.getLong(0)
      if (i != cur) { vs += i; cur = i }
    }
    vs.result()
  }

  /** One round over rows (i, j) sorted by i: each vertex adopts the
    * most frequent label among its labelled neighbours, ties to the
    * smallest — the mode of its sorted run of neighbour labels.
    */
  private def vote(rows: Iterator[InternalRow], labels: LongMap[Long]): Part = {
    val vs = Array.newBuilder[Long]
    val ls = Array.newBuilder[Long]
    var run = new Array[Long](16) // the current vertex's neighbour labels
    var n = 0
    var cur = -1L
    def adopt(): Unit = if (n > 0) {
      java.util.Arrays.sort(run, 0, n)
      var best = run(0)
      var most = 0
      var k = 0
      while (k < n) {
        var e = k + 1
        while (e < n && run(e) == run(k)) e += 1
        if (e - k > most) { most = e - k; best = run(k) }
        k = e
      }
      vs += cur
      ls += best
      n = 0
    }
    rows.foreach { r =>
      val i = r.getLong(0)
      if (i != cur) { adopt(); cur = i }
      val l = labels.getOrElse(r.getLong(1), -1L) // labels are vertex ids
      if (l >= 0) {
        if (n == run.length) run = java.util.Arrays.copyOf(run, 2 * n)
        run(n) = l
        n += 1
      }
    }
    adopt()
    (vs.result(), ls.result())
  }

  /** one synchronous vote/adopt step of the equi-join loop over labels
    * (i, v) — exposed for the plan audit (the loop checkpoints each
    * round, so the returned frame's plan is a block scan, not the
    * round's shape)
    */
  private[graft] def round(adj: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col("i").as("nb"), col("v").as("lab"))
    val votes = adj
      .join(lab, col("j") === col("nb"))
      .groupBy(col("i"), col("lab")).agg(count(lit(1)).as("c"))
    votes.groupBy(col("i"))
      .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
      .select(col("i"), (-col("m").getField("nl")).as("v"))
  }
}
