package graft.algo

import org.apache.spark.sql.functions._
import graft.core._

/** Greedy graph coloring, Jones–Plassmann style — the scheduling
  * kernel of the graph tier (LAGraph ships the same algorithm):
  * adjacent vertices get distinct colors, so each color class is an
  * independent set — a conflict-free parallel execution wave
  * (dedup-merge batches that touch disjoint docs, lock-free update
  * rounds, register allocation).
  *
  * Determinism discipline (the MIS rule): Jones–Plassmann's random
  * priorities are a hash order RE-DRAWN each round —
  * pkey_r(n) = md5(r || '-' || n) || '-' || n. Each round the ACTIVE
  * vertices that are local priority minima among their active
  * neighbours color themselves with the smallest color unused by
  * their already-colored neighbours (the mex); they then leave the
  * active set. Local minima are never adjacent, and the mex avoids
  * every earlier choice, so the coloring is proper; the whole run is
  * a pure function of the graph, replayable round-for-round by a SQL
  * oracle. The per-round redraw is load-bearing for the round count:
  * a FIXED priority order makes the rounds equal the longest
  * decreasing-priority path (measured 26–28 on the bench graph —
  * unlike MIS, colored vertices' neighbours stay active, so chains
  * survive), while redrawing gives every active vertex a fresh
  * chance at local minimality each round (measured 14–17 rounds on
  * the bench graph vs 26–28 fixed — the Luby effect).
  *
  * The mex is computed join-style, not by materializing color ranges:
  * candidates = {0} ∪ {used + 1}, anti-joined against used, min —
  * |used| + 1 rows per vertex being colored, O(deg) total. Per round:
  * the MIS-shaped selection (equi-join + min aggregate), one colored-
  * neighbour join, the mex anti-join, one left join folding the new
  * colors into the single (n, color-or-null) state frame — all
  * O(nnz), no windows, no pairing. State is ONE eagerly checkpointed
  * frame per round (active = color IS NULL), superseded blocks freed
  * (the KCore discipline); self-loops are dropped (uncolorable by
  * convention).
  *
  * @return vector (i, v): v = color index ≥ 0; adjacent vertices
  *         always differ.
  */
object Coloring {

  private def pkey(r: Int, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(md5(concat(lit(s"$r-"), c.cast("string"))), lit("-"), c.cast("string"))

  def greedyColor(a: GrbMatrix, maxIter: Int = 200): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"coloring adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    val raw = a.df.select(col("i"), col("j")).filter(col("i") =!= col("j"))
      .cache()
    val nnz = raw.count()
    Iterate.scope(spark, "Coloring") { loop =>
    val width = loop.sized(nnz)
    // Broadcast mode below the guard (the LPA/MIS §17o/§17p pattern):
    // vertex-sized frames broadcast into their joins, adjacency cached
    // by i — the actB/sel/colored joins and the nbmin aggregate then
    // plan exchange-free, and the thrice-referenced sel subtree dedups
    // through broadcast-exchange reuse instead of recomputing. Above
    // Grb.BroadcastGuard the sharded plan is unchanged.
    val bcast = loop.broadcasts(a.nrows)
    val adj = loop.cache(raw.repartition(width, col(if (bcast) "i" else "j")))
    adj.count() // materialize before freeing the sizing pass's cache
    raw.unpersist(false)
    // single state frame: (n, color) with color NULL while active;
    // the active count rides each checkpoint job as an observed metric
    // (Loop.probe) instead of a per-round count job
    val activeProbe = count(when(col("color").isNull, 1)).as("active")
    var (state, probe0) = loop.probe("state",
      adj.select(col("i").as("n")).distinct()
        .withColumn("color", lit(null).cast("long")), activeProbe)
    var n = probe0.getLong(0)
    loop.rounds(maxIter)(n > 0) { r =>
      val act = state.filter(col("color").isNull).select(col("n"))
      val actB = act.select(col("n").as("nb"), pkey(r, col("n")).as("bpk"))
      // heads not pre-restricted to active: a leftsemi on i would
      // re-shuffle the adjacency every round (the cache is partitioned
      // on the join side's key — j sharded, i broadcast-mode — so the
      // actB join reuses it shuffle-free); inactive heads die in
      // sel's act join (the Mis lesson, 2.9x on the bench graph)
      val nbmin = adj
        .join(loop.hint(actB), col("j") === col("nb"))
        .groupBy(col("i")).agg(min(col("bpk")).as("mn"))
      val sel = act.join(nbmin, col("n") === col("i"), "left")
        .filter(col("mn").isNull || pkey(r, col("n")) < col("mn"))
        .select(col("n"))
      // colors already taken by the selected vertices' neighbours
      val used = loop.hint(sel).join(adj, col("n") === col("i"))
        .join(loop.hint(state.filter(col("color").isNotNull)
          .select(col("n").as("cn"), col("color"))), col("j") === col("cn"))
        .select(col("n"), col("color")).distinct()
      // mex: candidates {0} ∪ {used + 1}, minus used, min
      val cand = sel.withColumn("cc", lit(0L))
        .unionByName(used.select(col("n"), (col("color") + 1L).as("cc")))
      val newc = cand.join(
        used.select(col("n").as("un"), col("color").as("uc")),
        col("n") === col("un") && col("cc") === col("uc"), "left_anti")
        .groupBy("n").agg(min(col("cc")).as("color"))
      val (nextState, probeRow) = loop.probe("state",
        state.join(newc.select(col("n").as("wn"), col("color").as("wc")),
          col("n") === col("wn"), "left")
          .select(col("n"), coalesce(col("color"), col("wc")).as("color")),
        activeProbe)
      state = nextState
      n = probeRow.getLong(0)
    }
    new GrbVector(state.select(col("n").as("i"), col("color").as("v")), a.nrows)
    }
  }
}
