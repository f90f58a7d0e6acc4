package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._

/** Maximal independent set via Luby-style parallel selection — the
  * classic GraphBLAS demo algorithm (reference exposes the same graph
  * tier; cf. graphblas demo `mis` in the upstream ecosystem), useful
  * in curation as a conflict-free representative picker: no two
  * chosen vertices are adjacent (e.g., pick one doc per near-dup
  * edge), and maximality means every unchosen vertex has a chosen
  * neighbour to defer to.
  *
  * Determinism discipline (the PageRank/LPA rule): Luby's coin flips
  * are replaced by a FIXED hash priority — pkey(n) = md5(n) || '-'
  * || n, a strict total order (the id suffix breaks ties, so two
  * distinct vertices never compare equal). Each round every ACTIVE
  * vertex whose pkey is strictly smaller than all of its active
  * neighbours' joins the set; selected vertices and their neighbours
  * deactivate. With hash-random priorities the expected round count
  * is O(log n) (the Luby argument — adversarial chains cannot occur
  * because the order is hash-shuffled), and the result is the unique
  * lexicographically-first MIS by pkey order, reproducible
  * round-for-round by a SQL oracle.
  *
  * Scale shape: per round one equi-join of the edge set against the
  * active frame + a min hash-aggregate (the neighbour minimum), two
  * anti-joins for deactivation — O(nnz) per round, no windows, no
  * pairing. Active-set state is eagerly checkpointed per round with
  * superseded blocks freed (the KCore loop discipline); the edge set
  * is repartitioned once on the join key and cached. Termination is
  * data-driven (active set empties — a 1-row count per round).
  *
  * Self-loops are dropped up front: a self-looped vertex can neither
  * join (it cannot beat its own priority) nor be removed — the
  * standard MIS convention excludes them.
  *
  * @return sparse indicator vector: (i, 1) for members of the set.
  */
object Mis {

  private def pkey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(md5(c.cast("string")), lit("-"), c.cast("string"))

  def mis(a: GrbMatrix, maxIter: Int = 100): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"mis adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    // ZERO-EXCHANGE ROUNDS below the broadcast guard (the LPA §17o
    // pattern): with every vertex-sized frame (active set, selection,
    // knocked-out neighbours) BROADCAST into its join, no join demands
    // j-clustering — the edge set caches partitioned by I, the
    // neighbour-min aggregate and the active/selection joins all ride
    // that one partitioning (broadcast joins preserve the streamed
    // side; checkpoints carry partitioning across rounds), and the
    // per-round exchanges vanish. Above the guard the sharded plan
    // below is unchanged — at n ≫ guard per-executor replication of
    // the active set costs more than the vertex-sized exchanges it
    // saves.
    //
    // Whole-stage codegen OFF for the loop (round-14, PERF_NOTES
    // §17g): same mechanism as FastSV — many rounds of few-MB
    // exchanges re-generate fused classes per round/rep and pay the
    // interpret-until-C2 settle every rep. ABBA at sf0.1 (3-rep
    // mins, mid window): kcore 8.26->6.42, lpa 8.88->7.15,
    // mis 8.09->5.28 — each below its healthy-window record.
    Iterate.scope(spark, "Mis", codegen = false) { loop =>
    val (raw, nnz) = loop.edges(
      a.df.select(col("i"), col("j")).filter(col("i") =!= col("j")))
    loop.sized(nnz)
    val bcast = loop.broadcasts(a.nrows)
    val adj = loop.partition("adj", raw, if (bcast) "i" else "j")
    // the active count rides each checkpoint job as an observed metric
    // (Loop.probe) instead of a per-round count job
    var (act, probe0) = loop.probe("act",
      adj.select(col("i").as("n")).distinct(), count(lit(1)).as("n"))
    var mis: DataFrame = loop.checkpoint("mis", act.filter(lit(false)))
    var n = probe0.getLong(0)
    loop.rounds(maxIter)(n > 0) { _ =>
      val actB = act.select(col("n").as("nb"), pkey(col("n")).as("bpk"))
      // min active-neighbour priority per edge head. Heads are NOT
      // pre-restricted to active: a leftsemi on i would re-shuffle the
      // whole adjacency every round (the cache is partitioned on the
      // join side's key — j sharded, i broadcast-mode — so the actB
      // join below reuses it shuffle-free, and the groupBy ships
      // map-side-combined partials only); inactive heads' rows
      // die in sel's act join
      val nbmin = adj
        .join(loop.hint(actB), col("j") === col("nb"))
        .groupBy(col("i")).agg(min(col("bpk")).as("mn"))
      // eager-checkpoint the selection: nextAct and nextMis both hang
      // off it, and without the materialization each would recompute
      // the round's nbmin aggregate from scratch
      val sel = loop.checkpoint("sel", act.join(nbmin, col("n") === col("i"), "left")
        .filter(col("mn").isNull || pkey(col("n")) < col("mn"))
        .select(col("n")))
      // no distinct: left_anti below ignores duplicate right-side rows,
      // so deduplicating the neighbour set would be a wasted shuffle
      val newOut = adj
        .join(loop.hint(sel.select(col("n").as("s"))),
          col("j") === col("s"), "leftsemi")
        .select(col("i").as("n"))
      val (nextAct, probeRow) = loop.probe("act",
        act.join(loop.hint(sel), Seq("n"), "left_anti")
          .join(loop.hint(newOut), Seq("n"), "left_anti"), count(lit(1)).as("n"))
      mis = loop.checkpoint("mis", mis.unionByName(sel))
      act = nextAct
      n = probeRow.getLong(0)
    }
    new GrbVector(mis.select(col("n").as("i"), lit(1L).as("v")), a.nrows)
    }
  }
}
