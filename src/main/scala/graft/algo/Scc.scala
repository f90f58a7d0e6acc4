package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Strongly connected components of a DIRECTED graph — the directed
  * counterpart of the CC family (reference scope is undirected CC via
  * FastSV; SCC is the natural extension once a pipeline carries
  * directed edges: link graphs, user-handoff graphs, citation DAG
  * condensation).
  *
  * Algorithm: iterative forward/backward min-label coloring with block
  * refinement — the deterministic, oracle-replayable relative of
  * FW-BW-style decompositions:
  *
  *   - Within each block (initially one), propagate to FIXPOINT
  *     f(v) = min id that reaches v, b(v) = min id v reaches — both
  *     via min-label rounds restricted to same-block edges. A label
  *     only ever travels along a real path, so f(v)=p certifies
  *     p⇝v and b(v)=p certifies v⇝p regardless of round count.
  *   - f(v)=b(v)=p ⟺ p⇝v ∧ v⇝p ⟺ v ∈ SCC(p): those vertices
  *     FINALIZE with scc=p. The block's minimum vertex always
  *     satisfies this (it is its own min ancestor and descendant), so
  *     every block finalizes ≥1 whole SCC per outer round —
  *     termination is structural, not probabilistic.
  *   - Survivors refine their block to the (f, b) pair. Same-SCC
  *     vertices share ancestor and descendant sets within a block, so
  *     they always share (f, b) — refinement never splits an SCC; and
  *     f is itself a member of the old block, so (f, b) keys cannot
  *     collide across old blocks.
  *
  * The min-label fixpoint is a lattice least-fixpoint — unique under
  * any fair update order — so a SQL oracle unrolling synchronous
  * rounds to a fixed depth ≥ the in-block diameter reproduces it
  * bit-for-bit (extra rounds are idempotent).
  *
  * Scale shape: per inner round one equi-join + min hash-aggregate per
  * direction over the active edge set — O(nnz) with map-side partial
  * mins, no windows, no pairing. Per-round state is eagerly
  * checkpointed with superseded blocks freed (the Mis/KCore loop
  * discipline); the active edge set is re-derived per OUTER round
  * (it only shrinks — finalized SCCs leave) and cached. Outer rounds
  * are ≤ the block-refinement depth (measured 1–2 on the shipped
  * event graphs; bounded by the condensation's "min-chain" length,
  * in practice a handful), inner rounds ≤ in-block diameter.
  *
  * @param edges0 directed edge frame with columns (u, v); self-loops
  *               ignored, duplicates deduplicated.
  * @return (n, scc) — scc = the smallest vertex id in n's strongly
  *         connected component (isolated-in-block vertices are their
  *         own singleton SCC).
  */
object Scc {
  def scc(edges0: DataFrame, maxOuter: Int = 50, maxInner: Int = 10000): DataFrame = {
    val raw = edges0.select(col("u").cast(LongType).as("u"),
        col("v").cast(LongType).as("v"))
      .filter(col("u") =!= col("v")).distinct().cache()
    val nnz = raw.count()
    // inner rounds × block fan-out is the loop's fixed cost — run the
    // whole refinement at the loop width (Iterate.Loop.sized)
    Iterate.scope(raw.sparkSession, "Scc") { loop =>
    val width = loop.sized(nnz)
    val edges = loop.cache(raw.repartition(width, col("v")))
    edges.count()
    raw.unpersist(false)
    val nodes = edges.select(col("u").as("n"))
      .unionByName(edges.select(col("v").as("n"))).distinct()
    // state: block key (bf, bb), finalized flag, scc label
    // every vertex starts not-done, so the initial remaining-count is
    // the plain row count, observed during the checkpoint job
    var (st, stProbe0) = loop.probe("st",
      nodes.select(col("n"), lit(0L).as("bf"), lit(0L).as("bb"),
        lit(false).as("done"), lit(null).cast(LongType).as("scc")),
      count(lit(1)).as("remaining"))
    var remaining = stProbe0.getLong(0)
    // Broadcast mode below the guard (the §17o-§17q family, keyed on
    // the ACTUAL vertex count just counted): label fragments broadcast
    // into the propagation joins so the edge set never re-clusters.
    val bcast = loop.broadcasts(remaining)
    loop.rounds(maxOuter)(remaining > 0) { _ =>
      val act = st.filter(!col("done")).select("n", "bf", "bb")
      // active edges: both endpoints live in the same unfinished block.
      // Finalized vertices' SCCs are complete, so their edges can never
      // matter again — the set only shrinks across outer rounds.
      val ae = loop.checkpoint("ae", edges
        .join(loop.hint(act.select(col("n").as("u"), col("bf").as("ubf"), col("bb").as("ubb"))), Seq("u"))
        .join(loop.hint(act.select(col("n").as("v"), col("bf"), col("bb"))), Seq("v"))
        .filter(col("ubf") === col("bf") && col("ubb") === col("bb"))
        .select(col("u"), col("v")))
      // Orientation handling per mode (round-14). BROADCAST mode: the
      // label fragments are hinted into both propagation joins, so the
      // checkpointed ae streams in place whatever its clustering — no
      // extra caches (a first cut added them here too and measured a
      // ~1 s/draw pessimization at bench scale: two materializations
      // bought nothing the hints weren't already buying). SHARDED mode
      // (above the guard — label frames too big for ANY broadcast,
      // including AQE's runtime conversion that covers the small case):
      // the inner loop propagates BOTH directions per round, and a
      // single-orientation ae would re-cluster O(nnz) on the other
      // direction EVERY inner round. The Hits CSR/CSC trade — two
      // cached repartitions paid once per outer round — caps per-round
      // traffic at the vertex-sized label exchange + agg partials.
      val shardCaches = if (bcast) Nil else {
        val aeU = ae.repartition(width, col("u")).cache()
        val aeV = ae.repartition(width, col("v")).cache()
        aeU.count(); aeV.count()
        Seq(aeU, aeV)
      }
      val ufBase = if (bcast) ae else shardCaches.head
      val ubBase = if (bcast) ae else shardCaches(1)
      // inner: synchronous min-label rounds for f (over in-edges) and
      // b (over out-edges) simultaneously, to joint fixpoint
      var fb = loop.checkpoint("fb",
        act.select(col("n"), col("n").as("f"), col("n").as("b")))
      var change = true
      loop.rounds(maxInner)(change) { _ =>
        val uf = ufBase.join(loop.hint(fb.select(col("n").as("u"), col("f").as("fu"))), Seq("u"))
          .groupBy(col("v").as("nf")).agg(min(col("fu")).as("mf"))
        val ub = ubBase.join(loop.hint(fb.select(col("n").as("v"), col("b").as("bv"))), Seq("v"))
          .groupBy(col("u").as("nb")).agg(min(col("bv")).as("mb"))
        // one checkpoint job per round carrying the change flag (the
        // Loop.stable cmp-frame pattern, two values instead of one);
        // the change count is observed during the checkpoint job
        // itself (Loop.probe — no per-round isEmpty)
        val (next, probeRow) = loop.probe("fb", fb
          .join(uf, col("n") === col("nf"), "left")
          .join(ub, col("n") === col("nb"), "left")
          .select(col("n"),
            least(col("f"), coalesce(col("mf"), col("f"))).as("f"),
            least(col("b"), coalesce(col("mb"), col("b"))).as("b"),
            (coalesce(col("mf"), col("f")) < col("f") ||
              coalesce(col("mb"), col("b")) < col("b")).as("_chg")),
          count(when(col("_chg"), 1)).as("chg"))
        change = probeRow.getLong(0) > 0
        fb = next.select("n", "f", "b")
      }
      // finalize f==b (guaranteed non-empty: each block's min vertex),
      // refine survivors' block to (f, b)
      val (nextSt, stProbe) = loop.probe("st", st
        .join(fb.select(col("n"), col("f"), col("b")), Seq("n"), "left")
        .select(col("n"),
          coalesce(col("f"), col("bf")).as("bf"),
          coalesce(col("b"), col("bb")).as("bb"),
          (col("done") || col("f") === col("b")).as("done"),
          when(col("done"), col("scc"))
            .otherwise(when(col("f") === col("b"), col("f"))).as("scc")),
        count(when(!col("done"), 1)).as("remaining"))
      remaining = stProbe.getLong(0)
      shardCaches.foreach(_.unpersist(false))
      st = nextSt
    }
    st.select(col("n"), col("scc"))
    }
  }
}
