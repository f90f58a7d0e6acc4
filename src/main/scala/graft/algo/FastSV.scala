package graft.algo

import graft.core._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FastSV connected components — the reference's flagship demo
  * (notebooks/Connected Components -- FastSV.ipynb). The loop body is a
  * direct expression of the notebook's GraphBLAS program:
  *
  *   mngp << semiring.min_second(A @ gp)     // mxv over min_second
  *   f(binary.min)[I] << mngp                // reduce_assign accum=min
  *   f << op.min(f | mngp)                   // ewise_add(min) hook
  *   f << op.min(f | gp)                     // shortcut
  *   gp << f[I]  where _, I = f.to_values()  // gather by distributed ix
  *   mod << op.ne(gp_dup & gp)               // ewise_mult(ne)
  *   change << mod.reduce(lor)               // to driver bool
  *
  * Scale discipline (the per-iteration cost is what survives 100×):
  *   - A is repartitioned by the mxv join key ONCE and cached, so each
  *     iteration shuffles only the (much smaller) parent vector;
  *   - the accumulated indexed assign is fused to scatter-min +
  *     ewise_add(min) — semantically identical for a dense f with a
  *     min accumulator, but 2 shuffles instead of ~6 (the generic
  *     §2.9 merge recipe);
  *   - iterates are cache()d (materialized by the convergence action)
  *     and lineage is truncated with localCheckpoint every round — the Spark analogue of the notebook's persist() calls
  *     (dask_grblas/base.py:345-346) without two eager jobs per round.
  */
object FastSV {

  /** @param a        symmetric adjacency matrix
    * @param nodes    optional vertex set (single column `i`). When
    *                 given, the parent vector is initialized sparsely
    *                 over it instead of densely over 0..nrows-1 — the
    *                 dense identity is pure waste when vertex ids are
    *                 sparse in the index space (e.g. an offset
    *                 bipartite encoding). `nodes` MUST contain every
    *                 vertex incident to an edge of `a` (isolated extra
    *                 vertices are fine): the fused hook admits any mxv
    *                 output key, so an edge endpoint outside `nodes`
    *                 would be hooked in mid-iteration and f's key set
    *                 would grow past the init set.
    */
  def connectedComponents(a: GrbMatrix, maxIter: Int = 100,
      nodes: Option[DataFrame] = None): GrbVector = {
    require(a.nrows == a.ncols, "adjacency must be square")
    val spark = a.spark
    val n = a.nrows
    // co-partition the adjacency by the contraction key once (every
    // mxv reuses the exchange), at the loop width — block fan-out ×
    // rounds is the fixed cost (Iterate.Loop.sized scaladoc)
    // Respect a caller-owned cache: cache()+unpersist() on a plan the
    // caller already persisted would evict THEIR CacheManager entry
    // (unpersist is by-plan, not by-reference), cooling every later use.
    val callerCached =
      a.df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val raw = if (callerCached) a.df else a.df.cache()
    val nnz = raw.count()
    // the identity labeling: every vertex its own parent
    val ident = nodes match {
      case Some(ns) => ns.select(col("i"), col("i").as("v"))
      case None => spark.range(n).select(col("id").as("i"), col("id").as("v"))
    }
    // Driver-local fast path (LocalCC scaladoc): below the threshold
    // the loop's per-round fixed cost dwarfs the data — solve the
    // labeling on the driver from the just-cached blocks and
    // broadcast-join it onto the identity frame. Isolated vertices
    // (in `nodes`/the dense range but in no edge) keep their
    // self-label through the coalesce, exactly as the loop leaves
    // them untouched.
    val localThr = LocalCC.threshold(spark)
    if (nnz <= localThr && nnz > 0) {
      val pairs = raw.select(col("i").cast("long"), col("j").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      if (!callerCached) raw.unpersist(false)
      import spark.implicits._
      val labDf = LocalCC.labels(pairs).toSeq.toDF("i", "_lab")
      return new GrbVector(
        ident.join(broadcast(labDf), Seq("i"), "left")
          .select(col("i"), coalesce(col("_lab"), col("v")).as("v")), n)
    }
    // whole-stage codegen off for the loop body: the per-round plans
    // re-generate fused classes every round/rep (measured 30 s of JIT
    // per fresh-context rep — see the Iterate.Loop codegen note);
    // volcano iterators with small cached projections run the same
    // few-MB exchanges at a fraction of the settle tax. Fresh-context
    // 31.9 -> 16.0 s on the q_cc_events graph, identical results.
    Iterate.scope(spark, "FastSV", codegen = false) { loop =>
    val width = loop.sized(nnz)
    val A = new GrbMatrix(loop.cache(raw.repartition(width, col("j"))), n, n)
    A.df.count()
    if (!callerCached) raw.unpersist(false)
    // f = gp = identity
    var f = new GrbVector(ident, n)
    var gp = new GrbVector(ident, n)
    var change = true
    loop.rounds(maxIter)(change) { _ =>
      // mngp = min_second(A @ gp): per-vertex min of neighbours' parents
      val mngp = A.mxv(gp, Ops.minSecond, broadcastVec = false)
      // f(min)[I=f-as-values] << mngp — fused hooking: scatter mngp
      // through f's values with a min combine, then merge with min.
      // (f is dense and the accumulator idempotent ⇒ identical to the
      // generic reduce_assign + §2.9 merge.)
      val scattered =
        mngp.df.withColumnRenamed("i", "pos")
          .join(f.df.select(col("i").as("pos"), col("v").cast("long").as("i")), Seq("pos"))
          .select(col("i"), col("v"))
      // hook + both min-merges fused: chained ewise_add(min) over
      // {f, scattered, mngp, gp} ≡ one per-key min over their union —
      // a single shuffle instead of three full-outer joins. f itself
      // is REDUNDANT in that union (round-14): every vertex's parent
      // satisfies f(v) ≤ v, so gp(i) = f(f(i)) ≤ f(i) pointwise, and
      // the gather preserves f's key set exactly — min(gp, …) already
      // covers min(f, gp, …) on every key. Dropping f cuts the
      // shuffled union from 4n to 3n rows with identical results.
      val f1 = scattered.unionByName(mngp.df).unionByName(gp.df)
        .groupBy("i").agg(min(col("v")).as("v"))
      // lineage truncation every round: with cache-only chaining the
      // logical plan (and per-round analysis cost) grows with the
      // iteration count. f1's checkpoint is lazy — materialized as a
      // side effect of the gather's eager checkpoint job (one fewer
      // job per round than two eager checkpoints).
      f = new GrbVector(loop.checkpoint("f", f1, eager = false), n)
      // gp = f[f]: gather parent-of-parent through a distributed
      // index, comparing against the previous gp IN THE SAME JOB —
      // the notebook's gp-stability convergence test (mod =
      // ne(gp_dup & gp); reduce lor) folded into the checkpoint
      // instead of a separate per-round join + reduce job. An
      // f-stability test would be a cheaper scan but costs extra
      // rounds on large graphs: gp (with shortcutting) stabilizes
      // before f does.
      val idx = f.df.select(col("i").as("pos"), col("v").cast("long").as("idx"))
      val gathered = f.extract(Ix.Dist(idx), sizeHint = n).df
      // the change count is observed during the checkpoint job itself
      // (Loop.probe) — no per-round isEmpty action over the
      // materialized blocks. Once it lands, the previous round's f/cmp
      // blocks can never be referenced again and the loop frees them,
      // bounding its storage at O(n) instead of O(rounds × n) — at
      // cluster scale the difference between a steady-state footprint
      // and an eviction cascade.
      val (cmp, probeRow) = loop.probe("cmp", gathered
        .join(gp.df.select(col("i"), col("v").as("_ov")), Seq("i"), "left")
        .select(col("i"), col("v"),
          (col("_ov").isNull || col("v") =!= col("_ov")).as("_chg")),
        count(when(col("_chg"), 1)).as("chg"))
      gp = new GrbVector(cmp.select(col("i"), col("v")), n)
      change = probeRow.getLong(0) > 0
    }
    f
    }
  }
}
