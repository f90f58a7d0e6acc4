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
  * hash agg on the surviving edge set — rounds ≤ the peel depth
  * (≤ max degeneracy ordering length, in practice tens).
  *
  * @return sparse vector over core members: value = degree WITHIN the
  *         k-core (≥ k by construction); vertices outside the core
  *         are absent. Empty when no k-core exists.
  */
object KCore {
  /** @param shrinkThreshold controls when the adjacency is
    *   re-materialized to surviving edges (see the loop comment).
    *   -1 (default) = the MEASURED rule: each round, a listener sums
    *   the round's task executor time; dataWall = Σtask/cores is the
    *   round's data-proportional cost, overheadWall = wall − dataWall
    *   its fixed scheduler/checkpoint cost. Rebuild when
    *     5 · deadFrac · dataWall ≥ 2 · dataWall + overheadWall
    *   — the saving over the peel's long near-stable tail (≥5 more
    *   rounds once the big round-1 kill is done — measured: 63% of
    *   nnz dies in round 1) against the rebuild's two semi-join
    *   passes plus one round's worth of job overhead. This re-derives
    *   both measured regimes with no constant to tune per graph: at
    *   bench scale dataWall ≈ 0 (rounds are overhead — the sf0.1 ABBA
    *   where forcing the rebuild cost +9 s) so it never fires; on a
    *   scan-dominated graph dataWall dominates and the dead fraction
    *   alone decides, which is where the rebuild repays.
    *   0 forces the rebuild on every 30%-dead event; >0 is the legacy
    *   count rule (rebuild only while survivors exceed the threshold).
    */
  def kcore(a: GrbMatrix, k: Long, maxIter: Int = 100,
      shrinkThreshold: Long = -1L): GrbVector = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"kcore adjacency must be square: ${a.nrows}x${a.ncols}")
    val spark = a.df.sparkSession
    // one pass to learn nnz (cached so the loop-width repartition below
    // does not recompute the upstream), then the whole loop runs at a
    // shuffle width sized for the loop's per-round work, not the
    // session's heaviest-single-aggregate width (Iterate.Loop.sized)
    val raw = a.df.select(col("i"), col("j"), lit(1L).as("v")).cache()
    val nnz = raw.count()
    // Whole-stage codegen OFF for the loop (round-14, PERF_NOTES
    // §17g): same mechanism as FastSV — many rounds of few-MB
    // exchanges re-generate fused classes per round/rep and pay the
    // interpret-until-C2 settle every rep. ABBA at sf0.1 (3-rep
    // mins, mid window): kcore 8.26->6.42, lpa 8.88->7.15,
    // mis 8.09->5.28 — each below its healthy-window record.
    Iterate.scope(spark, "KCore", codegen = false) { loop =>
    val width = loop.sized(nnz)
    // ZERO-EXCHANGE ROUNDS below the broadcast guard (the LPA §17o
    // pattern): survivor-vector joins broadcast, adjacency cached by
    // i — see coreDegree below. Above the guard the sharded j-cache
    // plan is unchanged.
    val bcast = loop.broadcasts(a.nrows)
    var A = new GrbMatrix(
      loop.cache(raw.repartition(width, col(if (bcast) "i" else "j"))),
      a.nrows, a.ncols)
    A.df.count() // materialize before freeing the sizing pass's cache
    raw.unpersist(false)
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
    // survivor count at the last edge-set materialization: peels
    // front-load their shrink (measured on the bench graph: 63% of
    // nnz dies in round 1, then a long near-stable tail), so when the
    // survivor set drops below 70% of the cached edge basis the
    // adjacency is RE-MATERIALIZED to the edges among survivors —
    // every later round then scans the surviving nnz instead of the
    // original. Survivors only shrink, so the shrunken set stays a
    // superset of all future surviving edges (the mxv's survivor
    // join + mask keep exactness). Shrink events are O(log n) at
    // worst; each costs one semi-join pass over the current set.
    var edgeBasisN = n
    var stable = false
    // per-round data-cost meter for the measured shrink rule: Σ task
    // executor time over THE LOOP'S OWN jobs ÷ cores = the round's
    // data-proportional wall share; the remainder of the measured
    // wall is fixed scheduler/checkpoint overhead a rebuild can't cut.
    // Scoped by job group so a concurrent query on the same session
    // cannot inflate the measurement and mis-fire a rebuild: the
    // listener counts only stages of jobs started under this loop's
    // group id.
    val groupId = s"graft-kcore-${java.util.UUID.randomUUID()}"
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val myStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val meter = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            groupId == js.properties.getProperty("spark.jobGroup.id"))
          js.stageIds.foreach(sid => myStages.add(sid))
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null && myStages.contains(te.stageId))
          taskMs.addAndGet(te.taskMetrics.executorRunTime)
    }
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    // setJobGroup clobbers the caller's thread-local group (and with it
    // the caller's cancellation scope) — snapshot and restore instead
    // of clearJobGroup, so a caller-set group survives the loop
    val savedGroup =
      spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    val savedDesc =
      spark.sparkContext.getLocalProperty("spark.job.description")
    val savedInterrupt =
      spark.sparkContext.getLocalProperty("spark.job.interruptOnCancel")
    if (shrinkThreshold < 0) {
      spark.sparkContext.addSparkListener(meter)
      spark.sparkContext.setJobGroup(groupId,
        "graft k-core peel (shrink-rule metered)")
    }
    try {
    loop.rounds(maxIter)(!stable && n > 0) { _ =>
      val t0 = System.nanoTime()
      taskMs.set(0L)
      val (nextDf, probeRow) = loop.probe("s",
        coreDegree(s).selectOp(_ >= k).df
          .select(col("i"), lit(1L).as("v")), count(lit(1)).as("n"))
      val next = new GrbVector(nextDf, a.nrows)
      val n2 = probeRow.getLong(0)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      stable = n2 == n
      s = next
      n = n2
      val deadFrac = 1.0 - n2.toDouble / edgeBasisN
      val wantShrink =
        if (shrinkThreshold > 0) // legacy count rule
          edgeBasisN > shrinkThreshold && n2 * 10 < edgeBasisN * 7
        else if (shrinkThreshold == 0) // force on every 30%-dead event
          n2 * 10 < edgeBasisN * 7
        else { // measured rule (see scaladoc)
          // listener events arrive asynchronously: without a drain the
          // round undercounts its own tasks and late events leak into
          // the NEXT round after taskMs.set(0). Quiesce the bus before
          // reading; on (never-observed) timeout the read degrades to
          // the old conservative best-effort value.
          org.apache.spark.sql.graft.ListenerQuiesce
            .waitUntilEmpty(spark.sparkContext)
          val dataWall = taskMs.get().toDouble / cores
          val overheadWall = math.max(0.0, wallMs.toDouble - dataWall)
          5.0 * deadFrac * dataWall >= 2.0 * dataWall + overheadWall
        }
      if (!stable && n > 0 && wantShrink) {
        val shrunk = A.df
          .join(loop.hint(s.df.select(col("i").as("sa"))),
            col("i") === col("sa"), "leftsemi")
          .join(loop.hint(s.df.select(col("i").as("sb"))),
            col("j") === col("sb"), "leftsemi")
          .select(col("i"), col("j"), col("v"))
        val nextA = new GrbMatrix(
          loop.cache(shrunk.repartition(width, col(if (bcast) "i" else "j"))),
          a.nrows, a.ncols)
        nextA.df.count() // materialize before dropping the old basis
        A.df.unpersist(false)
        A = nextA
        edgeBasisN = n2
      }
    }
    new GrbVector(loop.checkpoint("out", coreDegree(s).df), a.nrows)
    } finally {
      if (shrinkThreshold < 0) {
        // restore (not clear) the caller's thread-local job group
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", savedGroup)
        spark.sparkContext.setLocalProperty("spark.job.description", savedDesc)
        spark.sparkContext.setLocalProperty(
          "spark.job.interruptOnCancel", savedInterrupt)
        spark.sparkContext.removeSparkListener(meter)
      }
    }
    }
  }
}
