package graft.algo

import graft.core.{Grb, GrbMatrix, GrbVector}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreshCheckpoint

/** Iteration harness for algorithm loops (SURVEY §7.1) — the Spark
  * analogue of the reference notebook's persist() checkpointing
  * (dask_grblas/base.py:345-346): every round's state is eagerly
  * localCheckpoint'ed so the logical plan (and with it Catalyst
  * analysis time) stays O(one round) instead of growing with the
  * iteration count, and failed stages replay from materialized blocks
  * instead of the whole loop history.
  *
  * Every loop in `graft.algo` runs inside one [[Iterate.scope]]: the
  * [[Loop]] it hands the body owns the loop's lifecycle — shuffle
  * width, codegen, the broadcast-vs-sharded decision, checkpoint
  * blocks (freed when superseded and on exit), caches, and the
  * per-round job marker.
  */
object Iterate {

  /** Loop-internal checkpoint: `localCheckpoint` semantics with the
    * source plan's statistics CAPPED at the conf default. The non-CBO
    * size visitor estimates joins as the PRODUCT of child sizes, so a
    * loop that checkpoints a join/union of its own previous checkpoint
    * compounds sizeInBytes geometrically — after enough rounds the
    * driver's main thread spins whole minutes multiplying
    * million-digit BigIntegers inside Dataset.checkpoint while
    * executors idle (first hit by Borůvka's FastSV contraction; any
    * deep-enough loop gets there). The cap bounds the BigInt per
    * round while genuinely small frames (1-row seeds, early
    * frontiers) keep their honest stats and stay statically
    * auto-broadcastable. Terminal results keep the standard
    * localCheckpoint. See org.apache.spark.sql.graft.FreshCheckpoint.
    */
  implicit class FreshOps(private val df: DataFrame) extends AnyVal {
    def freshCheckpoint(eager: Boolean = true): DataFrame =
      FreshCheckpoint(df, eager)
  }

  /** Job-local property naming the loop round a Spark job belongs to:
    * `<Algo>:<round>`, round 0 for a loop's setup and teardown jobs,
    * nested rounds dot-joined (`Scc:2.5` = inner round 5 of outer
    * round 2). Read it off `SparkListenerJobStart.properties` to
    * attribute jobs, stages and tasks to rounds; the caller's value
    * is restored when the loop exits.
    */
  val RoundKey = "graft.loop"

  /** Run one algorithm loop. `body` gets the [[Loop]] that owns the
    * loop's session overrides and checkpoint blocks; on exit (normal
    * or not) the overrides are restored, the loop's caches dropped,
    * and every checkpoint block it holds is freed EXCEPT those the
    * returned value reads (a DataFrame, GrbVector, GrbMatrix, or a
    * tuple of them).
    *
    * @param name    the loop's name in the [[RoundKey]] marker
    * @param codegen whole-stage codegen for the loop's jobs; off only
    *                for the loops [[Loop]]'s codegen note measured
    */
  def scope[T](spark: SparkSession, name: String, codegen: Boolean = true)(
      body: Loop => T): T = {
    val loop = new Loop(spark, name, codegen)
    var out: Option[T] = None
    try { out = Some(body(loop)); out.get }
    finally loop.close(out)
  }

  /** The lifecycle of one loop — see [[scope]].
    *
    * Codegen (`scope(codegen = false)`): runs the loop with whole-
    * stage codegen OFF — the JIT-surface lever for checkpointed loops
    * (round-14, PERF_NOTES §17).
    *
    * A checkpointed loop re-plans every round, and under AQE each
    * round's stages carry freshly generated whole-stage classes (the
    * runtime-reoptimized plans differ enough that the source-keyed
    * codegen cache misses): the per-rep JIT meter showed the FastSV
    * loop COMPILING 30 s of code per fresh-context rep — more wall
    * than the data work itself — and the not-yet-compiled generated
    * classes burn interpreted CPU until C2 lands (the §16f settle,
    * re-paid every rep). Whole-stage codegen exists to fuse operator
    * loops over millions of rows per task; a loop round here pushes a
    * few MB per exchange, so the fused-loop win is microseconds while
    * the compile+interpret tax is seconds. With wholeStage off the
    * stages run through volcano iterators built from SMALL per-
    * operator projections (stable sources → codegen-cache hits across
    * rounds and reps): measured on the q_cc_events FastSV loop
    * (1.2M nnz), fresh-context 31.9 → 16.0 s, warm 19.3 → 10.5 s,
    * per-rep JIT 30 → 12 s, identical results.
    *
    * Two alternatives measured and REJECTED on the same A/B
    * (PERF_NOTES §17): AQE off entirely (static plans would dedup the
    * codegen) lost 1.6× — the loop's joins fell back to sort-merge
    * where AQE had been choosing cheaper local strategies, executor
    * CPU rose 2× (178 s); and shuffle_hash join hints on the
    * co-partitioned joins lost ~15% — AQE's independent per-exchange
    * coalescing breaks the partition-count match the hint needs, so
    * the hinted join re-exchanges both sides.
    *
    * NOT for one-shot queries: a scan-heavy aggregation over many
    * rows per task is exactly what whole-stage codegen is for. The
    * tradeoff only inverts when a small plan runs many times.
    */
  final class Loop private[Iterate] (spark: SparkSession, name: String,
      codegen: Boolean) {
    private val sc = spark.sparkContext
    // session confs this loop overrides → their values at entry
    private val saved = scala.collection.mutable.LinkedHashMap[String, String]()
    // checkpoint blocks by slot; lazy checkpoints wait in `pending`
    // until the next eager materialization (which must read them)
    private val slots = scala.collection.mutable.LinkedHashMap[String, Seq[RDD[_]]]()
    private val pending = scala.collection.mutable.LinkedHashMap[String, DataFrame]()
    private val caches = scala.collection.mutable.ListBuffer[DataFrame]()
    private val callerRound = sc.getLocalProperty(RoundKey)
    private var path = List.empty[Int] // enclosing rounds, innermost first
    private var bcast = false

    mark()
    if (!codegen) set("spark.sql.codegen.wholeStage", "false")

    private def set(key: String, value: String): Unit = {
      if (!saved.contains(key)) saved(key) = spark.conf.get(key)
      spark.conf.set(key, value)
    }

    private def mark(): Unit = sc.setLocalProperty(RoundKey,
      s"$name:" + (if (path.isEmpty) "0" else path.reverse.mkString(".")))

    /** Size `spark.sql.shuffle.partitions` for the rest of the loop
      * for ~`workRows` rows per round ([[loopWidth]]); returns the
      * width.
      *
      * Why: the session-level width is sized for the suite's heaviest
      * single aggregation (per-task hash state — Bench uses 4× cores,
      * PERF_NOTES §5), but an iterative algorithm runs MANY small jobs:
      * per round every exchange fans out map×reduce shuffle blocks and
      * every eager checkpoint materializes one block per partition, so
      * fixed cost scales with width × rounds. Measured on the sf0.1
      * bipartite graph (1.2M nnz, warm JVM): kcore 30.1 s at width 128
      * vs 8.5 s at 32; MIS 24.3 vs 13.7; LPA 26.3 vs 16.1 — a 2-3.5×
      * tax AQE does not claw back (coalescing happens per-stage, but
      * map-side block count and checkpoint block count follow the
      * configured width).
      *
      * The round-10 rule floored width at cluster parallelism ("every
      * core works"). The round-11 ITERTAIL decomposition (SelfBaseline,
      * q_lpa loop on the sf0.1 graph, per-round listener split) showed
      * that floor is wrong when per-round work is small: at width 32
      * the rounds were ~80% fixed cost (Σ shuffle-file write/commit
      * time 2.2-2.6 s per round for ~20 MB of data — map×reduce block
      * fan-out — against a 0.15 s data wall), and narrowing to 16/8 cut
      * the loop total 7.6 → 4.1 s with identical results. Idle cores
      * cost nothing when a round's data wall is milliseconds; block
      * fan-out costs every round, and degraded-IO host windows multiply
      * exactly that fixed part (the 2-4× q_lpa/q_hits/q_kcore/q_mis
      * window tax this rule cuts).
      *
      * Shipped rule: width targets ~150k state rows per task with a
      * floor of 8, and never EXCEEDS the round-10 rule
      * (max(parallelism, workRows/500k)) — so big-graph loops keep the
      * per-task-state bound (~500k rows ≈ tens of MB), a 100 TB run
      * (workRows ≫ 500k × cluster cores) sizes by rows exactly as
      * before, and a session narrower than the floor (Verify at 4) is
      * never widened — the floor is clamped at the session's configured
      * shuffle width, so the guarantee is structural, not an artifact
      * of narrow sessions also having low defaultParallelism.
      *
      * Where NOT to apply it: frontier loops whose per-round aggregates
      * are small (Bfs.levels/sssp/multiSourceLevels, SpCount's waves and
      * dag accumulations) deliberately stay at the session width — their
      * frontier-side aggregates are tiny, AQE already coalesces them
      * per-stage, and the nnz-sizing pass this helper needs costs more
      * than the width change saves (measured r11: q_bfs 1.88 → 2.16 s,
      * q_betweenness 3.19 → 4.68 s WITH the wrapper; reverted). The rule
      * pays where per-round state is O(n) dense and rounds are many —
      * LPA/KCore/MIS/Coloring/HITS/PageRank/SCC/ANF/walks/Borůvka.
      */
    def sized(workRows: Long): Int = {
      val width = loopWidth(spark, workRows)
      set("spark.sql.shuffle.partitions", width.toString)
      width
    }

    /** The broadcast-vs-sharded decision for a loop whose per-round
      * broadcast frames hold ≤ `rows` rows of ~`rowBytes` bytes each:
      * broadcast while they fit [[Grb.broadcastGuard]]'s byte budget.
      * Setting `spark.graft.broadcast.maxBytes=1` shrinks the guard to
      * one row and so forces every loop onto its sharded plan.
      * [[hint]] follows the decision.
      */
    def broadcasts(rows: Long, rowBytes: Long = Grb.BroadcastRowBytes): Boolean = {
      bcast = rows <= Grb.broadcastGuard(spark, rowBytes)
      bcast
    }

    /** `broadcast(df)` in broadcast mode, `df` in sharded mode */
    def hint(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df

    /** `df.cache()`, dropped when the loop exits */
    def cache(df: DataFrame): DataFrame = { caches += df; df.cache() }

    /** Run `body(r)` for rounds r = 1, 2, … while `more` holds, at most
      * `max` rounds, with the round's jobs marked `<name>:<r>`
      * ([[RoundKey]]; nested calls mark `<outer>.<r>`). Returns the
      * number of rounds run.
      */
    def rounds(max: Int)(more: => Boolean)(body: Int => Unit): Int = {
      val outer = path
      var r = 0
      try while (more && r < max) {
        r += 1
        path = r :: outer
        mark()
        body(r)
      } finally { path = outer; mark() }
      r
    }

    /** Make this loop own the checkpoint blocks `df` reads, in `slot`:
      * the blocks the slot held before are freed (unless another slot
      * still holds them). For frames whose checkpoint someone else
      * took — an inner loop's result.
      */
    def hold(slot: String, df: DataFrame): DataFrame = {
      val old = slots.put(slot, blocks(df)).getOrElse(Nil)
      val live = slots.values.flatten.map(_.id).toSet
      old.filterNot(r => live(r.id)).foreach(_.unpersist(false))
      df
    }

    private def settle(): Unit = {
      pending.foreach { case (slot, df) => hold(slot, df) }
      pending.clear()
    }

    /** [[FreshOps.freshCheckpoint]] of `df` into `slot`, freeing the
      * block it supersedes. A lazy checkpoint (`eager = false`) takes
      * its slot at the loop's next eager checkpoint or probe, whose
      * job must read it (that job is what materializes it).
      */
    def checkpoint(slot: String, df: DataFrame, eager: Boolean = true): DataFrame = {
      val out = FreshCheckpoint(df, eager)
      if (eager) { settle(); hold(slot, out) } else pending(slot) = out
      out
    }

    /** [[checkpointWithProbe]] into `slot`: the round's convergence
      * probe `metric` rides its checkpoint job. `keepPartitioning =
      * false` is FreshCheckpoint.withObserved's partitioning-carry
      * opt-out.
      */
    def probe(slot: String, df: DataFrame, metric: Column,
        keepPartitioning: Boolean = true): (DataFrame, Row) = {
      val (out, row) = observed(df, keepPartitioning, Seq(metric))
      settle()
      hold(slot, out)
      (out, row)
    }

    /** Vector loop converging on VALUE STABILITY, with the prev-vs-next
      * comparison FOLDED into the per-round checkpoint (the FastSV
      * cmp-frame pattern): each round runs ONE Spark job — the eager
      * checkpoint of (i, v, _chg) — and the change count rides that
      * job as its probe, instead of a separate full-outer-join isequal
      * action on top of the checkpoint job. Requires the step to be
      * key-monotone (keys(next) ⊇ keys(prev) — true of any
      * ewise_add-accumulated iteration), so a left join from next sees
      * every prev key.
      *
      * @return (fixpoint or horizon vector, rounds run) — the rounds
      *         are the early-exit evidence a fixpoint loop's spec pins
      */
    def stable(init: GrbVector, maxIter: Int)(
        step: GrbVector => GrbVector): (GrbVector, Int) = {
      var f = init
      var change = true
      val used = rounds(maxIter)(change) { _ =>
        val next = step(f)
        val (cmp, probeRow) = probe("stable", next.df
          .join(f.df.select(col("i"), col("v").as("_ov")), Seq("i"), "left")
          .select(col("i"), col("v"),
            (col("_ov").isNull || col("v") =!= col("_ov")).as("_chg")),
          count(when(col("_chg"), 1)).as("chg"))
        f = new GrbVector(cmp.select(col("i"), col("v")), next.size)
        change = probeRow.getLong(0) > 0
      }
      (f, used)
    }

    /** `n` fixed rounds of `step`, each round's vector checkpointed */
    def vectorRounds(init: GrbVector, n: Int)(
        step: GrbVector => GrbVector): GrbVector = {
      var v = init
      rounds(n)(true) { _ =>
        val next = step(v)
        v = new GrbVector(checkpoint("vector", next.df), next.size)
      }
      v
    }

    /** The frontier loop of a traversal whose values are FINAL on
      * first touch (BFS levels, shortest-path counts, and their
      * multi-source matrix-frontier forms): each round expands the
      * frontier, anti-joins the candidates against the visited keys,
      * checkpoints the new frontier with its size as the probe, and
      * unions it into the checkpointed result; the loop ends when the
      * frontier empties.
      *
      * @param init   result rows before round 1
      * @param keys   the visited-set key columns
      * @param seeds  rows in the round-1 frontier
      * @param seed   the round-1 frontier, from the checkpointed init
      * @param expand frontier → candidate rows (keys + value columns;
      *               a surviving candidate IS the next frontier)
      * @param record (new frontier, round) → its result rows
      */
    def frontier(init: DataFrame, keys: Seq[String], seeds: Long,
        maxIter: Int)(seed: DataFrame => DataFrame,
        expand: DataFrame => DataFrame,
        record: (DataFrame, Long) => DataFrame): DataFrame = {
      var res = checkpoint("result", init)
      var front = seed(res)
      var n = seeds
      rounds(maxIter)(n > 0) { k =>
        val (next, probeRow) = probe("frontier", expand(front)
          .join(res.select(keys.map(col): _*), keys, "left_anti"),
          count(lit(1)).as("n"))
        n = probeRow.getLong(0)
        if (n > 0) {
          res = checkpoint("result", res.unionByName(record(next, k.toLong)))
          front = next
        }
      }
      res
    }

    private[Iterate] def close(result: Option[Any]): Unit = {
      val keep = result.fold(Set.empty[Int])(blocks(_).map(_.id).toSet)
      (slots.values.flatten ++ pending.values.flatMap(blocks))
        .filterNot(r => keep(r.id)).foreach(_.unpersist(false))
      caches.foreach(_.unpersist(false))
      saved.foreach { case (k, v) => spark.conf.set(k, v) }
      sc.setLocalProperty(RoundKey, callerRound)
    }
  }

  /** Eager [[FreshOps.freshCheckpoint]] whose materialization job ALSO
    * evaluates the given aggregate `probe` columns over the
    * checkpointed rows, via `Dataset.observe` (CollectMetrics): the
    * loop's convergence/count probe rides the checkpoint job instead
    * of paying its own driver round-trip per round. Before this, every
    * data-driven loop ran one extra action per round over the
    * just-materialized blocks — a `count()` (two stages: partial agg +
    * single-partition exchange) or an `isEmpty` (executeTake, which on
    * the stable FINAL round scans every partition in sequential
    * escalating waves). The observe aggregate is computed by the
    * materialization tasks themselves and read off the executed plan's
    * accumulators after the job — zero extra jobs, zero extra scans
    * (guide §2: per-round fixed cost scales with rounds; VERDICT r14
    * item 1 "hoist the convergence probe into the gather job").
    *
    * The CollectMetrics node passes rows through unchanged and
    * preserves the child's output partitioning, so the checkpointed
    * frame keeps its clustering (the broadcast-mode loops' zero-
    * exchange rounds depend on it — spec-pinned in PlanAuditSpec).
    *
    * @return (checkpointed frame, probe row — one column per probe
    *         aggregate, initial aggregate values when the frame is
    *         empty, e.g. count = 0)
    */
  def checkpointWithProbe(df: DataFrame, probe: Column,
      more: Column*): (DataFrame, Row) =
    observed(df, keepPartitioning = true, probe +: more)

  private val probeSeq = new java.util.concurrent.atomic.AtomicLong()

  private def observed(df: DataFrame, keepPartitioning: Boolean,
      probes: Seq[Column]): (DataFrame, Row) = {
    // one observation name per call: a caller's frame may already
    // carry observations (even one named like ours), and Spark rejects
    // two different definitions under one name in a plan
    val name = s"graft_probe_${probeSeq.incrementAndGet()}"
    val (out, metrics) = FreshCheckpoint.withObserved(
      df.observe(name, probes.head, probes.tail: _*), keepPartitioning)
    (out, metrics.getOrElse(name, throw new IllegalStateException(
      s"checkpoint probe '$name' is missing from the executed plan's " +
        s"observed metrics (got: ${metrics.keys.mkString(", ")})")))
  }

  /** the localCheckpoint block RDDs a value reads — every LogicalRDD
    * leaf of its frames' analyzed plans (lazy and eager checkpoints
    * both wrap one). Freeing superseded rounds' blocks keeps a loop's
    * storage O(n) instead of O(rounds × n).
    */
  private[graft] def blocks(x: Any): Seq[RDD[_]] = x match {
    case df: org.apache.spark.sql.Dataset[_] => df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }
    case v: GrbVector => blocks(v.df)
    case m: GrbMatrix => blocks(m.df)
    case p: Product => p.productIterator.flatMap(blocks).toSeq
    case _ => Nil
  }

  /** the [[Loop.sized]] sizing rule alone — for loops that size an
    * RDD partitioning instead of the SQL shuffle width (PregelCC's
    * GraphX rounds follow the edge RDD's partition count)
    */
  def loopWidth(spark: SparkSession, workRows: Long): Int = {
    // operator override for controlled width A/Bs and deployments
    // whose executor/storage geometry contradicts the sizing rule —
    // the same escape hatch every sizing heuristic in the repo keeps
    scala.util.Try(spark.conf.get("spark.graft.loop.width").toInt)
      .toOption.filter(_ >= 1).foreach(w => return w)
    val hi = math.min(math.max(
      spark.sparkContext.defaultParallelism.toLong,
      workRows / 500000L), 1000000L)
    // The floor (8) never widens a session that deliberately runs
    // narrower (Verify at 4): clamp it at the configured session
    // width, so the scaladoc guarantee holds by construction rather
    // than by the coincidence that narrow sessions also have low
    // defaultParallelism. Rows-scaled widening (workRows/150k) is NOT
    // clamped — a big graph must still widen for the per-task-state
    // bound even in a narrow session.
    val sessionWidth = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toLong)
      .getOrElse(spark.sparkContext.defaultParallelism.toLong)
    val floor = math.min(8L, math.max(1L, sessionWidth))
    math.max(1L, math.min(hi, math.max(workRows / 150000L, floor))).toInt
  }
}
