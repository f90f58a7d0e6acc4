package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core._

/** DETERMINISTIC random walks — the DeepWalk/node2vec corpus
  * generator: one fixed-length walk from every vertex, the sentence
  * stream a graph-embedding trainer consumes (reference surface:
  * composes the extract/mxv-style gather the dask_grblas adjacency
  * supports; the walk corpus itself is pipeline surface beyond the
  * reference, like the text dedup family).
  *
  * Determinism: the "random" neighbour choice at step t from vertex
  * cur on the walk started at s is hash-driven —
  * idx = md5(s ⊕ cur ⊕ t) mod deg(cur) — the corpus-reproducibility
  * property a training pipeline needs (re-running the pipeline
  * regenerates byte-identical training data; the md5-based hash32 is
  * the same one the dedup family shares with its oracles, so an
  * external engine replays every step bit-for-bit). Keying the hash
  * on (start, cur, t) keeps walks from collapsing onto shared
  * trajectories after a collision: two walks meeting at a vertex
  * diverge again.
  *
  * Scale shape: the adjacency is ranked ONCE per source vertex with a
  * HUB-SAFE two-level rank (see [[rankedAdjacency]] — no per-vertex
  * corpus window), NEIGHBOUR-degree-attached (see below), and cached
  * pre-partitioned on the gather key; each step is then ONE equi-join
  * — position×adjacency on (vertex, idx) — shuffling only the O(V)
  * position frame, never the O(E) adjacency. Steps are checkpointed
  * with superseded blocks freed (the Iterate discipline). Symmetric
  * input means no dead ends: every started walk has full length.
  *
  * WALKER-CONCENTRATION skew (round-13, found by the 10⁷-degree
  * HUBWALK tier): walkers pile up AT high-degree vertices (a 10⁷-spoke
  * star funnels every spoke's walker onto the hub after one step), so
  * any per-step join keyed on the current vertex alone puts ALL of a
  * hub's walkers in one task — the old position×degree draw join drew
  * a 58 s max task against a 17 s p95. The fix carries the degree WITH
  * the walker: `indexed` stores deg(nbr) on every edge row (one
  * build-time join, AQE-skew-splittable, O(E) once), the init frame
  * attaches deg(start) (distinct keys — skew-free), and each step's
  * draw `idx = hash mod deg` needs no join at all. The remaining move
  * join keys on (cur, _ix) where _ix is hash-uniform over [0, deg) —
  * a 10M-walker hub spreads over 10M distinct keys.
  */
object RandomWalk {

  /** subgroup count for the hub-safe neighbour rank: a vertex's edge
    * list is salted into this many hash subgroups before the
    * rank-window sort, so the largest per-task sort is deg_max /
    * rankSalts rows (a 10⁹-degree hub → ~10⁶-row groups) instead of
    * the whole hub edge list in one task.
    */
  val rankSalts: Int = 1024

  /** degree above which a vertex's deg row is BROADCAST (not shuffled)
    * in the walk build's nbr-degree attach: a hub's nbr-keyed join
    * partition is deg rows in one task, so the threshold is the
    * per-task row bound; the broadcast side holds ≤ nnz/threshold
    * rows — bounded by construction, never the vertex count.
    */
  val hotDegThreshold: Long = 500000L

  /** Hub-safe deterministic neighbour ranking: a bijection from each
    * vertex's neighbours to [0, deg) with NO per-vertex corpus-wide
    * window. The rank order is (md5-subgroup, nbr) lexicographic —
    * any deterministic bijection is as good as nbr-ascending here
    * (the walk's choice is hash-driven, not order-driven), and this
    * one decomposes:
    *
    *   1. subgroup sg = hash32(nbr) mod rankSalts — splits a hub's
    *      edge list across tasks;
    *   2. within-subgroup rank: window over (v, sg) ordered by nbr —
    *      per-task sort bounded by deg/rankSalts;
    *   3. subgroup offsets: counts per (v, sg), prefix-summed by a
    *      window over v ordered by sg — ≤ rankSalts rows per vertex,
    *      bounded regardless of degree;
    *   4. idx = offset + within-rank − 1, attached by an equi-join on
    *      (v, sg) (largest key carries deg/rankSalts rows).
    *
    * Replayable externally: idx = ROW_NUMBER() OVER (PARTITION BY v
    * ORDER BY md5_hash32(nbr) % rankSalts, nbr) − 1 — the exact
    * formulation the q_walks oracle uses. Replaces the round-9
    * `row_number over partitionBy(v)` whose single-task hub sort was
    * the flagged billion-edge straggler.
    *
    * @return (v, nbr, idx)
    */
  private[graft] def rankedAdjacency(edges: DataFrame): DataFrame = {
    val salted = edges
      .withColumn("sg", pmod(graft.pipeline.TextDedup.hash32(
        col("nbr").cast("string")), lit(rankSalts.toLong)))
    val offsets = salted.groupBy("v", "sg")
      .agg(count(lit(1)).as("c"))
      .withColumn("off",
        coalesce(sum(col("c")).over(Window.partitionBy("v").orderBy("sg")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("v"), col("sg"), col("off"))
    salted
      .withColumn("r",
        row_number().over(Window.partitionBy("v", "sg").orderBy("nbr"))
          .cast("long"))
      .join(offsets, Seq("v", "sg"))
      .select(col("v"), col("nbr"), (col("off") + col("r") - 1L).as("idx"))
  }

  /** @param a     symmetric adjacency; values ignored
    * @param steps walk length in edges (output has steps+1 rows per
    *              start vertex)
    * @return (start, step, vertex): the walk corpus, step 0 = start
    */
  def walks(a: GrbMatrix, steps: Int = 4): DataFrame = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"walk adjacency must be square: ${a.nrows}x${a.ncols}")
    val edges = a.df.select(col("i").as("v"), col("j").as("nbr")).cache()
    val nnz = edges.count()
    // steps × block fan-out is the loop's fixed cost — rank build and
    // move-joins run at the loop width (Iterate.Loop.sized)
    Iterate.scope(a.df.sparkSession, "RandomWalk") { loop =>
    val width = loop.sized(nnz)
    // degree needs no rank — computed from the raw edge list; used
    // only OUTSIDE the loop (build-time nbr attach + the init frame)
    val deg = edges.groupBy("v").agg(count(lit(1)).as("deg")).cache()
    // cached pre-partitioned on the LOOP'S join key (v, idx), with
    // deg(nbr) attached so a walker lands carrying its next draw's
    // modulus (see WALKER-CONCENTRATION in the scaladoc). The attach
    // join's nbr key is hub-hot by definition, and a mega-hub's
    // partition can sit UNDER AQE's skew-split byte threshold while
    // still being a 10⁷-row single task (measured: 93 s max task at
    // hubDeg 10⁷) — so the split is explicit: vertices with
    // deg > hotDegThreshold join by BROADCAST (their count is bounded
    // by nnz/threshold — always tiny), the rest by shuffle with every
    // key bounded at threshold rows per task. One-time O(E) cost,
    // never inside the loop.
    val hotDeg = deg.filter(col("deg") > hotDegThreshold)
      .select(col("v").as("nbr"), col("deg").as("nbrDeg"))
    val coldDeg = deg.filter(col("deg") <= hotDegThreshold)
      .select(col("v").as("nbr"), col("deg").as("nbrDeg"))
    // 1-row driver action on the cached deg: the common no-mega-hub
    // case takes the single plain join (no extra ranked cache pass)
    val anyHot = !hotDeg.isEmpty
    var rankedCache: Option[DataFrame] = None
    // LEFT joins with a 0 default: on asymmetric input a neighbor with
    // no out-edges must still be landed on (the walker emits the
    // arrival row, then dies next step when pmod(hash, 0) nulls its
    // draw and the move equi-join drops it) — an inner join here would
    // silently erase that arrival. Symmetric input never hits the
    // default (every nbr has the reverse edge).
    val attached =
      if (!anyHot) rankedAdjacency(edges)
        .join(deg.select(col("v").as("nbr"), col("deg").as("nbrDeg")),
          Seq("nbr"), "left")
        .withColumn("nbrDeg", coalesce(col("nbrDeg"), lit(0L)))
      else {
        val ranked = rankedAdjacency(edges).cache()
        rankedCache = Some(ranked)
        // broadcast-probe the hot set first; only unmatched (cold) rows
        // take the shuffle join, so every shuffle key stays under
        // hotDegThreshold rows — the skew guarantee is unchanged
        val probed = ranked.join(broadcast(hotDeg), Seq("nbr"), "left")
        probed.filter(col("nbrDeg").isNotNull)
          .unionByName(probed.filter(col("nbrDeg").isNull).drop("nbrDeg")
            .join(coldDeg, Seq("nbr"), "left")
            .withColumn("nbrDeg", coalesce(col("nbrDeg"), lit(0L))))
      }
    val indexed = loop.cache(attached
      .repartition(width, col("v"), col("idx"))) // (v, nbr, idx, nbrDeg)
    indexed.count()
    rankedCache.foreach(_.unpersist(false))
    edges.unpersist(false)
    // every step's rows are OUTPUT — nothing is superseded, so each
    // step checkpoints into its own slot and all stay live until the
    // caller drops the result (unlike the fixpoint loops, which free
    // old rounds)
    var pos = loop.checkpoint("step0", deg
      .select(col("v").as("start"), lit(0L).as("step"),
        col("v").as("cur"), col("deg").as("curDeg")))
    deg.unpersist(false)
    val parts = scala.collection.mutable.ListBuffer[DataFrame](pos)
    // Broadcast mode below the guard (round-15; the §17o family): the
    // walker frame (≤ one row per vertex) broadcasts into the move
    // join, so the cached (v, idx) layout streams in place and no
    // per-step exchange of the walker frame remains — the walk step
    // becomes a map-side join over the cached adjacency. Above the
    // guard the walker frame rides the one per-step exchange exactly
    // as before (broadcasting a 100 TB walker set is the wrong trade).
    // The guard counts the broadcast frame's real width: `drawn`
    // carries five longs, not the two Grb.BroadcastRowBytes assumes.
    loop.broadcasts(a.nrows, rowBytes = Grb.BroadcastRowBytes * 5 / 2)
    loop.rounds(steps)(true) { t =>
      val drawn = pos
        .withColumn("_ix", pmod(graft.pipeline.TextDedup.hash32(
          concat_ws("_", col("start"), col("cur"), lit(t))), col("curDeg")))
      pos = loop.checkpoint(s"step$t", loop.hint(drawn)
        .join(indexed.select(col("v").as("cur"), col("idx").as("_ix"),
          col("nbr"), col("nbrDeg")), Seq("cur", "_ix"))
        .select(col("start"), lit(t.toLong).as("step"),
          col("nbr").as("cur"), col("nbrDeg").as("curDeg")))
      parts += pos
    }
    parts.reduce(_.unionByName(_))
      .select(col("start"), col("step"), col("cur").as("vertex"))
    }
  }

  /** The pre-verification skip-gram candidate join, BANDED on walk
    * position: pairing rows only within adjacent ⌊step/window⌋ bands
    * bounds the join output at 3·(L+1)·window rows per walk — O(L·w)
    * — where the plain self-join on the walk key emits (L+1)² rows
    * before the |s1−s2| ≤ window filter throws most of them away
    * (6.5k pre-filter vs ~320 kept at the DeepWalk-realistic L=80).
    * Positions within `window` of each other always sit in the same
    * or an adjacent band (⌊(s+w)/w⌋ = ⌊s/w⌋+1 exactly), so the
    * center side replicates to bands {b−1, b, b+1} and the equi-join
    * on (start, band) loses no pair; each (s1, s2) pair matches
    * exactly one of the three replicas, so no dedup pass is needed.
    */
  private[graft] def skipGramCandidates(walks: DataFrame,
      window: Int): DataFrame = {
    val b = floor(col("s1") / window).cast("long")
    val center = walks
      .select(col("start"), col("step").as("s1"), col("vertex").as("center"))
      .withColumn("band", explode(array(b - 1L, b, b + 1L)))
    val context = walks
      .select(col("start"), col("step").as("s2"), col("vertex").as("context"))
      .withColumn("band", floor(col("s2") / window).cast("long"))
    center.join(context, Seq("start", "band"))
  }

  /** Skip-gram pair extraction over the walk corpus — the step that
    * turns walks into embedding TRAINING DATA (word2vec objective:
    * predict context from center): every ordered (center, context)
    * pair within ±window positions on the same walk, counted.
    *
    * The candidate join ADAPTS to walk length (one 1-row max(step)
    * agg learns it): short walks take the plain self-join on the walk
    * key — (L+1)² rows per walk, and at small L that is LESS work
    * than banding's 3× center replication (measured: the banded path
    * cost q_skipgram +72% at L=4); long walks take the position-
    * banded join ([[skipGramCandidates]] — O(L·window) join output
    * per walk, 954k vs 13.1M candidate rows at L=80 on the HUBWALK
    * tier). The switch point is where banding's replicated input
    * first undercuts the quadratic output: L+1 > 3·(2·window+1).
    * Identical result either way; one hash aggregate finishes.
    *
    * @return (center, context, cnt) with center ≠ context positions
    *         (same VERTEX may co-occur — a walk can revisit)
    */
  def skipGrams(walks: DataFrame, window: Int = 2): DataFrame = {
    // 1-row driver agg; an EMPTY walk frame yields one all-null row
    // (agg over zero rows), so the null needs its own guard — the
    // zero-row headOption case never occurs for a global aggregate
    val maxStep = walks.agg(max(col("step"))).head(1)
      .headOption.filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
    val cand =
      if (maxStep + 1 <= 3L * (2 * window + 1))
        walks.select(col("start"), col("step").as("s1"),
            col("vertex").as("center"))
          .join(walks.select(col("start"), col("step").as("s2"),
            col("vertex").as("context")), Seq("start"))
      else skipGramCandidates(walks, window)
    cand
      .filter(col("s1") =!= col("s2") &&
        abs(col("s1") - col("s2")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
  }
}
