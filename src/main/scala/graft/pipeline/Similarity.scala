package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.algo.Iterate

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: the brute-force path is the correctness baseline
  * (queries broadcast against the corpus — linear in corpus size, only
  * viable for small query sets); the LSH path buckets vectors by
  * random-hyperplane signs so candidate generation is an equi-join on
  * the bucket key — sum(bucket²) work, the 100 TB path.
  *
  * Determinism: embeddings are quantized to integer milli-units
  * (floor(x*1000)) so dot products are exact 64-bit integers; cosine
  * values then come out bit-identical in any IEEE engine, making the
  * results oracle-checkable in DuckDB.
  *
  * Lifecycle: an operator that caches a shared intermediate runs in
  * an [[graft.algo.Iterate.scope]] and returns a checkpointed frame
  * (`localCheckpoint`). Its caches are dropped when the call returns
  * or throws, so repeated calls in a long-lived session leak nothing.
  */
object Similarity {

  /** integer milli-unit quantization of a float vector */
  def quantize(e: Column): Column =
    transform(e, x => floor(x.cast("double") * 1000).cast(LongType))

  /** exact integer dot product of two quantized vectors — a native
    * codegen Expression (org.apache.spark.sql.graft.QuantizedDot): the
    * higher-order-function formulation (aggregate∘zip_with) is
    * CodegenFallback and broke the whole-stage span around the
    * millions of per-candidate dots.
    */
  def dotQ(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.QuantizedDot(a, b)

  /** cosine from quantized vectors — IEEE-deterministic:
    * dot / sqrt(na) / sqrt(nb), all operands exact integers.
    */
  def cosineQ(dot: Column, na: Column, nb: Column): Column =
    dot / sqrt(na.cast("double")) / sqrt(nb.cast("double"))

  private[graft] def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), quantize(col("embedding")).as("q"))
      .withColumn("n2", dotQ(col("q"), col("q")))

  /** brute-force top-k cosine neighbours for the query set
    * `vec_id < nQueries`. Queries are broadcast; the corpus streams.
    * Output (q, n, rank) — integers only.
    *
    * Top-k selection is the map-side-truncating
    * [[org.apache.spark.sql.graft.TopKPairs]] aggregate: the scored
    * frame is corpus × queries rows, but each partition reduces to one
    * ≤k-entry buffer per query before the exchange — the shuffle
    * carries partitions·queries·k entries, not corpus·queries rows
    * (the window formulation this replaces). Rank = position in the
    * aggregate's sorted output, identical to
    * ROW_NUMBER() (sim DESC, vec_id ASC, NaN greatest).
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Long = 20L, k: Int = 5): DataFrame = {
    val base = quantized(emb)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("n2").as("qn2"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("dot", dotQ(col("qq"), col("q")))
      .withColumn("sim", cosineQ(col("dot"), col("qn2"), col("n2")))
    scored.groupBy("qid")
      .agg(org.apache.spark.sql.graft.TopKPairs(col("sim"), col("vec_id"), k).as("top"))
      .select(col("qid").as("q"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q"), col("t").getField("id").as("n"),
        (col("pos") + 1).cast(LongType).as("rank"))
  }

  /** deterministic pseudo-random hyperplanes: integer weight
    * w(p, d) = (md5int(p_d) mod 1001) - 500 in [-500, 500], derived
    * from md5 so any engine can regenerate them. Computed driver-side
    * once (planes × dims small constants) and shipped as literals.
    */
  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }

  def hyperplaneWeights(planes: Int, dims: Int): Seq[Seq[Long]] =
    (0 until planes).map { p =>
      (0 until dims).map { d =>
        (java.lang.Long.parseLong(md5Hex(s"${p}_$d").substring(0, 6), 16) % 1001L) - 500L
      }
    }

  /** LSH bucket signature: `bands` bands, each of `rowsPerBand`
    * hyperplane sign bits. Returns (vec_id, band, sig) — one row per
    * band, ready for the candidate equi-join.
    */
  def lshBandSignatures(emb: DataFrame, bands: Int = 4, rowsPerBand: Int = 4,
      dims: Int = 64): DataFrame =
    bandSignaturesFromQuantized(quantized(emb), bands, rowsPerBand, dims)

  private def bandSignaturesFromQuantized(base: DataFrame, bands: Int,
      rowsPerBand: Int, dims: Int): DataFrame = {
    val ws = hyperplaneWeights(bands * rowsPerBand, dims)
    val bandCols = (0 until bands).map { b =>
      val sig = (0 until rowsPerBand).map { r =>
        val w = ws(b * rowsPerBand + r)
        val wlit = array(w.map(lit): _*)
        when(dotQ(col("q"), wlit) > 0, lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    base.select(col("vec_id"), col("q"), col("n2"),
      explode(array(bandCols: _*)).as("bs"))
      .select(col("vec_id"), col("q"), col("n2"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** approximate near-neighbour pairs: candidates = pairs sharing any
    * LSH band signature (equi-join on (band, sig)); verified with the
    * exact integer cosine >= threshold (milli-units).
    * Output (a, b, promille) — promille = floor(cosine * 1000).
    *
    * `dims` must match the embedding dimensionality — a mismatch nulls
    * the sign dots and collapses every vector into one bucket (an n²
    * candidate join). By default it is derived from the data (one
    * 1-row peek), so only explicit overrides can get it wrong.
    *
    * `maxBucket` (default -1 = AUTO, the [[CoBucket.Auto]] collapse
    * guard: a band bucket past max(1000, n/4) is dropped from the
    * self-join). Hyperplane buckets are structural, not boilerplate
    * (see [[CoBucket]]): the scale lever is rowsPerBand, and the guard
    * catches only a collapse into one bucket. 0 disables; >0 is an
    * explicit cap.
    */
  def annPairs(emb: DataFrame, simMilli: Int = 400, bands: Int = 4,
      rowsPerBand: Int = 4, dims: Int = -1,
      maxBucket: Int = -1): DataFrame =
    Iterate.scope(emb.sparkSession, "AnnPairs") { s =>
      val d =
        if (dims > 0) dims
        else emb.select(size(col("embedding"))).head(1)
          .headOption.map(_.getInt(0)).getOrElse(64)
      // signatures are consumed by both sides of the self-join — cache
      // one computation of (quantize + bands×rows hyperplane dots); the
      // candidate join shuffles only ids, vectors re-attached afterwards
      val base = s.cache(quantized(emb))
      val cap = if (maxBucket < 0) CoBucket.Auto(emb) else CoBucket.Cap.fixed(maxBucket)
      val cand = CoBucket.pairs(
          bandSignaturesFromQuantized(base, bands, rowsPerBand, d).select("band", "sig", "vec_id"),
          "vec_id", Seq("band", "sig"), cap, CoBucket.Drop, share = s.cache)
        .select("a", "b").dropDuplicates("a", "b")
      verifiedPairs(base, cand, simMilli).localCheckpoint(true)
    }

  /** exact-cosine verification of candidate pairs: re-attach the
    * quantized vectors, keep pairs at/above the milli-threshold.
    * Output (a, b, promille).
    */
  private def verifiedPairs(base: DataFrame, cand: DataFrame,
      simMilli: Int): DataFrame =
    cand
      .join(base.select(col("vec_id").as("a"), col("q").as("qa"), col("n2").as("na")), Seq("a"))
      .join(base.select(col("vec_id").as("b"), col("q").as("qb"), col("n2").as("nb")), Seq("b"))
      .withColumn("sim", cosineQ(dotQ(col("qa"), col("qb")), col("na"), col("nb")))
      .filter(col("sim") >= simMilli / 1000.0)
      .select(col("a"), col("b"), floor(col("sim") * 1000).cast(LongType).as("promille"))

  /** exact-duplicate embedding pairs: vectors whose QUANTIZED form is
    * identical, linked as a star around the group's min vec_id —
    * (min_id, member) for every other member, O(cluster) pairs. One
    * shuffle on the md5 of the quantized vector (64-element arrays
    * never shuffle), same shape as TextDedup.exact.
    *
    * This is the recall backstop for [[embeddingNearDuplicates]]'s
    * bucket-collapse guard: a duplicate-embedding cluster larger than
    * the LSH cap (repeated boilerplate embeddings, all-zero vectors
    * from a failed encoder) is dropped from the quadratic candidate
    * join, and zero-norm duplicates fail the cosine filter (NaN)
    * even when kept — the exact path owns both cases.
    */
  def exactPairs(emb: DataFrame): DataFrame = {
    val keyed = emb.select(col("vec_id"),
      md5(concat_ws(",", transform(quantize(col("embedding")),
        x => x.cast("string")))).as("k"))
    val reps = keyed.groupBy("k")
      .agg(min(col("vec_id")).as("a"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1).select("k", "a")
    keyed.join(reps, Seq("k")).filter(col("vec_id") > col("a"))
      .select(col("a"), col("vec_id").as("b"))
  }

  /** The raw semantic near-duplicate PAIR set (a, b), a < b: LSH-
    * verified cosine pairs at/above the milli-threshold UNIONed with
    * the [[exactPairs]] identical-embedding star. This is the edge
    * list both the min-id dedup sweep ([[embeddingNearDuplicates]])
    * and the transitive-closure clustering (p_semantic_clusters)
    * consume — computed once, shared by both decision layers.
    */
  def nearDupPairs(emb: DataFrame, simMilli: Int = 400,
      bands: Int = 4, rowsPerBand: Int = 4, dims: Int = -1,
      maxBucket: Int = -1): DataFrame =
    annPairs(emb, simMilli, bands, rowsPerBand, dims, maxBucket)
      .select("a", "b")
      .unionByName(exactPairs(emb))
      .distinct()

  /** Embedding-cosine near-duplicate DEDUP decision — the semantic-
    * space member of the dedup family (exact / minhash / simhash work
    * on surface text; this one catches paraphrases that share no
    * shingles but embed nearby). Candidates come from the hyperplane
    * LSH (`annPairs` — equi-join on band signatures, never all-pairs)
    * verified with the exact integer cosine, UNIONed with the
    * [[exactPairs]] identical-embedding path (round-7 addition: the
    * LSH collapse guard caps hot buckets, so without the exact path a
    * duplicate-embedding cluster past the cap — the prime dedup
    * target — would silently produce zero dups). The dedup sweep then
    * maps every vector that has a qualifying neighbour with a SMALLER
    * id to its smallest such neighbour — the standard min-id
    * representative rule, so survivors = vectors absent from the
    * output.
    *
    * Output (vec_id, dup_of, n_dups): `dup_of` = min qualifying
    * neighbour id, `n_dups` = how many distinct smaller-id near-dups
    * were found. Integers only — oracle-checkable bit-for-bit.
    *
    * Scale shape: inherits annPairs' sum(bucket²) candidate bound
    * plus one exact-dedup shuffle on a 32-char digest and one hash
    * aggregate on the pair's right id — no new shuffle risk at
    * 100 TB; `maxBucket` caps hot LSH buckets as elsewhere.
    */
  def embeddingNearDuplicates(emb: DataFrame, simMilli: Int = 400,
      bands: Int = 4, rowsPerBand: Int = 4, dims: Int = -1,
      maxBucket: Int = -1): DataFrame =
    nearDupPairs(emb, simMilli, bands, rowsPerBand, dims, maxBucket)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("dup_of"), count(lit(1)).as("n_dups"))

  /** Label-centroid outlier scoring — the embedding-space data-QUALITY
    * check next to the dedup family: vectors far from their own
    * label's centroid are mislabel/noise candidates (the "remove the
    * weirdest examples per class" pass of curation pipelines). Each
    * label's centroid is the per-dimension floor-mean of its members'
    * quantized values (the [[ivfCentroids]] recentre recipe — exact
    * integer sums, one double division, engine-reproducible); each
    * vector scores the exact integer cosine to its OWN centroid; the
    * k LOWEST-cosine members per label are reported, rank 1 = most
    * outlying.
    *
    * Output (label, vec_id, rank, promille) — promille =
    * floor(cosine·1000), may be negative.
    *
    * Scale shape: centroids are one hash aggregate over (label, dim)
    * — 64·|labels| rows — broadcast back onto the corpus, so scoring
    * is a narrow pass; bottom-k selection negates the score through
    * the map-side-truncating [[org.apache.spark.sql.graft.TopKPairs]]
    * aggregate (≤k-entry buffer per label per partition — no
    * full-corpus rank window). Nothing here pairs vectors: cost is
    * O(n·dims) flat.
    */
  def labelOutliers(emb: DataFrame, k: Int = 10): DataFrame = {
    val base = emb.select(col("vec_id"), col("label").cast(LongType).as("label"),
        quantize(col("embedding")).as("q"))
      .withColumn("n2", dotQ(col("q"), col("q")))
    val cents = base
      .select(col("label"), posexplode(col("q")).as(Seq("d", "x")))
      .groupBy("label", "d")
      .agg(floor(sum(col("x")) * lit(1.0) / count(lit(1))).cast(LongType).as("v"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("v")))),
        s => s.getField("v")).as("cq"))
      .withColumn("cn2", dotQ(col("cq"), col("cq")))
    val scored = base.join(broadcast(cents), Seq("label"))
      .withColumn("sim", cosineQ(dotQ(col("q"), col("cq")), col("n2"), col("cn2")))
    scored.groupBy("label")
      .agg(org.apache.spark.sql.graft.TopKPairs(-col("sim"), col("vec_id"), k).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("label"), col("t").getField("id").as("vec_id"),
        (col("pos") + 1).cast(LongType).as("rank"),
        floor(-col("t").getField("ord") * 1000).cast(LongType).as("promille"))
  }

  /** cell assignments for a quantized corpus against a (small)
    * centroid table: each vector's `probes` nearest centroids by
    * exact-integer cosine, centroid-id tie-break — IEEE-deterministic,
    * reproducible by an external oracle bit-for-bit. The centroid
    * table broadcasts (k rows); scoring = n·k integer dots with no
    * shuffle, and the top-`probes` selection is a map-side-truncating
    * aggregate ([[org.apache.spark.sql.graft.TopKPairs]]): each
    * partition reduces its vectors' k scored rows to one ≤probes-entry
    * buffer per vec_id before the exchange, so the selection shuffles
    * O(n·probes) bytes — NOT the n·k scored rows a
    * `row_number() OVER (PARTITION BY vec_id)` window would move
    * (n^1.5 rows at the auto rule k = √n, which was the binding cost
    * of this path through round 8). Ordering semantics are identical
    * to the window it replaced (csim DESC, cid ASC, NaN greatest), so
    * the DuckDB oracle's ROW_NUMBER formulation still matches
    * bit-for-bit.
    */
  private def nearestCells(base: DataFrame, cents: DataFrame,
      probes: Int): DataFrame = {
    val scored = base.crossJoin(broadcast(cents))
      .withColumn("csim", cosineQ(dotQ(col("q"), col("cq")), col("n2"), col("cn2")))
    scored.groupBy("vec_id")
      .agg(org.apache.spark.sql.graft.TopKPairs(col("csim"), col("cid"), probes).as("top"))
      .select(col("vec_id"), explode(col("top").getField("id")).as("cid"))
  }

  /** IVF centroids: a deterministic hash-spread sample of k vectors
    * (the k smallest by (md5(vec_id), vec_id) — corpus order carries
    * source locality, so "first k rows" seeds can all land in one
    * region of the space and leave a giant far-away cell), refined by
    * `lloydRounds` Lloyd iterations: assign every vector to its
    * nearest seed, recentre each cell at the per-dimension
    * floor(mean) of its members' quantized values. All arithmetic is
    * exact integers + one double division per dimension (sums < 2⁵³),
    * so the refinement is engine-reproducible. Cells that end a round
    * empty drop out (k shrinks — deterministic in any engine).
    */
  private[graft] def ivfCentroids(base: DataFrame, k: Int,
      lloydRounds: Int = 1): DataFrame = {
    val seeds = base
      .withColumn("_h", md5(col("vec_id").cast("string")))
      .orderBy(col("_h"), col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("q").as("cq"), col("n2").as("cn2"))
    (1 to lloydRounds).foldLeft(seeds) { (cents, _) =>
      val members = nearestCells(base, cents, probes = 1)
      val refined = members.join(base, Seq("vec_id"))
        .select(col("cid"), posexplode(col("q")).as(Seq("d", "x")))
        .groupBy("cid", "d")
        // floor of the exact mean; * 1.0 forces the double division in
        // both engines (matches CAST(FLOOR(SUM(x)*1.0/COUNT(*)) AS BIGINT))
        .agg(floor(sum(col("x")) * lit(1.0) / count(lit(1))).cast(LongType).as("v"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("d"), col("v")))),
          s => s.getField("v")).as("cq"))
      refined.withColumn("cn2", dotQ(col("cq"), col("cq")))
    }
  }

  /** Corpus k-means clustering over the embedding column — the
    * semantic-organization pass (SemDeDup-style curation: cluster
    * first, then dedup/prioritize WITHIN clusters; domain discovery;
    * per-cluster sampling quotas). Same deterministic machinery as
    * the IVF index — hash-spread seeds + `lloydRounds` Lloyd
    * refinements ([[ivfCentroids]]) — but run for MORE rounds (the
    * index wants cheap balanced cells; clustering wants converged
    * ones) and reported per vector: the final nearest centroid and
    * the integer-cosine cohesion to it.
    *
    * Output (vec_id, cid, promille): cid = the winning centroid's
    * seed vec_id, promille = floor(1000·cosine to it). Low-promille
    * rows are the cluster's fringe — the first candidates a curation
    * pass drops or re-examines.
    *
    * Scale shape: every round is one broadcast of k centroid rows, a
    * narrow n·k codegen scoring pass, a map-side-truncating top-1
    * selection (O(n) shuffle — [[nearestCells]]), and one (cid, dim)
    * hash aggregate for the recentre — Lloyd at 100 TB is
    * rounds × (broadcast + scan + O(n) shuffle), never a pairing.
    * k is the caller's budget knob (SemDeDup-scale: k ≈ n/1000).
    */
  def embedClusters(emb: DataFrame, k: Int = 16,
      lloydRounds: Int = 2): DataFrame =
    Iterate.scope(emb.sparkSession, "EmbedClusters") { s =>
      val base = s.cache(quantized(emb))
      val cents = ivfCentroids(base, k, lloydRounds)
      val scored = base.crossJoin(broadcast(cents))
        .withColumn("csim", cosineQ(dotQ(col("q"), col("cq")), col("n2"), col("cn2")))
      scored.groupBy("vec_id")
        .agg(org.apache.spark.sql.graft.TopKPairs(col("csim"), col("cid"), 1).as("top"))
        .select(col("vec_id"), explode(col("top")).as("t"))
        .select(col("vec_id"), col("t").getField("id").as("cid"),
          floor(col("t").getField("ord") * 1000).cast(LongType).as("promille"))
        .localCheckpoint(true)
    }

  /** IVF candidate pairs: vectors sharing any of their `probes`
    * closest cells (multi-probe catches boundary pairs). DISTINCT
    * (a, b), unverified.
    */
  private[graft] def ivfCandidates(base: DataFrame, k: Int, probes: Int,
      lloydRounds: Int = 1): DataFrame = {
    CoBucket.pairs(nearestCells(base, ivfCentroids(base, k, lloydRounds), probes),
        "vec_id", Seq("cid"))
      .select("a", "b").dropDuplicates("a", "b")
  }

  /** IVF-accelerated top-k cosine search — the scale path next to
    * [[bruteForceTopK]]'s exact baseline (the reference point: brute
    * force scores queries × corpus; this scores queries × their
    * probed cells only). Corpus vectors live in their single nearest
    * cell ([[ivfCentroids]]: hash-spread seeds + Lloyd refinement);
    * each query probes its `probes` closest cells; candidates are the
    * corpus vectors in any probed cell (each corpus vector sits in
    * exactly one cell, so a (query, candidate) pair arises at most
    * once — no dedup shuffle); exact integer-cosine top-k ranks them.
    * Approximate by design: a true neighbour assigned to an unprobed
    * cell is missed — the recall/cost dial is `probes` (recall
    * recorded in BASELINE_SELF.md, round 9 "IVF search recall").
    *
    * Scale shape: centroids broadcast (k rows); assignment is the
    * map-side-truncating [[org.apache.spark.sql.graft.TopKPairs]]
    * aggregate (O(n) shuffle, see [[nearestCells]]); the candidate
    * join touches ~nQueries·probes·n/k rows, never queries × corpus;
    * top-k selection again truncates map-side. Deterministic
    * end-to-end (integer dots, cid/id tie-breaks), so DuckDB
    * reproduces the result bit-for-bit.
    *
    * Output (q, n, rank) like [[bruteForceTopK]]; a query returns
    * fewer than k rows when its probed cells hold fewer candidates.
    */
  def ivfTopK(emb: DataFrame, nQueries: Long = 20L, k: Int = 5,
      kCells: Int = -1, probes: Int = 2,
      lloydRounds: Int = 1): DataFrame =
    Iterate.scope(emb.sparkSession, "IvfTopK") { s =>
      val base = s.cache(quantized(emb))
      val kEff =
        if (kCells > 0) kCells
        else math.max(8L, math.sqrt(base.count().toDouble).toLong).toInt
      val cents = ivfCentroids(base, kEff, lloydRounds)
      val corpusCells = nearestCells(base, cents, probes = 1)
      val queryCells = nearestCells(base.filter(col("vec_id") < nQueries), cents, probes)
      val cand = queryCells.select(col("vec_id").as("qid"), col("cid"))
        .join(corpusCells.select(col("cid"), col("vec_id").as("nid")), Seq("cid"))
        .filter(col("qid") =!= col("nid"))
        .select("qid", "nid")
      val scored = cand
        .join(base.select(col("vec_id").as("qid"), col("q").as("qq"), col("n2").as("qn2")), Seq("qid"))
        .join(base.select(col("vec_id").as("nid"), col("q").as("nq"), col("n2").as("nn2")), Seq("nid"))
        .withColumn("sim", cosineQ(dotQ(col("qq"), col("nq")), col("qn2"), col("nn2")))
      scored.groupBy("qid")
        .agg(org.apache.spark.sql.graft.TopKPairs(col("sim"), col("nid"), k).as("top"))
        .select(col("qid").as("q"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q"), col("t").getField("id").as("n"),
          (col("pos") + 1).cast(LongType).as("rank"))
        .localCheckpoint(true)
    }

  /** Measured cost model behind [[topK]]'s engine choice. Structure
    * (the portable part — constants are box-calibrated):
    *
    *   brute(n, q)      = b·q·n
    *   ivf(n, q, p)     = c₀·n^1.5  +  c₁·q·p·√n
    *
    * brute scores q·n rows through a codegen dot against a BROADCAST
    * query table and truncates map-side — no shuffle, so its per-row
    * cost b is raw whole-stage-codegen throughput. IVF at the auto
    * cell count k=√n pays a build ∝ n·k = n^1.5 (assignment passes +
    * recentre aggregates + per-stage job overhead) and then
    * q·probes·n/k = q·p·√n CANDIDATE rows — ~100× fewer rows per
    * query than brute at n=50k, but each candidate is an equi-join
    * row shuffled with both 64-d vectors re-attached, then
    * re-aggregated: c₁/b ≈ 21× per row in healthy windows (and up to
    * ~500× in a degraded IO window — the shuffle-bound path is
    * window-sensitive where the codegen-broadcast path is not, which
    * is why calibration uses min-across-draws, the Bench estimator).
    * IVF's per-QUERY marginal beats brute's when b·n > c₁·p·√n
    * (n ≳ 1800 at p=2 here); the crossover then is
    * q* = c₀·n^1.5 / (b·n − c₁·p·√n) → the classical α·√n shape with
    * α → c₀/b ≈ 16 as n grows.
    *
    * Calibration (SPARK_GRAFT_ANNX tier, 50k×64d, local[32],
    * ABBA-min across windows — BASELINE_SELF): brute 1.23 s at q=892
    * / 17.65 s at q=12500 → b ≈ 2.7e-8 s/row (stable across every
    * draw); ivf 5.19 s / 12.35 s at the same points →
    * c₁ ≈ 5.7e-7 s/candidate, build ≈ 5.0 s → c₀ ≈ 4.4e-7. Predicted
    * crossover at n=50k: q* ≈ 4500 — and the measured winner flips
    * between the q=892 (brute 4×) and q=12500 (IVF 1.4×) points as
    * the model says.
    *
    * The model prices BUILD-PER-CALL semantics. A deployment that
    * amortizes one IVF index over many query batches drops the c₀
    * term and crosses over wherever b·n > c₁·p·√n — callers with a
    * standing index should call [[ivfTopK]] directly.
    *
    * PORTABILITY: the constants are THIS box's (local[32], tmpfs
    * shuffle). The structure travels; the shuffle/codegen cost ratio
    * does not — on a cluster with different IO the modeled crossover
    * can pick the slower engine. The constants were fitted to the
    * brute and IVF walls recorded in BASELINE_SELF.md (round 12, ANNX;
    * PERF_NOTES §13b); on other hardware, time both engines there and
    * refit them. A caller that knows its engine calls
    * [[bruteForceTopK]] or [[ivfTopK]] directly.
    */
  object TopKCost {
    val bruteSecPerScoredRow: Double = 2.7e-8
    val ivfSecPerCandidateRow: Double = 5.7e-7
    val ivfBuildSecPerN15: Double = 4.4e-7

    def bruteSec(n: Long, q: Long): Double =
      bruteSecPerScoredRow * q.toDouble * n.toDouble
    def ivfSec(n: Long, q: Long, probes: Int): Double =
      ivfBuildSecPerN15 * math.pow(n.toDouble, 1.5) +
        ivfSecPerCandidateRow * q.toDouble * probes * math.sqrt(n.toDouble)
    /** the engine choice: brute force when its modeled cost is at or
      * below IVF's. Ties go to brute: the exact engine is never the
      * wrong answer at the boundary.
      */
    def bruteWins(n: Long, q: Long, probes: Int): Boolean =
      bruteSec(n, q) <= ivfSec(n, q, probes)
    /** the query count past which IVF wins at this corpus size, or -1
      * when brute wins at every q (n below the per-query floor)
      */
    def crossoverQ(n: Long, probes: Int): Long = {
      val perQueryEdge = bruteSecPerScoredRow * n.toDouble -
        ivfSecPerCandidateRow * probes * math.sqrt(n.toDouble)
      if (perQueryEdge <= 0) -1L
      else math.ceil(
        ivfBuildSecPerN15 * math.pow(n.toDouble, 1.5) / perQueryEdge).toLong
    }
  }

  /** Top-k cosine search with the engine CHOSEN by the measured cost
    * model ([[TopKCost.bruteWins]]): exact brute force when its
    * modeled cost is at or below IVF's (always, below the ~10⁶-vector
    * floor), IVF past the modeled crossover. One count job learns n —
    * the same count the IVF path needs for its auto cell rule.
    */
  def topK(emb: DataFrame, nQueries: Long = 20L, k: Int = 5,
      probes: Int = 2, lloydRounds: Int = 1): DataFrame = {
    val n = emb.count()
    val q = math.min(nQueries, n)
    if (TopKCost.bruteWins(n, q, probes))
      bruteForceTopK(emb, nQueries, k)
    else ivfTopK(emb, nQueries, k, -1, probes, lloydRounds)
  }

  /** IVF (inverted-file) ANN pairs — the clustering-flavored scale
    * path next to the hyperplane LSH: vectors are coarse-quantized to
    * their nearest centroid cells ([[ivfCentroids]]: deterministic
    * hash-spread seeds + Lloyd refinement), candidates are pairs
    * sharing any of each vector's `probes` closest cells, then exact
    * integer-cosine verified.
    *
    * Sizing (k = -1, the default, AUTO): k = max(8, ⌊√n⌋). The math:
    * uniform cells hold n/k members, so the candidate self-join is
    * Σcell² ≈ probes²·n²/k pairs while assignment costs n·k dots —
    * k = √n balances both at ~n^1.5, the classical IVF operating
    * point. A fixed small k (the old default, k=8) leaves Σcell² at
    * n²/8 — quadratic in the corpus, fine for a correctness demo and
    * wrong at 100 TB; a caller-supplied k still wins when the corpus
    * size is known upfront (no count job).
    *
    * Scale shape: the centroid table is k rows broadcast everywhere
    * (one narrow pass to assign cells — no shuffle of the corpus
    * beyond the cell-key candidate equi-join), and candidate work is
    * ∝ Σ cell² like the LSH path, never all-pairs. Centroid ordering
    * is IEEE-deterministic (exact-integer dots, fixed op order,
    * centroid-id tie-break) so an external oracle reproduces the
    * assignment bit-for-bit; BASELINE_SELF.md (round 9, "IVF sizing")
    * records measured candidate volume vs k.
    */
  def ivfPairs(emb: DataFrame, simMilli: Int = 400, k: Int = -1,
      probes: Int = 2, lloydRounds: Int = 1): DataFrame =
    Iterate.scope(emb.sparkSession, "IvfPairs") { s =>
      val base = s.cache(quantized(emb))
      val kEff =
        if (k > 0) k
        else math.max(8L, math.sqrt(base.count().toDouble).toLong).toInt
      val cand = ivfCandidates(base, kEff, probes, lloydRounds)
      verifiedPairs(base, cand, simMilli).localCheckpoint(true)
    }

  /** k-NN GRAPH construction — EVERY vector's k nearest neighbours
    * (IVF-probed candidates, exact-integer-cosine verified, the
    * [[ivfTopK]] machinery with the whole corpus as the query set)
    * plus the `mutual` flag marking edges present in BOTH directions.
    * The mutual-kNN graph is the curation workhorse: SemDeDup-style
    * cluster pruning, density-based quality scoring, and diversity
    * sampling all start from exactly this frame.
    *
    * Scale shape: candidate work is Σ cell² (the IVF bound — never
    * all-pairs), per-vector selection is the TopKPairs typed
    * aggregate (O(k) state per group, no corpus-wide window), and the
    * mutual flag is one self-equi-join on the (a, b) edge key over
    * the O(n·k) result — each stage linear-ish in corpus size.
    * Determinism: exact integer dots, sim-DESC/id-ASC tie-break —
    * the oracle replays the ranking bit-for-bit.
    *
    * @return (a, b, rank, mutual): b is a's rank-th neighbour;
    *         mutual = 1 iff a is also among b's top k
    */
  def knnGraph(emb: DataFrame, k: Int = 3, kCells: Int = -1,
      probes: Int = 2, lloydRounds: Int = 1): DataFrame = {
    val nn = ivfTopK(emb, Long.MaxValue, k, kCells, probes, lloydRounds)
    val rev = nn.select(col("n").as("q"), col("q").as("n"), lit(1L).as("_m"))
    nn.join(rev, Seq("q", "n"), "left")
      .select(col("q").as("a"), col("n").as("b"), col("rank"),
        coalesce(col("_m"), lit(0L)).as("mutual"))
  }
}
