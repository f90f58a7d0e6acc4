package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.expressions.Window
import graft.algo.Iterate

/** Document deduplication for large-scale training-data pipelines.
  *
  * Everything here is pure Column algebra (whole-stage-codegen
  * friendly, no UDFs) and every join is an equi-join on a hash key —
  * bucketed by construction, never an all-pairs crossJoin, so each
  * operator survives a 100 TB corpus: work is proportional to
  * sum(bucket²) not n².
  *
  * Determinism discipline: every hash is derived from md5 (identical
  * across engines) and every similarity threshold is evaluated as an
  * integer cross-multiplication, so a SQL oracle (DuckDB) reproduces
  * results bit-for-bit.
  *
  * Lifecycle: an operator that caches a shared intermediate runs in
  * an [[graft.algo.Iterate.scope]] and returns a checkpointed frame
  * (`localCheckpoint`). Its caches are dropped when the call returns
  * or throws, so repeated calls in a long-lived session leak nothing.
  */
object TextDedup {

  /** whitespace tokens */
  def tokens(text: Column): Column = split(text, " ")

  /** distinct word k-shingles of a document. Docs shorter than k
    * tokens have no shingles (guarded: Spark's sequence(0, negative)
    * counts DOWN, which would index past the array). k = 1 is the
    * distinct-token set (gramArray's zip_with formulation needs k ≥ 2,
    * so the unigram case is served directly — round-12 advice: the
    * k ≥ 2 require had narrowed this public signature); the empty
    * token a null/empty doc tokenizes to is excluded, matching the
    * k ≥ 2 contract of null-in → [].
    */
  def shingles(text: Column, k: Int = 3): Column =
    if (k == 1)
      array_distinct(filter(tokens(coalesce(text, lit(""))), t => t =!= lit("")))
    else array_distinct(gramArray(text, k))

  /** Narrow k-gram array of the whitespace-tokenized text, in token
    * order (one entry per position 0..n−k; empty for docs shorter
    * than k tokens — zip_with's null padding handles the guard the
    * old descending-sequence formulation needed).
    *
    * WHY zip_with and not transform+element_at: codegen subexpression
    * elimination does not reach inside higher-order-function lambda
    * bodies, so `transform(sequence(0, n−k), x -> concat_ws(
    * element_at(toks, x+o)…))` re-evaluates the OUTER `toks` — a
    * split() of the whole text — k times per OUTPUT GRAM (measured
    * 13× on the sf0.1 documents: 6.5 s vs 0.49 s for the positional
    * build). A higher-order function's ARRAY ARGUMENTS are ordinary
    * child expressions evaluated once per row, so chaining zip_with
    * over the k shifted token arrays binds each split exactly once.
    * Still a pure narrow projection — no shuffle (a lead-window
    * formulation is as fast locally but shuffles the whole tokenized
    * corpus at 100 TB).
    */
  private[pipeline] def gramArray(text: Column, k: Int): Column = {
    require(k >= 2, s"gramArray: k must be >= 2 (got $k); k=1 is tokens()")
    // null text → [] via a null-safe INPUT, never a coalesce/when
    // around the OUTPUT: a conditional wrapper puts the whole gram
    // tree in a not-always-evaluated branch, which blocks codegen
    // subexpression elimination from hoisting the k shifted arrays'
    // shared split() — re-evaluating the tokenize per shift, the
    // measured-13× pathology this formulation exists to avoid
    // (sf0.1 A/B: p_dedup_minhash 11.3 s wrapped vs 2.5 s input-
    // guarded; p_curate 18.1 vs 5.5; p_dup_ngrams 4.0 vs 1.7).
    // split("") is [""], one empty token, and the k≥2 zip_with null
    // padding turns that into zero grams — same as any doc shorter
    // than k tokens, so the public contract stays null-in → [].
    val t = tokens(coalesce(text, lit("")))
    val shifted = (0 until k).map { o =>
      if (o == 0) t else slice(t, lit(o + 1), size(t))
    }
    val joined = shifted.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    filter(joined, x => x.isNotNull)
  }

  /** 32-bit shingle hash: first 8 hex chars of md5 — reproducible in
    * any engine with a standard md5 (DuckDB: ('0x'||substr(md5(s),1,8))::BIGINT).
    */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** MinHash universe: permutation k is h -> (a_k*h + b_k) mod P.
    * P = 2^31-1 (Mersenne prime); a_k*h stays under 2^63.
    * Constants are fixed so an external oracle can reproduce them.
    */
  val P = 2147483647L
  val minhashParams: Seq[(Long, Long)] = Seq(
    (1000000007L, 12345L), (998244353L, 54321L), (825262553L, 13579L),
    (741103597L, 97531L), (655360001L, 24680L), (572667073L, 86420L),
    (486187739L, 11111L), (402653189L, 22222L), (334214467L, 33333L),
    (268435459L, 44444L), (201326611L, 55555L), (134217757L, 66666L))
  def numHashes: Int = minhashParams.length

  /** exact dedup: md5-hash the full text, group, keep the smallest id.
    * (hash-groupBy: one shuffle on the digest, no skew beyond true
    * duplicate clusters.)
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))

  /** (doc_id, mh_0 .. mh_{K-1}) minhash signature matrix.
    * explode(shingles) -> one shuffle groupBy(doc_id) with K mins
    * computed map-side (partial aggregation).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFromShingles(explodedShingles(docs))

  /** exploded distinct shingles (doc_id, sh) — the shared intermediate
    * of signature building and Jaccard verification
    */
  def explodedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingles(col("text"))).as("sh"))

  private def signaturesFromShingles(sh: DataFrame): DataFrame = {
    val hashed = sh.withColumn("h", hash32(col("sh")))
    val mins = minhashParams.zipWithIndex.map { case ((a, b), k) =>
      min((lit(a) * col("h") + lit(b)) % lit(P)).as(s"mh_$k")
    }
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** banded LSH: signature split into `bands` bands of rows each;
    * band key = md5 of the concatenated minhashes. Docs sharing any
    * band key become candidates. Returns (doc_id, band, sig).
    */
  def lshBandSignatures(docs: DataFrame, bands: Int = 4): DataFrame =
    bandsFromShingles(explodedShingles(docs), bands)

  private def bandsFromShingles(sh: DataFrame, bands: Int): DataFrame =
    bandSigsFromSignatures(signaturesFromShingles(sh), bands)

  /** band keys from an already-built (doc_id, mh_0..mh_{K-1}) signature
    * frame — the sink-side half of the streaming near-dup screen
    * (the explode is a generator, which Spark disallows downstream of
    * a streaming aggregation, so it runs after the drain).
    */
  private[graft] def bandSigsFromSignatures(sigs: DataFrame, bands: Int = 4): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until rows).map(r => col(s"mh_${b * rows + r}")): _*)).as("sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Default hot-bucket cap of a MinHash band bucket: the signature is
    * an md5 (a 128-bit space), so an honest bucket is a handful of true
    * near-dups and one past the cap is boilerplate, linked as a
    * [[CoBucket.HubStar]]. Measured on a planted 10% boilerplate cluster
    * at the 20k-doc tier (BASELINE_SELF.md skew table): uncapped the hot
    * bucket alone contributes ~2M candidate pairs; capped the profile
    * stays flat and every planted honest near-dup is still recovered.
    */
  val defaultMaxBucket = 1000

  /** Default stop-shingle cap for [[contamination]]: a 3-word shingle
    * shared by more than this many TRAIN documents is corpus
    * boilerplate, not contamination signal, and is the shingle join's
    * only skew risk (its join fan-out is df_train × df_bench). A
    * genuine benchmark item's shingles are rare by construction —
    * that's why decontamination works at all — so the cap costs no
    * recall on real contamination while bounding the join's per-key
    * fan-out at corpus scale.
    */
  val defaultMaxShingleDf = 1000

  /** candidate pairs (a < b) sharing at least one LSH band — an
    * equi-join on (band, sig), never all-pairs. `maxBucket = 0`
    * disables the hot-bucket guard (see [[defaultMaxBucket]]).
    */
  def lshCandidates(docs: DataFrame, bands: Int = 4,
      maxBucket: Int = defaultMaxBucket): DataFrame =
    candidatesFromBands(
      bandsFromShingles(explodedShingles(docs), bands), maxBucket)

  /** candidate pairs from a bands frame under the hub-star cap; `share`
    * gets the bucket-annotated bands (at sf0.1 caching the bands before
    * the window ran it three times, ~3.5 s, PERF_NOTES §6)
    */
  private def candidatesFromBands(bs0: DataFrame, maxBucket: Int,
      share: DataFrame => DataFrame = identity): DataFrame =
    CoBucket.pairs(bs0, "doc_id", Seq("band", "sig"),
        CoBucket.Cap.fixed(maxBucket), CoBucket.HubStar, share = share)
      .select("a", "b").distinct()

  /** near-duplicate pairs: LSH candidates verified by exact shingle
    * Jaccard >= num/den (integer cross-multiplied — no float compare).
    * Output: (a, b, inter, uni).
    */
  def nearDuplicates(docs: DataFrame, bands: Int = 4,
      num: Int = 7, den: Int = 10,
      maxBucket: Int = defaultMaxBucket): DataFrame =
    Iterate.scope(docs.sparkSession, "NearDuplicates") { s =>
      // the exploded shingle set feeds signature building AND the
      // verification joins — one explode, cached
      nearDuplicatesOnShingles(s.cache(explodedShingles(docs)), bands,
        num, den, maxBucket)
    }

  /** [[nearDuplicates]] over a CALLER-MANAGED exploded-shingle frame —
    * the composition hook for pipelines that already pay the explode
    * (Curate shares ONE cached shingle frame across its near-dup and
    * contamination stages instead of exploding the corpus per stage).
    * The caller owns `sh`'s caching/lifetime; this returns a
    * checkpointed frame and releases only its OWN internal cache (the
    * bucket-annotated bands).
    */
  private[pipeline] def nearDuplicatesOnShingles(sh: DataFrame,
      bands: Int = 4, num: Int = 7, den: Int = 10,
      maxBucket: Int = defaultMaxBucket): DataFrame =
    Iterate.scope(sh.sparkSession, "NearDuplicates") { s =>
      val cands = candidatesFromBands(bandsFromShingles(sh, bands), maxBucket, s.cache)
      verifyJaccard(sh, cands, num, den).localCheckpoint(true)
    }

  /** exact-Jaccard verification of candidate pairs against the full
    * shingle sets: inter via two joins on the exploded shingles,
    * union by |A|+|B|−inter, kept when inter/union ≥ num/den
    * (integer cross-multiplication — no float thresholds).
    * Output (a, b, inter, uni).
    */
  private def verifyJaccard(sh: DataFrame, cands: DataFrame,
      num: Int, den: Int): DataFrame =
    jaccardAtLeast(sh, cands
      .join(sh.select(col("doc_id").as("a"), col("sh")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter")), num, den)

  /** the Jaccard threshold on (a, b, inter) pairs: union by
    * |A|+|B|−inter from the shingle-set sizes, kept when
    * inter/union ≥ num/den by integer cross-multiplication.
    * Output (a, b, inter, uni).
    */
  private def jaccardAtLeast(sh: DataFrame, inter: DataFrame,
      num: Int, den: Int): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .filter(col("inter") * den >= col("uni") * num)
  }

  /** DIRECT n-gram Jaccard near-duplicates — the deterministic member
    * of the dedup family next to [[nearDuplicates]]'s MinHash path.
    * Candidates are pairs sharing ≥1 shingle whose document frequency
    * is within `maxShingleDf` (an inverted-index equi-join on the
    * shingle, under [[contamination]]'s stop-shingle guard); verification
    * is the exact Jaccard on the FULL shingle sets (capped shingles
    * still count toward inter/union — the cap only prunes candidate
    * GENERATION). Output (a, b, inter, uni) like [[nearDuplicates]].
    *
    * vs MinHash: banded signatures admit false-negative candidates
    * with probability (1−s^r)^b per pair — the direct join is
    * candidate-complete for every pair sharing any sub-cap shingle.
    * The price is candidate volume Σ df² over sub-cap shingles
    * (bounded by maxShingleDf·Σdf = maxShingleDf·corpus-shingles)
    * against MinHash's Σ bucket² — the right trade for modest corpora
    * or compliance-grade dedup where a missed near-dup is worse than
    * extra verify work; at 100 TB the MinHash path's constant
    * per-doc index cost wins.
    */
  def jaccardNearDuplicates(docs: DataFrame, num: Int = 7, den: Int = 10,
      maxShingleDf: Int = defaultMaxShingleDf): DataFrame =
    Iterate.scope(docs.sparkSession, "JaccardNearDuplicates") { s =>
      val sh = s.cache(explodedShingles(docs))
      // a pair's co-bucket rows ARE its shingle intersection (over-cap
      // shingles re-joined), so one aggregate counts inter with no
      // verify joins back to the shingle sets (round 13, sf0.1: those
      // built ~29M rows for 1.13M candidates → 25 survivors); the
      // sub-cap rows feed the count and the re-join, so they are cached
      val inter = CoBucket.pairs(sh, "doc_id", Seq("sh"),
          CoBucket.Cap.fixed(maxShingleDf), CoBucket.Rejoin, share = s.cache)
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      jaccardAtLeast(sh, inter, num, den).localCheckpoint(true)
    }

  /** cross-corpus contamination check (train/test overlap): a DIRECT
    * shingle equi-join between the corpora, verified by n-gram
    * CONTAINMENT — |shingles(bench) ∩ shingles(train)| /
    * |shingles(bench)| ≥ num/den. Containment, not Jaccard, and no LSH:
    * a long training document embedding a whole benchmark item has
    * containment 1.0 but LOW Jaccard, so minhash-band candidates (which
    * select by Jaccard) would systematically miss exactly the pairs
    * decontamination exists to find. The shingle join is bucketed by
    * construction (equi-join on the shingle hash); work scales with
    * shared-shingle collisions, never |bench|×|train|.
    *
    * `maxShingleDf` (default [[defaultMaxShingleDf]]; 0 disables):
    * drop shingles appearing in more than that many TRAIN docs before
    * the join — the stop-shingle guard ("of the and" appears
    * everywhere, carries no contamination signal, and is the join's
    * only skew risk at corpus scale).
    * Output (bench_id, train_id, inter, nb).
    */
  def contamination(train: DataFrame, bench: DataFrame,
      num: Int = 7, den: Int = 10,
      maxShingleDf: Int = defaultMaxShingleDf): DataFrame =
    Iterate.scope(train.sparkSession, "Contamination") { s =>
      contaminationOnShingles(s.cache(explodedShingles(train)),
        s.cache(explodedShingles(bench)), num, den, maxShingleDf)
    }

  /** [[contamination]] over CALLER-MANAGED exploded-shingle frames —
    * the Curate composition hook (one corpus explode shared across
    * stages; the train/bench frames are filters of it).
    */
  private[pipeline] def contaminationOnShingles(shTr: DataFrame,
      shB: DataFrame, num: Int = 7, den: Int = 10,
      maxShingleDf: Int = defaultMaxShingleDf): DataFrame = {
    val shT = CoBucket.within(shTr, Seq("sh"), CoBucket.Cap.fixed(maxShingleDf), "_df")
    val nb = shB.groupBy("doc_id").agg(count(lit(1)).as("nb"))
    val inter = shB.select(col("doc_id").as("bench_id"), col("sh"))
      .join(shT.select(col("doc_id").as("train_id"), col("sh")), Seq("sh"))
      .groupBy("bench_id", "train_id").agg(count(lit(1)).as("inter"))
    inter
      .join(nb.select(col("doc_id").as("bench_id"), col("nb")), Seq("bench_id"))
      .filter(col("inter") * den >= col("nb") * num)
      .select("bench_id", "train_id", "inter", "nb")
      .localCheckpoint(true)
  }

  /** SimHash width in bits. 60 = 15 md5 hex chars per token — the
    * widest value both engines hold exactly in a signed 64-bit
    * integer (2^60−1 < 2^63) and DuckDB reproduces verbatim
    * (('0x' || substr(md5(t),1,15))::BIGINT). Width is a scale
    * parameter, not just precision: the candidate join keys on
    * simhashBits/4-bit bands, so band key space — and therefore how
    * late the structural bucket-collision quadratic arrives — grows
    * 2^(width/4).
    */
  val simhashBits = 60

  /** 60-bit token hash: first 15 md5 hex chars (see simhashBits) */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** SimHash over whitespace tokens (with multiplicity): bit b is set
    * when sum over tokens of ±1 (by bit b of the token hash) is
    * positive. 60-bit (simhashBits).
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", hash60(col("t")))
    val bitSums = (0 until simhashBits).map { b =>
      sum(when(shiftright(col("h"), b) % 2 === 1, 1L).otherwise(-1L)).as(s"s_$b")
    }
    val agged = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until simhashBits).map { b =>
      when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    agged.select(col("doc_id"), value.as("simhash"))
  }

  /** SimHash candidate generation by BLOCK-COMBINATION banding (the
    * multi-table scheme of Manku/Jain/Sarma, "Detecting Near-Duplicates
    * for Web Crawling", WWW'07 §3 — re-expressed as one exploded
    * equi-join instead of sorted permuted tables): the simhash is split
    * into `blocks` equal bit-blocks; with Hamming ≤ k at most k blocks
    * differ, so at least `blocks − k` are clean — for SOME
    * (blocks−k)-subset of blocks, both docs agree on every block in
    * the subset. Emitting one key per subset (the subset's blocks
    * concatenated) makes "shares any key" a recall-COMPLETE candidate
    * test for Hamming ≤ k, at C(blocks, k) keys per doc.
    *
    * Scale math (structural buckets — a near-uniform simhash spreads
    * docs over the whole key space): expected candidate volume is
    * C(blocks,k) · n² / 2^((blocks−k)·60/blocks). The defaults
    * (k=3, blocks=6) give 20 tables of 30-bit keys: ~20·n²/2³⁰, i.e.
    * candidates stay O(n) until n ≈ 5·10⁷ and are ~19n at 10⁸ docs.
    * The previous single-table 4 × 15-bit layout is exactly the
    * blocks=4 instance (C(4,3)=4 single-block keys): 4·n²/2¹⁵ goes
    * quadratic past ~10⁴ docs and emits ~10¹³ candidates at 10⁸ —
    * the round-7 `weak` wall. Larger corpora raise `blocks` (e.g.
    * blocks=10 → 120 tables of 42-bit keys, O(n) to ~3·10¹⁰ docs);
    * tables multiply the join INPUT linearly while key bits shrink
    * buckets exponentially, so the trade always favors more blocks
    * once n approaches the current wall. These buckets are structural,
    * so they run uncapped (see [[CoBucket]]).
    *
    * Input is the (doc_id, simhash) frame; output (a, b, ha, hb)
    * DISTINCT candidate pairs, unverified.
    */
  private[graft] def simhashCandidates(shd: DataFrame, maxHamming: Int,
      blocks: Int): DataFrame = {
    require(simhashBits % blocks == 0,
      s"blocks=$blocks must divide simhashBits=$simhashBits")
    require(blocks > maxHamming,
      s"blocks=$blocks must exceed maxHamming=$maxHamming for the pigeonhole")
    val blockBits = simhashBits / blocks
    val comboSize = blocks - maxHamming
    // one literal row per table (its blocks' bit offsets), so the key
    // is ONE comboSize-term expression, not one per table (blocks=10's
    // 120 keys outgrew Janino's 64 KB method limit)
    val tables = (0 until blocks).combinations(comboSize).zipWithIndex.map { case (c, t) =>
      struct(lit(t).as("tbl"), array(c.map(b => lit(b * blockBits)): _*).as("sh"))
    }.toSeq
    // concatenate the subset's blocks into one ≤ 60-bit key
    val key = (0 until comboSize).map { pos =>
      (call_function("shiftright", col("simhash"), col("tk.sh")(pos)) %
        (1 << blockBits)) * lit(1L << (pos * blockBits))
    }.reduce(_ + _)
    val banded = shd.select(col("doc_id"), col("simhash"),
        explode(array(tables: _*)).as("tk"))
      .select(col("doc_id"), col("simhash"),
        col("tk.tbl").as("tbl"), key.as("key"))
    CoBucket.pairs(banded, "doc_id", Seq("tbl", "key"),
        payload = Map("simhash" -> ("ha", "hb")))
      .select(col("a"), col("b"), col("ha"), col("hb"))
      .dropDuplicates("a", "b")
  }

  /** SimHash near-dup pairs: block-combination candidates (see
    * [[simhashCandidates]] — recall-complete for Hamming ≤ maxHamming
    * by pigeonhole), then exact bit_count(xor) ≤ maxHamming
    * verification. Output (a, b, hamming) — because candidate
    * generation is recall-complete, this is EXACTLY the set of pairs
    * at Hamming ≤ maxHamming, independent of `blocks` (the oracle
    * checks this contract by brute force).
    */
  def simhashNearDuplicates(docs: DataFrame, maxHamming: Int = 3,
      blocks: Int = 6): DataFrame =
    simhashCandidates(simhash(docs), maxHamming, blocks)
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** mod-p document fingerprint: the shingle hashes ≡ 0 (mod `p`) —
    * a fixed-rate sampled signature of the document (winnowing-lite).
    * Output (doc_id, fp) distinct.
    */
  def fingerprint(docs: DataFrame, p: Int = 8): DataFrame =
    docs.select(col("doc_id"), explode(shingles(col("text"))).as("sh"))
      .select(col("doc_id"), hash32(col("sh")).as("fp"))
      .filter(col("fp") % p === 0)
      .distinct()

  /** Inter-document duplicated-n-gram fraction (the RefinedWeb /
    * Penedo et al. 2023 §4.2 duplication measure): for each document,
    * the share of its DISTINCT 3-word shingles that occur in at least
    * one other document. High dup_pct flags boilerplate / templated
    * docs that exact and near-dup passes both miss (they share content
    * piecewise with MANY documents without any single pair passing a
    * Jaccard threshold).
    *
    * Output: (doc_id, n_shingles, n_dup, dup_pct) with
    * dup_pct = floor(100·n_dup/n_shingles). Documents shorter than the
    * shingle width have no shingles and are absent (nothing to
    * measure).
    *
    * Plan — the reason this scales where pairwise comparison cannot:
    * the corpus-frequency table df(shingle) = |docs containing it| is
    * ONE hash aggregate on the exploded distinct shingles, the
    * per-doc verdict is an equi-join of each (doc, shingle) row to its
    * df followed by a hash aggregate on doc_id. Candidate volume is
    * linear in total shingle occurrences — there is no Σdf² pair
    * blowup because documents are never paired; a stop-shingle
    * appearing in 10⁹ docs contributes 10⁹ join rows (its honest
    * occurrence count), not 10¹⁸ pairs.
    */
  def dupNgramStats(docs: DataFrame): DataFrame =
    Iterate.scope(docs.sparkSession, "DupNgramStats") { s =>
      // the exploded shingle set feeds the df aggregate AND the join
      // side — without a cache the tokenize+shingle construction (the
      // dominant cost: string building over the whole corpus) runs
      // twice in one plan (no exchange to reuse: the agg side combines
      // map-side first)
      val sh = s.cache(explodedShingles(docs)) // distinct per doc by construction
      val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      sh.join(df, Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .select(col("doc_id"), col("n_shingles"), col("n_dup"),
          floor(lit(100.0) * col("n_dup") / col("n_shingles")).cast(LongType).as("dup_pct"))
        .localCheckpoint(true)
    }

  /** positional k-shingles (doc_id, p, sh): one row per shingle
    * OCCURRENCE with its 0-based token position — unlike
    * [[explodedShingles]] (distinct per doc), repeats keep every
    * position so runs can be measured. Docs shorter than k tokens
    * emit nothing (same guard as [[shingles]]).
    */
  def positionalShingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), gramArray(col("text"), k).as("shs"))
      .select(col("doc_id"), posexplode(col("shs")).as(Seq("p", "sh")))

  /** Longest cross-document duplicated SPAN per document (the
    * substring-level dedup measure of Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — their
    * suffix-array ExactSubstr pass, re-expressed as shingle-run
    * analysis): a position is `duplicated` when its k-shingle occurs
    * in at least one OTHER document; the longest consecutive run of
    * duplicated positions marks the doc's largest verbatim-copied
    * region (run of r shingles = r+k−1 copied tokens). Pairwise dedup
    * keeps docs below the Jaccard bar even when they embed a long
    * quoted block — this measure catches exactly those.
    *
    * Output (doc_id, n_pos, n_dup_pos, max_run, span_tokens):
    * positions total / duplicated, the longest run in shingles, and
    * its token length (0 when nothing is duplicated). Docs shorter
    * than k tokens are absent (no positions to measure).
    *
    * Plan: shingle df = one hash aggregate over distinct
    * (doc, shingle) rows (shared shape with [[dupNgramStats]] — df
    * counts DOCUMENTS, so intra-doc repetition alone never flags);
    * positions join their shingle's df (linear in occurrences, no
    * pairing); runs = the gaps-and-islands window (p − row_number)
    * partitioned BY DOC — the window state is one document's
    * positions, bounded by document length, so the one shuffle is on
    * doc_id and no partition ever exceeds a doc's own size. The
    * flagged frame's two consumers (totals agg + runs window) share
    * one execution via the planner's exchange reuse — a round-13 A/B
    * measured an explicit cache STRICTLY WORSE (17.4 vs 11.8 s: the
    * block-manager round trip replaced a free ReusedExchange), the
    * inverse of [[dupNgramStats]]'s case where the two subtrees
    * differ (map-side partial agg) and nothing is reusable.
    */
  def dupSpans(docs: DataFrame, k: Int = 3): DataFrame = {
    val pos = positionalShingles(docs, k)
    val dfc = explodedShingles(docs).groupBy("sh").agg(count(lit(1)).as("df"))
    val flagged = pos.join(dfc, Seq("sh"))
    val tot = flagged.groupBy("doc_id").agg(count(lit(1)).as("n_pos"),
      sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_pos"))
    val runs = flagged.filter(col("df") >= 2)
      .withColumn("grp",
        col("p") - row_number().over(Window.partitionBy("doc_id").orderBy("p")))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max(col("run")).as("max_run"))
    tot.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pos"), col("n_dup_pos"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        when(coalesce(col("max_run"), lit(0L)) > 0,
          coalesce(col("max_run"), lit(0L)) + (k - 1))
          .otherwise(0L).cast(LongType).as("span_tokens"))
  }

  /** Line-level duplication stats (the CCNet-style boilerplate
    * signal): documents are split into LINES, each line's corpus
    * document-frequency is counted, and a document reports how much
    * of it is made of lines that also appear in other documents —
    * navigation bars, cookie banners, templated headers — the
    * duplication that whole-document dedup never sees.
    *
    * Line splitter: this corpus is single-line (no '\n'), so the
    * deterministic stand-in is fixed `lineTokens`-token chunks; a
    * real crawl corpus would split on newlines first (the chunking
    * here doubles as a maximum line length). The oracle mirrors the
    * same chunk arithmetic.
    *
    * Scale shape (same family as [[dupNgramStats]]): one explode
    * (corpus token volume ÷ lineTokens rows), one df hash-aggregate
    * on the line's md5 DIGEST (16-byte shuffle keys, never the line
    * text), one per-occurrence digest join, one doc_id aggregate —
    * linear in corpus size, documents are never paired. df counts
    * DISTINCT documents, so intra-doc repetition alone never flags.
    *
    * Output per doc: (doc_id, n_lines, n_dup_lines, dup_line_bp).
    */
  def lineDedupStats(docs: DataFrame, lineTokens: Int = 10): DataFrame = {
    val toks = split(col("text"), " ")
    val lines = docs.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), floor((size(toks) - 1) / lineTokens).cast("int")),
        i => md5(array_join(slice(toks, i * lineTokens + 1, lit(lineTokens)), " "))))
        .as(Seq("line_no", "lh")))
    val dfc = lines.groupBy("lh").agg(countDistinct(col("doc_id")).as("df"))
    lines.join(dfc, Seq("lh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        floor(lit(10000L) * col("n_dup_lines") / col("n_lines")).cast(LongType)
          .as("dup_line_bp"))
  }

  /** Normalized content fingerprint: md5 of the document's SORTED
    * DISTINCT token set. Word order and repetition do not change the
    * key, so shuffled/boilerplate-stuffed re-posts of the same content
    * collide — the normalize-before-hash step every production ingest
    * pipeline runs in front of exact dedup (lowercasing / punctuation
    * stripping belong in the same place; this corpus is already
    * lower-cased and unpunctuated, so token-set normalization is the
    * binding clause). Engine-portable: DuckDB's
    * md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' '))
    * reproduces it byte-for-byte.
    */
  def normalizedKey(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(split(text, " ")))))

  /** Ingest-time incremental dedup: a NEW batch of documents arrives
    * and must be deduplicated against the already-ingested corpus
    * (the ledger) AND against itself — the decision every
    * continuously-fed training pipeline makes per ingest cycle,
    * without ever re-deduplicating the corpus.
    *
    * Verdict per batch document (key = [[normalizedKey]]):
    *  - `in_corpus` = 1 when the ledger already holds the key;
    *  - `keep` = 1 when the key is new to the corpus AND this is the
    *    batch's canonical copy (smallest doc_id for the key) — i.e.
    *    the rows that actually enter the corpus this cycle.
    *
    * Scale shape: the ledger reduces to DISTINCT 32-char digests (at
    * 100 TB this is the persisted dedup ledger — store it bucketed on
    * `h`, cf. [[graft.io.BucketedCoo]], and the join below is
    * co-located with NO shuffle of the ledger); the batch pays one
    * hash aggregate for its first-ids and one equi-join on the
    * digest. A small batch against a huge ledger is the common case —
    * the batch side broadcasts (AQE picks this up from its size), so
    * ingest cost is O(batch) + one ledger probe, never O(corpus).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame): DataFrame =
    incrementalDedupAgainstLedger(dedupLedger(corpus), batch)

  /** the persisted form of the corpus for ingest dedup: its DISTINCT
    * normalized-key digests, one `h` column. Store it bucketed on `h`
    * ([[graft.io.BucketedCoo.saveLoad]]) and
    * [[incrementalDedupAgainstLedger]] probes it with NO exchange on
    * the ledger side (BucketedCooSpec pins this at the plan level) —
    * the 100 TB ledger never re-shuffles; each ingest cycle shuffles
    * only the arriving batch.
    */
  def dedupLedger(corpus: DataFrame): DataFrame =
    corpus.select(normalizedKey(col("text")).as("h")).distinct()

  /** Bloom-prefiltered ingest dedup: the dedup-ledger probe of
    * [[incrementalDedup]] with a broadcast Bloom filter in front.
    *
    * The ledger's digests aggregate into ONE 8 KiB bit-array state
    * ([[org.apache.spark.sql.graft.BloomState]] over
    * [[Sketch.bloomPacked]]) that broadcasts to every executor; each
    * batch document answers "maybe seen?" with four codegen bit tests
    * — NO join, no shuffle — and only the bloom-positive sliver pays
    * the exact digest equi-join. Bloom filters have no false
    * negatives (merge is bitwise OR, bits are never cleared), so the
    * prefilter can never lose a duplicate: `in_corpus` below is
    * EXACTLY [[incrementalDedup]]'s verdict, which is what the oracle
    * checks. At 100 TB the win is the probe volume: a fresh crawl
    * batch is mostly unseen content, so the expensive exact probe
    * runs on the few-percent bloom-positive rows (true dups + the
    * documented FP rate) instead of the whole batch; the state
    * persists beside the ledger and rolls up across ingest cycles by
    * OR ([[org.apache.spark.sql.graft.BloomMergeState]] —
    * idempotent, so at-least-once re-merges are harmless).
    *
    * `shards` is the capacity dial: ONE 65536-bit filter saturates
    * around ~8k ledger keys (n/m = ⅛ ⇒ ~2.4% FP; at n = m the FP rate
    * passes 90% and the prefilter stops filtering). Sharding routes
    * each digest to filter `md5-window(h) mod shards`, so per-shard
    * occupancy — and with it the FP rate — drops by the fan-out while
    * the probe stays join-free on the batch side (the shards × 8 KiB
    * states broadcast; a billion-key ledger at n/m = ⅛ needs ~128k
    * shards ≈ 1 GiB of states — still a broadcast, or a co-located
    * join on the shard key past that). shards = 1 is the single-state
    * layout the oracle mirrors.
    *
    * Output per batch doc: (doc_id, h, bloom_maybe, in_corpus).
    */
  def bloomIncrementalDedup(corpus: DataFrame, batch: DataFrame,
      shards: Int = 1): DataFrame = {
    val ledger = dedupLedger(corpus)
    def shardOf(h: org.apache.spark.sql.Column) =
      conv(substring(md5(h), 1, 4), 16, 10).cast(LongType) % shards
    val blooms = ledger.withColumn("shard", shardOf(col("h")))
      .groupBy("shard").agg(
        org.apache.spark.sql.graft.BloomState(Sketch.bloomPacked(col("h"))).as("bloom"))
    val keyed = batch.select(col("doc_id"), normalizedKey(col("text")).as("h"))
      .withColumn("shard", shardOf(col("h")))
    // left join: a batch key routed to a shard no ledger key ever hit
    // probes a missing state — definitively fresh
    val probed = keyed.join(broadcast(blooms), Seq("shard"), "left")
      .withColumn("bloom_maybe",
        when(coalesce(org.apache.spark.sql.graft.BloomMaybe(
          col("bloom"), Sketch.bloomPacked(col("h"))), lit(false)), 1L)
          .otherwise(0L))
      .drop("bloom", "shard")
    // exact confirm pays only for the bloom-positive sliver; negatives
    // are definitively fresh (no false negatives)
    val confirmed = probed.filter(col("bloom_maybe") === 1L)
      .join(ledger.withColumn("_led", lit(1L)), Seq("h"), "left")
      .select(col("doc_id"), coalesce(col("_led"), lit(0L)).as("in_corpus"))
    probed.join(confirmed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("h"), col("bloom_maybe"),
        coalesce(col("in_corpus"), lit(0L)).as("in_corpus"))
  }

  /** The NEAR-dup sibling of [[dedupLedger]]: the corpus's distinct
    * MinHash band signatures (band, sig) — the persisted signature
    * store an ingest cycle probes to ask "is this arriving doc an LSH
    * candidate of anything already ingested?" without re-pairing the
    * corpus. At 100 TB: store bucketed on (band, sig) and each cycle
    * appends the batch's own new signatures — the corpus text is never
    * re-shingled.
    */
  def minhashLedger(corpus: DataFrame, bands: Int = 4): DataFrame =
    lshBandSignatures(corpus, bands).select("band", "sig").distinct()

  /** Ingest-time NEAR-dup probe: each arriving batch document's band
    * signatures are looked up in the corpus signature ledger. Output
    * per batch doc (with ≥1 shingle): n_bands_hit (0..bands) and
    * near_corpus = 1 iff any band collides — LSH-candidate-of-corpus,
    * the signal that routes the doc to expensive verification or
    * straight to ingest.
    *
    * Scale shape: the ledger is DISTINCT on (band, sig), so the left
    * join fans out at most 1:1 per batch band row — NO quadratic pair
    * expansion exists on this path at ANY bucket size (the hot-bucket
    * guard protects [[lshCandidates]]' corpus self-join; the ledger
    * probe needs no guard at all). Cost per cycle: shingle + sign the
    * batch (O(batch tokens)), one equi-join against the bucketed
    * ledger (co-located, no ledger shuffle), one per-doc hash agg.
    * A false-positive band collision costs one downstream verify,
    * never a wrong verdict.
    */
  def nearDupAgainstLedger(ledger: DataFrame, batch: DataFrame,
      bands: Int = 4): DataFrame =
    probeLedgerBands(lshBandSignatures(batch, bands), ledger)

  /** the ledger-probe tail of [[nearDupAgainstLedger]], starting from
    * an already-built (doc_id, band, sig) frame — shared with the
    * streaming screen, whose signatures drain from aggregation state.
    */
  private[graft] def probeLedgerBands(bandSigs: DataFrame,
      ledger: DataFrame): DataFrame =
    bandSigs
      .join(ledger.withColumn("_led", lit(1L)), Seq("band", "sig"), "left")
      .groupBy("doc_id")
      .agg(sum(when(col("_led").isNotNull, 1L).otherwise(0L)).as("n_bands_hit"))
      .select(col("doc_id"), col("n_bands_hit"),
        when(col("n_bands_hit") > 0, 1L).otherwise(0L).as("near_corpus"))

  /** The ledger-maintenance half of the ingest cycle
    * [[minhashLedger]]'s scaladoc promises: append the batch's NOVEL
    * band signatures into the persisted bucketed ledger table and
    * return the updated frame. Novelty is an anti-join against the
    * current ledger — co-located on the ledger side (it is bucketed
    * on (band, sig)), so the ledger is never shuffled — and it is
    * what PRESERVES the ledger's distinctness on (band, sig): a blind
    * append would duplicate already-known signatures and break the
    * probe join's at-most-1:1 fan-out invariant (the scale property
    * nearDupAgainstLedger's scaladoc pins). Appended buckets are
    * multi-file (BucketedCoo.append tradeoff) — probe joins keep the
    * exchange elision; run a saveLoadKeys compaction when re-sorting
    * pays.
    *
    * @param ledger the CURRENT ledger frame, read from the bucketed
    *               table `name` (e.g. BucketedCoo.saveLoadKeys output)
    * @return the updated ledger table frame
    */
  def appendBatchToMinhashLedger(ledger: DataFrame, batch: DataFrame,
      name: String, bands: Int = 4): DataFrame = {
    val novel = lshBandSignatures(batch, bands).select("band", "sig")
      .distinct()
      .join(ledger, Seq("band", "sig"), "left_anti")
    graft.io.BucketedCoo.append(ledger.sparkSession, novel, name)
  }

  /** [[incrementalDedup]] against a pre-computed ledger frame
    * (`h` column — typically [[dedupLedger]] output persisted
    * bucketed on `h` across ingest cycles).
    */
  def incrementalDedupAgainstLedger(ledger: DataFrame, batch: DataFrame): DataFrame = {
    val keyed = batch.select(col("doc_id"), normalizedKey(col("text")).as("h"))
    val firsts = keyed.groupBy("h").agg(min(col("doc_id")).as("_first"))
    keyed.join(firsts, Seq("h"))
      .join(ledger.withColumn("_led", lit(1L)), Seq("h"), "left")
      .select(col("doc_id"), col("h"),
        coalesce(col("_led"), lit(0L)).as("in_corpus"),
        when(col("_led").isNull && col("doc_id") === col("_first"), 1L)
          .otherwise(0L).as("keep"))
  }
}
