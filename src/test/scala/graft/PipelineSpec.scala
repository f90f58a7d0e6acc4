package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

/** LLM-data-pipeline operator tests on small hand-built corpora with
  * known duplicates/similarities.
  */
class PipelineSpec extends SparkSpec {

  private lazy val docs = {
    val rows = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the old river bank today"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy dog near the old river bank now"),   // near dup of 0
      (3L, "completely different text about spark query engines and columnar storage systems"),
      (4L, "another unrelated document discussing distributed joins and shuffle partitioning"),
      (5L, "short doc"))
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  test("shingles of null text is an empty array, not null") {
    val df = spark.createDataFrame(Seq((0L, "a b c d"), (1L, null: String)))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextDedup.shingles(col("text")).as("sh"))
    val bySz = df.select(col("doc_id"), size(col("sh")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // size(null array) would be -1 (legacy) or null; [] gives 0
    assert(bySz(0L) == 2 && bySz(1L) == 0)
  }

  test("shingles k=1 is the distinct token set; null/empty text gives []") {
    // round-12 advice: the gramArray k>=2 require must not narrow the
    // public shingles signature — unigram shingles are tokens
    val df = spark.createDataFrame(Seq(
        (0L, "b a b c a"), (1L, null: String), (2L, "")))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextDedup.shingles(col("text"), 1).as("sh"))
    val got = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(got(0L) == Set("a", "b", "c"))
    assert(got(1L) == Set.empty && got(2L) == Set.empty)
  }

  test("exact dedup groups identical texts") {
    val r = TextDedup.exact(docs).collect()
    assert(r.length == 5) // 6 docs, one exact-dup pair
    val dup = r.find(_.getAs[Long]("cnt") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("incremental dedup: ledger hits, intra-batch dups, fresh docs") {
    val corpus = spark.createDataFrame(Seq(
      (0L, "alpha beta gamma"),
      (1L, "delta epsilon"))).toDF("doc_id", "text")
    val batch = spark.createDataFrame(Seq(
      (10L, "gamma beta alpha alpha"), // token set == corpus doc 0 (order/multiplicity ignored)
      (11L, "zeta eta theta"),         // fresh key, batch canonical
      (12L, "theta zeta eta"),         // same key as 11 → intra-batch dup
      (13L, "iota kappa"))).toDF("doc_id", "text")
    val r = TextDedup.incrementalDedup(corpus, batch).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("in_corpus"), x.getAs[Long]("keep")))).toMap
    assert(r(10L) == ((1L, 0L))) // already in corpus
    assert(r(11L) == ((0L, 1L))) // new: smallest id for its key enters
    assert(r(12L) == ((0L, 0L))) // new key but 11 is the canonical copy
    assert(r(13L) == ((0L, 1L)))
    assert(r.size == 4)
  }

  test("vocabulary: histogram rank equals total-order rank across a straddling tie group") {
    // cf: a=5, b=c=d=3 (tie group straddles the k=3 cut), e=1
    val corpus = spark.createDataFrame(Seq(
      (0L, "a a a b b c"),
      (1L, "a a b c c d"),
      (2L, "d d e"))).toDF("doc_id", "text")
    val r = TextStats.vocabulary(corpus, k = 3).collect()
      .map(x => (x.getAs[Long]("rank"), x.getAs[String]("tk"),
        x.getAs[Long]("cf"), x.getAs[Long]("cum_ppm"))).sortBy(_._1)
    assert(r === Seq(
      (1L, "a", 5L, 333333L),  // floor(1e6*5/15)
      (2L, "b", 3L, 533333L),  // floor(1e6*8/15)
      (3L, "c", 3L, 733333L))) // floor(1e6*11/15); d cut by tk order
  }

  test("bigram LM: pair counts, marginals, conditional ppm; single-token doc contributes nothing") {
    val corpus = spark.createDataFrame(Seq(
      (0L, "a b a b c"),
      (1L, "x"))).toDF("doc_id", "text") // 1 token -> no bigrams
    val r = TextStats.bigramModel(corpus).collect()
      .map(x => (x.getString(0), x.getString(1)) ->
        ((x.getAs[Long]("c12"), x.getAs[Long]("c1"), x.getAs[Long]("cond_ppm")))).toMap
    assert(r === Map(
      ("a", "b") -> ((2L, 2L, 1000000L)),
      ("b", "a") -> ((1L, 2L, 500000L)),
      ("b", "c") -> ((1L, 2L, 500000L))))
  }

  test("OOV rate flags tokens outside the top-k vocabulary") {
    // cf: a=4, b=3, c=2, d=1 -> k=2 vocab {a, b}; doc 1 is 2/4 OOV
    val corpus = spark.createDataFrame(Seq(
      (0L, "a a a b b"),
      (1L, "a b c d"),
      (2L, "c"))).toDF("doc_id", "text")
    val r = TextStats.oovRate(corpus, k = 2).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("n_oov"),
          x.getAs[Long]("oov_ppm")))).toMap
    assert(r === Map(
      0L -> ((5L, 0L, 0L)),
      1L -> ((4L, 2L, 500000L)),
      2L -> ((1L, 1L, 1000000L))))
  }

  test("minhash ledger probe: corpus near-dup hits all bands, fresh doc hits none") {
    val corpus = spark.createDataFrame(Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "completely different corpus content about distributed query engines"))).toDF("doc_id", "text")
    val batch = spark.createDataFrame(Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again today"), // identical → all bands hit
      (11L, "unrelated fresh arrival text mentioning neither foxes nor engines at all"))).toDF("doc_id", "text")
    val ledger = TextDedup.minhashLedger(corpus)
    val r = TextDedup.nearDupAgainstLedger(ledger, batch).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_bands_hit"), x.getAs[Long]("near_corpus")))).toMap
    assert(r(10L) == ((4L, 1L))) // identical text: every band signature collides
    assert(r(11L) == ((0L, 0L)))
    assert(r.size == 2)
  }

  test("bigram rarity: scrambled doc keeps unigram stats but craters bigram ppm") {
    // 20 copies of the same sentence establish the common bigrams; doc
    // 100 uses the SAME tokens in a deranged order
    val sentence = "alpha beta gamma delta epsilon zeta"
    val scrambled = "zeta gamma alpha epsilon beta delta"
    val rows = (0L until 20L).map(i => (i, sentence)) :+ (100L, scrambled)
    val fix = spark.createDataFrame(rows).toDF("doc_id", "text")
    val bg = TextStats.bigramRarity(fix).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_bigrams"), x.getAs[Long]("mean_bg_ppm")))).toMap
    val uni = TextStats.rarityScore(fix).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("mean_tok_ppm")).toMap
    // unigram rarity CANNOT separate them (same token multiset)
    assert(uni(100L) === uni(0L))
    // bigram rarity can: every scrambled bigram occurs once in the
    // corpus (ppm ~ 1/105 of total) vs the common sentence's 20×
    assert(bg(0L)._1 == 5L && bg(100L)._1 == 5L)
    assert(bg(100L)._2 < bg(0L)._2 / 10,
      s"scrambled ${bg(100L)._2} should crater vs common ${bg(0L)._2}")
    // exact values: 105 bigram occurrences total; common bigram cf=20
    // (ppm 190476), scrambled cf=1 (ppm 9523)
    assert(bg(0L)._2 === 190476L)
    assert(bg(100L)._2 === 9523L)
  }

  test("curation verdict: each drop reason fires on its planted doc, clean doc survives") {
    val base = ("the quick brown fox jumps over a lazy dog near this old river bank " +
      "today with many other small animal friends walking around here very happily " +
      "while evening light settles on quiet water").trim
    val benchText = "the reserved benchmark item holds fifteen carefully distinct evaluation tokens nobody copies"
    val fix = spark.createDataFrame(Seq(
      (0L, benchText),                                     // bench slice (0 % 50 == 0)
      (1L, base),                                          // clean keeper + near-dup canonical
      (2L, base),                                          // exact copy of 1
      (3L, base.replace("settles", "descends")),           // near-dup of 1 (one mid token)
      (4L, benchText + " padded with additional trailing context tokens the benchmark leaked into training data somehow"), // contains the bench doc
      (5L, "too short")))                                  // fails quality
      .toDF("doc_id", "text")
    val r = graft.pipeline.Curate.curationVerdict(fix).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("is_bench"), x.getAs[Long]("flag_quality"),
          x.getAs[Long]("flag_exact_dup"), x.getAs[Long]("flag_near_dup"),
          x.getAs[Long]("flag_contaminated"), x.getAs[Long]("keep")))).toMap
    assert(r.size == 6)
    assert(r(0L)._1 == 1L && r(0L)._6 == 0L)      // bench never kept
    assert(r(1L) == ((0L, 0L, 0L, 0L, 0L, 1L)))   // the clean survivor
    assert(r(2L)._3 == 1L && r(2L)._6 == 0L)      // exact dup dropped
    assert(r(3L)._4 == 1L && r(3L)._6 == 0L)      // near dup dropped
    assert(r(4L)._5 == 1L && r(4L)._6 == 0L)      // contaminated dropped
    assert(r(5L)._2 == 1L && r(5L)._6 == 0L)      // quality reject
  }

  test("PII scan: emails, IPs, digit runs detected and redacted in cascade order") {
    val fix = spark.createDataFrame(Seq(
      (0L, "contact alice.smith+spam@example-host.co.uk or bob@test.io today"),
      (1L, "server at 192.168.1.254 and 10.0.0.1 responded"),
      (2L, "call 5551234 ext 42 ref 7"),           // digit runs: 5551234, 42 (not single '7')
      (3L, "mixed bob@x.com from 8.8.8.8 id 1234"),
      (4L, "clean text with no sensitive content")))
      .toDF("id", "text")
    val r = graft.pipeline.Pii.piiScan(fix, "id", "text").collect()
      .map(x => x.getAs[Long]("id") ->
        ((x.getAs[Long]("n_email"), x.getAs[Long]("n_ipv4"),
          x.getAs[Long]("n_digit"), x.getAs[String]("redacted_md5")))).toMap
    assert(r(0L)._1 == 2L && r(0L)._2 == 0L && r(0L)._3 == 0L)
    assert(r(1L)._1 == 0L && r(1L)._2 == 2L && r(1L)._3 == 0L)
    assert(r(2L)._1 == 0L && r(2L)._2 == 0L && r(2L)._3 == 2L)
    assert(r(3L) == ((1L, 1L, 1L, r(3L)._4)))
    // cascade: the IP's octets never double-count as digit runs, and
    // redaction is total — md5 of the hand-redacted strings
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    }
    assert(r(3L)._4 == m("mixed <EMAIL> from <IP> id <NUM>"))
    assert(r(4L) == ((0L, 0L, 0L, m("clean text with no sensitive content"))))
    // summary rolls the same signals up per group
    val sum = graft.pipeline.Pii.piiSummary(
      fix.withColumn("g", lit("all")), "g", "text").collect()(0)
    assert(sum.getAs[Long]("n_rows") == 5L)
    assert(sum.getAs[Long]("rows_email") == 2L)
    assert(sum.getAs[Long]("rows_ipv4") == 2L)
    assert(sum.getAs[Long]("rows_digit") == 2L)
    assert(sum.getAs[Long]("n_matches") == 2L + 2L + 2L + 3L)
  }

  test("line dedup: chunk lines, cross-doc df, hand-computed shares") {
    // lineTokens=3 for hand-checkable chunks
    val fix = spark.createDataFrame(Seq(
      (0L, "a b c d e f"),       // lines: "a b c", "d e f"
      (1L, "a b c x y z"),       // shares "a b c" with doc 0
      (2L, "d e f"),             // shares "d e f" with doc 0
      (3L, "q w e r t"),         // lines "q w e", "r t" — both unique
      (4L, "a b c a b c")))      // intra-doc repeat of a cross-doc dup line
      .toDF("doc_id", "text")
    val r = TextDedup.lineDedupStats(fix, lineTokens = 3).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_lines"), x.getAs[Long]("n_dup_lines"),
          x.getAs[Long]("dup_line_bp")))).toMap
    assert(r(0L) == ((2L, 2L, 10000L))) // both lines appear elsewhere
    assert(r(1L) == ((2L, 1L, 5000L)))
    assert(r(2L) == ((1L, 1L, 10000L)))
    assert(r(3L) == ((2L, 0L, 0L)))
    // doc 4: both occurrences of "a b c" count (df=3 docs), 2/2
    assert(r(4L) == ((2L, 2L, 10000L)))
  }

  test("line dedup: intra-doc-only repetition never flags (df counts documents)") {
    val fix = spark.createDataFrame(Seq(
      (0L, "u v w u v w"),  // same line twice, but only this doc has it
      (1L, "m n o")))
      .toDF("doc_id", "text")
    val r = TextDedup.lineDedupStats(fix, lineTokens = 3).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("n_dup_lines")).toMap
    assert(r(0L) == 0L)
    assert(r(1L) == 0L)
  }

  test("bloom prefilter: verdict == exact incremental dedup, no false negatives, states OR-merge") {
    val corpus = spark.createDataFrame(
      (0L until 400L).map(i => (i, s"corpus doc $i with words w${i % 97} w${i % 13}")))
      .toDF("doc_id", "text")
    val batch = spark.createDataFrame(
      // 50 re-posts of corpus docs (same token SET, shuffled order and
      // repetition — normalizedKey collides) + 50 fresh docs
      (0L until 50L).map(i =>
        (1000L + i, s"words with w${i % 13} corpus w${i % 97} doc $i $i")) ++
        (0L until 50L).map(i => (2000L + i, s"fresh unseen content number $i")))
      .toDF("doc_id", "text")
    val r = TextDedup.bloomIncrementalDedup(corpus, batch).collect()
      .map(x => (x.getAs[Long]("doc_id"),
        (x.getAs[Long]("bloom_maybe"), x.getAs[Long]("in_corpus")))).toMap
    val exact = TextDedup.incrementalDedup(corpus, batch).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("in_corpus")).toMap
    assert(r.size == 100)
    r.foreach { case (id, (maybe, inCorpus)) =>
      assert(inCorpus === exact(id), s"doc $id: bloom verdict must equal the exact probe")
      // no false negatives: every true member is bloom-positive
      assert(maybe >= inCorpus, s"doc $id: bloom dropped a true duplicate")
    }
    // all 50 re-posts are true ledger hits; all 50 fresh docs are not
    assert(r.count { case (_, (_, ic)) => ic == 1L } === 50)
    assert((0L until 50L).forall(i => r(1000L + i)._2 == 1L))
    assert((0L until 50L).forall(i => r(2000L + i)._2 == 0L))

    // OR-merge: two half-ledger states merged == one-pass state, and
    // the SQL surface agrees
    import org.apache.spark.sql.graft.{BloomMergeState, BloomState}
    val keyed = corpus.select(TextDedup.normalizedKey(col("text")).as("h"))
    val onePass = keyed.agg(BloomState(Sketch.bloomPacked(col("h"))).as("b"))
      .collect()(0).getAs[Array[Byte]](0)
    val halves = corpus.withColumn("half", (col("doc_id") % 2).cast("int"))
      .select(col("half"), TextDedup.normalizedKey(col("text")).as("h"))
      .groupBy("half").agg(BloomState(Sketch.bloomPacked(col("h"))).as("b"))
    val merged = halves.agg(BloomMergeState(col("b")).as("m"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, onePass))
    halves.createOrReplaceTempView("bloom_halves")
    val viaSql = spark.sql("SELECT graft_bloom_merge(b) FROM bloom_halves")
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(viaSql, onePass))
  }

  test("dup spans: longest cross-doc duplicated run, hand-computed") {
    val fix = spark.createDataFrame(Seq(
      (0L, "a b c d e f g h"),       // shares "a b c d e" with doc 1
      (1L, "x y a b c d e q r s"),
      (2L, "m n o"),                 // one unique shingle
      (3L, "c d e z z c d e"),       // "c d e" dup'd at two separated positions
      (4L, "q w"))).toDF("doc_id", "text") // < k tokens: absent
    val r = TextDedup.dupSpans(fix).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_pos"), x.getAs[Long]("n_dup_pos"),
          x.getAs[Long]("max_run"), x.getAs[Long]("span_tokens")))).toMap
    assert(r(0L) == ((6L, 3L, 3L, 5L))) // run abc,bcd,cde = 5 copied tokens
    assert(r(1L) == ((8L, 3L, 3L, 5L)))
    assert(r(2L) == ((1L, 0L, 0L, 0L)))
    assert(r(3L) == ((6L, 2L, 1L, 3L))) // two isolated dup positions
    assert(!r.contains(4L))
  }

  test("label outliers: planted off-cluster vector ranks first") {
    val rows = Seq(
      (0L, Seq(1.0f, 0f, 0f, 0f), 0),
      (1L, Seq(1.0f, 0.1f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0f, 0.1f, 0f), 0),
      (3L, Seq(0f, 1.0f, 0f, 0f), 0), // planted outlier in label 0
      (10L, Seq(0f, 0f, 1.0f, 0f), 1),
      (11L, Seq(0f, 0f, 0.9f, 0.1f), 1))
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val r = Similarity.labelOutliers(emb, k = 3).collect()
      .map(x => (x.getAs[Long]("label"), x.getAs[Long]("rank")) ->
        ((x.getAs[Long]("vec_id"), x.getAs[Long]("promille"))))
      .toMap
    assert(r((0L, 1L))._1 == 3L) // most outlying in label 0
    // ranks walk outward: promille non-decreasing with rank
    assert(r((0L, 1L))._2 <= r((0L, 2L))._2 && r((0L, 2L))._2 <= r((0L, 3L))._2)
    assert(r.count(_._1._1 == 1L) == 2) // label 1 has only 2 members
  }

  test("k-means clusters: planted clusters separate, cohesion high, fringe scores low") {
    // three tight clusters around orthogonal axes + one fringe vector
    def jitter(axis: Int, eps: Float): Seq[Float] =
      (0 until 8).map(d => if (d == axis) 1.0f else if (d == axis + 1) eps else 0f)
    val rows =
      (0L until 10L).map(i => (i, jitter(0, 0.01f * i))) ++
        (100L until 110L).map(i => (i, jitter(3, 0.01f * (i - 100)))) ++
        (200L until 210L).map(i => (i, jitter(6, 0.01f * (i - 200)))) ++
        Seq((999L, Seq(0.7f, 0f, 0f, 0.7f, 0f, 0f, 0f, 0f))) // between clusters 0 and 1
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val r = Similarity.embedClusters(emb, k = 3, lloydRounds = 2).collect()
      .map(x => x.getAs[Long]("vec_id") ->
        ((x.getAs[Long]("cid"), x.getAs[Long]("promille")))).toMap
    assert(r.size == 31)
    // each planted cluster is internally consistent
    def cidOf(ids: Seq[Long]) = { val cs = ids.map(r(_)._1).distinct; assert(cs.size == 1, s"$ids -> $cs"); cs.head }
    val c0 = cidOf(0L until 10L)
    val c1 = cidOf(100L until 110L)
    val c2 = cidOf(200L until 210L)
    assert(Set(c0, c1, c2).size == 3, "planted clusters must not merge")
    // members sit near their centroid; the planted fringe vector is
    // the corpus's least-cohesive member
    val memberMin = (0L until 10L).map(r(_)._2).min
    assert(memberMin > 950L)
    assert(r(999L)._2 < memberMin)
  }

  test("json prop stats: explicit-schema parse, corrupt payloads counted but excluded from k") {
    val ev = spark.createDataFrame(Seq(
      (1L, "click", """{"k": 5}"""),
      (2L, "click", """{"k": 7}"""),
      (3L, "click", """{"k": 5}"""),
      (4L, "click", "not json"),      // parses to null k, still counted in n
      (5L, "view", """{"other": 1}""") // field absent -> null k
    )).toDF("event_id", "event_type", "props")
    val r = Events.propStats(ev).collect()
      .map(x => x.getAs[String]("event_type") ->
        ((x.getAs[Long]("n"), x.getAs[Long]("n_k"), x.getAs[Long]("distinct_k"),
          x.getAs[Long]("sum_k"))))
      .toMap
    assert(r("click") == ((4L, 3L, 2L, 17L)))
    assert(r("view") == ((1L, 0L, 0L, 0L)) ||
      (r("view")._1 == 1L && r("view")._2 == 0L)) // sum over no rows is null
  }

  test("seq pack: concat-then-chunk placement, hand-computed") {
    // source A stream (seqLen 4): doc0 3 tokens [0,3) -> seq 0;
    // doc1 6 tokens [3,9) -> seqs 0..2; doc2 1 token [9,10) -> seq 2
    val docs = spark.createDataFrame(Seq(
      (0L, "a b c", "A"),
      (1L, "d e f g h i", "A"),
      (2L, "j", "A"),
      (5L, "x y z w v", "B"))). // independent stream: [0,5) -> seqs 0..1
      toDF("doc_id", "text", "source")
    val r = Sampling.seqPack(docs, seqLen = 4).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_tokens"), x.getAs[Long]("start_off"),
          x.getAs[Long]("first_seq"), x.getAs[Long]("last_seq"),
          x.getAs[Long]("n_seqs")))).toMap
    assert(r(0L) == ((3L, 0L, 0L, 0L, 1L)))
    assert(r(1L) == ((6L, 3L, 0L, 2L, 3L))) // straddles two boundaries
    assert(r(2L) == ((1L, 9L, 2L, 2L, 1L)))
    assert(r(5L) == ((5L, 0L, 0L, 1L, 2L))) // source B offsets restart
  }

  test("sample ledger: per-window rollup == one-pass draw, incl. duplicate-text ties") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 120L).map { i =>
      val text = if (i % 17 == 0) "shared duplicate text" // cross-window hash ties
        else s"doc $i ${rnd.nextInt(1000)}"
      (i, text, s"L${i % 3}")
    }
    val docs = spark.createDataFrame(rows).toDF("doc_id", "text", "lang")
    val onePass = Sampling.stratifiedSample(docs, "lang", col("text"), 10)
      .collect().map(_.toString).sorted.toSeq
    val ledger = Sampling.stratifiedSampleLedger(docs, "lang", col("text"), 10,
      col("doc_id") % 5)
      .collect().map(_.toString).sorted.toSeq
    assert(ledger == onePass)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = TextDedup.nearDuplicates(docs)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical shingle sets
    assert(!pairs.exists { case (a, b) => b == 3L || b == 4L || a == 3L || a == 4L })
  }

  test("a job that throws leaves the session's cache as it found it") {
    // one row fails mid-job, after the operator has cached its shared
    // intermediates: the scope must drop them on the failure path
    // (a range, not a local Seq: the optimizer folds projections over
    // local rows, which would throw before any cache is taken)
    val bad = raise_error(lit("planted bad row"))
    val ids = spark.range(0, 8, 1, 2)
    val docs = ids.select(col("id").as("doc_id"), concat_ws(" ",
        (1 to 12).map(i => when(col("id") === i, "x").otherwise(s"t$i")): _*)
        .as("text"))
      .withColumn("text", when(col("doc_id") === 5L, bad).otherwise(col("text")))
    val vecs = ids.select(col("id").as("vec_id"),
        array(lit(1f), col("id").cast("float")).as("embedding"))
      .withColumn("embedding",
        when(col("vec_id") === 5L, bad).otherwise(col("embedding")))
    Seq[(String, () => Any)](
      "nearDuplicates" -> (() => TextDedup.nearDuplicates(docs)),
      "jaccardNearDuplicates" -> (() => TextDedup.jaccardNearDuplicates(docs)),
      "contamination" -> (() => TextDedup.contamination(docs, docs)),
      "annPairs" -> (() => Similarity.annPairs(vecs, dims = 2))).foreach {
      case (name, op) =>
        val before = cached
        val e = intercept[Exception](op())
        assert(e.getMessage.contains("planted bad row"), s"$name: ${e.getMessage}")
        assert(cached == before, s"$name left caches behind")
    }
  }

  test("hot-bucket cap collapses boilerplate clusters to an O(B) hub star") {
    // 30 identical boilerplate docs (one LSH bucket of 30 → 435 pairs)
    // plus one genuine near-dup pair in a small bucket
    val boiler = (0L until 30L).map(i =>
      (i, "standard license header text repeated across every file in the corpus verbatim"))
    val pair = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
      (101L, "the quick brown fox jumps over the lazy dog near the old river bank now"))
    val corpus = spark.createDataFrame(boiler ++ pair).toDF("doc_id", "text")
    // guard disabled: the boilerplate cluster dominates the candidate set
    val uncapped = TextDedup.nearDuplicates(corpus, maxBucket = 0)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size >= 435 + 1)
    // capped at 10: the 30-member bucket is linked as a star around its
    // min id (29 pairs, not 435) — the cluster stays CONNECTED (a
    // near-identical >cap cluster must not vanish from dedup), only
    // the quadratic enumeration is given up; the small-bucket near-dup
    // pair is untouched
    val capped = TextDedup.nearDuplicates(corpus, maxBucket = 10)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = (1L until 30L).map(i => (0L, i)).toSet
    assert(capped == star + ((100L, 101L)))
    // same guard on the embedding LSH path: identical vectors land in
    // one bucket per band; the cap removes them
    val emb = spark.range(20).select(col("id").cast("long").as("vec_id"),
      expr("transform(sequence(0, 15), d -> float(1.0))").as("embedding"))
    assert(Similarity.annPairs(emb).count() == 190L) // 20 choose 2
    assert(Similarity.annPairs(emb, maxBucket = 10).count() == 0L)
  }

  test("skew guards engage by DEFAULT past their caps; honest work is untouched") {
    // a boilerplate cluster one past defaultMaxBucket: the DEFAULT
    // nearDuplicates call must drop it from candidate generation while
    // still returning the honest near-dup pair (exact dedup owns the
    // identical cluster instead)
    val n = TextDedup.defaultMaxBucket + 1
    val boiler = (0L until n.toLong).map(i =>
      (i, "standard license header text repeated across every file in the corpus verbatim"))
    val pair = Seq(
      (9000L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
      (9001L, "the quick brown fox jumps over the lazy dog near the old river bank now"))
    val corpus = spark.createDataFrame(boiler ++ pair).toDF("doc_id", "text")
    val nd = TextDedup.nearDuplicates(corpus)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the over-cap cluster collapses to its hub star (n-1 pairs around
    // doc 0), never B(B-1)/2; the honest pair is untouched
    val star = (1L until n.toLong).map(i => (0L, i)).toSet
    assert(nd == star + ((9000L, 9001L)))
    val ex = TextDedup.exact(corpus).filter(col("cnt") === n.toLong).collect()
    assert(ex.length == 1 && ex(0).getAs[Long]("keep_id") == 0L)
    // annPairs AUTO collapse guard: every vector identical → each band
    // bucket holds the whole corpus (> max(1000, n/4)) → dropped; with
    // the guard off the same corpus would self-join quadratically
    val m = 4000L
    val emb = spark.range(m).select(col("id").cast("long").as("vec_id"),
      expr("transform(sequence(0, 15), d -> float(1.0))").as("embedding"))
    assert(Similarity.annPairs(emb).count() == 0L)
    // ...but the DEDUP decision layer must not lose that cluster: the
    // exact identical-embedding path owns what the collapse guard
    // dropped — every non-min member maps to vec 0
    val dups = Similarity.embeddingNearDuplicates(emb)
    assert(dups.count() == m - 1)
    assert(dups.agg(max(col("dup_of")), min(col("dup_of"))).collect()(0)
      .toSeq == Seq(0L, 0L))
    // contamination stop-shingle guard by DEFAULT: a bench doc made
    // only of corpus-boilerplate shingles (df > defaultMaxShingleDf)
    // is not flagged; a genuinely embedded bench item still is
    val df = TextDedup.defaultMaxShingleDf + 1
    val train = spark.range(df).select(col("id").cast("long").as("doc_id"),
      concat(lit("the quick brown fox unique"), col("id"),
        lit(" tail"), col("id")).as("text"))
      .unionByName(spark.createDataFrame(Seq(
        (8000L, "preamble words here rare benchmark question about columnar shuffles exactly trailing content"))).toDF("doc_id", "text"))
    val bench = spark.createDataFrame(Seq(
      (5000L, "the quick brown fox"), // all shingles are stop-shingles
      (5001L, "rare benchmark question about columnar shuffles exactly"))).toDF("doc_id", "text")
    val hits = TextDedup.contamination(train, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((5001L, 8000L)))
  }

  test("contamination: cross-corpus containment flags embedded benchmark items") {
    val bench = spark.createDataFrame(Seq(
      (1000L, "what is the capital of france and when was it founded exactly"),
      (1001L, "unrelated benchmark question about graph algorithms and their complexity bounds")))
      .toDF("doc_id", "text")
    val train = spark.createDataFrame(Seq(
      // embeds benchmark 1000 verbatim inside a longer doc → Jaccard is
      // low but containment is 1.0: must flag
      (1L, "some preamble text goes here before the leak " +
        "what is the capital of france and when was it founded exactly " +
        "and then the document continues with much more trailing content afterwards"),
      (2L, "completely unrelated training document about cooking pasta al dente"))
    ).toDF("doc_id", "text")
    val hits = TextDedup.contamination(train, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1000L, 1L)))
    // the same pair fails a self-join Jaccard near-dup test — the
    // containment metric is the point
    val j = TextDedup.nearDuplicates(train.unionByName(bench))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!j.contains((1L, 1000L)) && !j.contains((1000L, 1L)))
  }

  test("simhash: identical docs have hamming 0; near-dups flagged") {
    val pairs = TextDedup.simhashNearDuplicates(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((0L, 1L)) == 0L)
  }

  test("hub star preserves cluster-level recall on an over-cap templated cluster") {
    import spark.implicits._
    // a 30-member TEMPLATED cluster (shared 40-token body, one unique
    // trailing token each — near-identical but NOT byte-identical, so
    // exact dedup does not own it; pairwise Jaccard ~0.9) plus
    // unrelated docs. maxBucket=10 puts the cluster's shared band
    // buckets far over cap.
    val body = (1 to 40).map(t => s"tmpl${t * 17}").mkString(" ")
    val cluster = (100L to 129L).map(i => (i, s"$body extra$i"))
    val others = (0L until 5L).map(i =>
      (i, (1 to 40).map(t => s"other${i}x${t * 31}").mkString(" ")))
    val docs = (cluster ++ others).toDF("doc_id", "text")
    val nd = TextDedup.nearDuplicates(docs, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // contract part 1 — cluster recall through the hub: every member
    // is Jaccard-linked to the min-id hub (100), so a dedup sweep maps
    // the whole cluster to one representative
    val missing = (101L to 129L).filterNot(m => nd.contains((100L, m)))
    assert(missing.isEmpty, s"members not linked to hub: $missing")
    // contract part 2 — the pair list is the O(B) star, not the
    // B(B-1)/2 quadratic: far fewer pairs than the full clique
    assert(nd.size < 200, s"expected ~star-sized pair list, got ${nd.size}")
    // contract part 3 — transitive closure unifies the cluster: a
    // driver-side union-find over the pair list (30 nodes) yields one
    // component holding every member
    val parent = scala.collection.mutable.Map((100L to 129L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    nd.foreach { case (a, b) =>
      if (parent.contains(a) && parent.contains(b)) parent(find(a)) = find(b) }
    assert((100L to 129L).map(find).toSet.size == 1,
      "cluster must be one component via the hub star")
    // no unrelated doc leaks into the cluster's pairs (a < b, and the
    // unrelated ids 0-4 are the smallest, so they'd appear as `a`)
    assert(!nd.exists(_._1 < 100L))
  }

  test("simhash block-combination banding is recall-complete at every blocks setting") {
    import spark.implicits._
    // a corpus with planted near-dup structure: pairs (2i, 2i+1) share
    // a body and differ by one trailing token — simhash Hamming is
    // small but varied; plus unrelated docs with distinct bodies
    val corpus = (0L until 60L).map { i =>
      val body = (1 to 40).map(t => s"tok${(i / 2) * 997 + t * 131}").mkString(" ")
      (i, s"$body tail${i * 31}")
    }.toDF("doc_id", "text")
    // ground truth: brute-force all-pairs Hamming from the simhash frame
    val shd = TextDedup.simhash(corpus).cache()
    val sh = shd.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3
    } yield ((a, b), h.toLong)).toMap
    assert(truth.nonEmpty, "fixture must contain Hamming<=3 pairs")
    // every blocks setting that satisfies the pigeonhole must produce
    // EXACTLY the truth set — blocks=4 is the legacy single-block
    // banding, blocks=6 the scale default, blocks=10 the next tier up
    // blocks=10 runs with the codegen fallback off, so a generated
    // method past Janino's 64 KB limit fails the case instead of
    // silently running interpreted
    val fallback = "spark.sql.codegen.fallback"
    for (blocks <- Seq(4, 6, 10)) {
      val prev = spark.conf.get(fallback)
      if (blocks == 10) spark.conf.set(fallback, "false")
      val got = try TextDedup.simhashNearDuplicates(corpus, blocks = blocks).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      finally spark.conf.set(fallback, prev)
      assert(got == truth, s"blocks=$blocks must match brute force")
    }
    // structural candidate volume SHRINKS as blocks grow (bigger keys,
    // same recall) — the whole point of the multi-table scheme
    val cand4 = TextDedup.simhashCandidates(shd, 3, 4).count()
    val cand6 = TextDedup.simhashCandidates(shd, 3, 6).count()
    assert(cand6 <= cand4, s"blocks=6 candidates ($cand6) must not exceed blocks=4 ($cand4)")
    shd.unpersist()
    // invalid parameterizations refuse loudly
    intercept[IllegalArgumentException](
      TextDedup.simhashNearDuplicates(corpus, maxHamming = 4, blocks = 4))
    intercept[IllegalArgumentException](
      TextDedup.simhashNearDuplicates(corpus, blocks = 7))
  }

  test("fingerprint is deterministic and subset-stable") {
    val fp1 = TextDedup.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fp2 = TextDedup.fingerprint(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fp1 == fp2)
    // exact dups share their full fingerprint set
    val f0 = fp1.filter(_._1 == 0L).map(_._2)
    val f1 = fp1.filter(_._1 == 1L).map(_._2)
    assert(f0 == f1)
  }

  test("text stats: counts and stopword ratio") {
    val s = TextStats.stats(docs).filter(col("doc_id") === 0L).collect()(0)
    assert(s.getAs[Long]("n_tokens") == 15L)
    assert(s.getAs[Long]("n_uniq") == 13L) // 'the' x3
    assert(s.getAs[Long]("stop_pct") == 20L) // 3 of 15 tokens are stopwords
  }

  test("language id votes en for english stopword text") {
    val l = TextStats.langId(docs).filter(col("doc_id") === 0L).collect()(0)
    assert(l.getAs[String]("lang_pred") == "en")
  }

  test("term frequencies: tf per doc, df across docs") {
    val r = TextStats.termFrequencies(docs).collect()
      .map(x => (x.getLong(0), x.getString(1)) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r((0L, "the")) == ((3L, 3L))) // 3x in doc 0; docs 0,1,2 contain it
    assert(r((5L, "short")) == ((1L, 1L)))
  }

  test("bpe token count splits alpha/digit/punct runs") {
    val one = spark.createDataFrame(Seq((9L, "abc12 d!e"))).toDF("doc_id", "text")
    val n = TextStats.bpeTokenCount(one).collect()(0).getAs[Long]("n_bpe")
    assert(n == 5L) // abc | 12 | d | ! | e
  }

  private lazy val vecs = {
    // 8-dim: 0 and 1 nearly parallel; 2 orthogonal; 3 anti-parallel
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)),
      (1L, Array(0.99f, 0.01f, 0f, 0f, 1.01f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f)),
      (3L, Array(-1f, 0f, 0f, 0f, -1f, 0f, 0f, 0f)))
    spark.createDataFrame(rows).toDF("vec_id", "embedding")
  }

  test("brute-force top-k ranks the parallel vector first") {
    val r = Similarity.bruteForceTopK(vecs, nQueries = 1L, k = 2)
      .orderBy("rank").collect()
    assert(r(0).getAs[Long]("n") == 1L) // most similar to 0 is 1
  }

  test("LSH ANN finds the near-parallel pair with a bucketed join") {
    val pairs = Similarity.annPairs(vecs, simMilli = 900, bands = 4,
      rowsPerBand = 2, dims = 8).collect()
    val ab = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ab.contains((0L, 1L)))
    assert(!ab.exists { case (a, b) => a == 2L || b == 2L })
    // and no plan node is a cartesian product (the plan that ran — the
    // returned checkpoint's own plan would hide the joins)
    val plan = executedPlans(Similarity.annPairs(vecs, 900, 4, 2,
      dims = 8)).mkString("\n")
    assert(!plan.contains("CartesianProduct"))
  }

  test("dedup clusters: transitive closure beyond direct pairs") {
    // 0~1 and 1~2 are near-dups (one token apart); 0~2 differ by two
    // tokens and fall below the 70% Jaccard bar — only the closure
    // puts all three in one cluster labeled by the min id
    val base = (1 to 30).map(i => s"t$i")
    val docs = spark.createDataFrame(Seq(
      (0L, base.mkString(" ")),
      (1L, base.updated(9, "x").mkString(" ")),
      (2L, base.updated(9, "x").updated(19, "y").mkString(" ")))).toDF("doc_id", "text")
    val pairs = TextDedup.nearDuplicates(docs)
    val ab = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ab == Set((0L, 1L), (1L, 2L)))
    val labels = graft.algo.PregelCC.connectedComponents(
      graft.core.GrbMatrix.fromDF(
        pairs.select(col("a").as("i"), col("b").as("j"),
          org.apache.spark.sql.functions.lit(1L).as("v")), 3L, 3L))
      .toValues.map { case (i, v) => i -> v.asInstanceOf[Long] }.toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("jaccardNearDuplicates equals a driver-side exact Jaccard scan") {
    // 20 docs: pairs (2i, 2i+1) one token apart (J = 29/31 ≈ 0.935 on
    // 3-shingles ≥ 0.7 bar); everything else shares nothing
    val base = (1 to 32).map(i => s"w${i}")
    val docs = spark.createDataFrame((0L until 20L).map { i =>
      val toks = if (i % 2 == 0) base else base.updated(15, s"u${i / 2}")
      (i, toks.map(t => s"g${i / 2}_$t").mkString(" "))
    }).toDF("doc_id", "text")
    val got = TextDedup.jaccardNearDuplicates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side truth: exact Jaccard over all pairs
    def sh(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val all = docs.collect().map(r => (r.getLong(0), sh(r.getString(1))))
    val want = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      inter = (sa & sb).size; uni = (sa | sb).size
      if inter * 10 >= uni * 7
    } yield (a, b)).toSet
    assert(want.nonEmpty && got == want)
    // the stop-shingle cap prunes candidate GENERATION only: with a
    // tiny cap every shared shingle (df = 2 per planted pair... > 1)
    // survives df <= 2, and disabling the cap changes nothing here
    val uncapped = TextDedup.jaccardNearDuplicates(docs, maxShingleDf = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == want)
  }

  test("jaccard over-cap shingles still count toward inter (cap prunes generation only)") {
    // 10 docs = 12 boilerplate tokens shared by ALL (shingle df = 10,
    // over a cap of 3) + a 12-token section shared within each pair
    // (df = 2, sub-cap — makes the pair a candidate) + 2 unique tail
    // tokens. The planted pairs pass the 0.7 bar ONLY when the
    // over-cap boilerplate shingles count toward inter — the sub-cap
    // intersection alone fails it (asserted below), so this pins the
    // two-part inter (candidate-join count + over-cap correction).
    val boiler = (1 to 12).map(i => s"b$i")
    val docs = spark.createDataFrame((0L until 10L).map { i =>
      val section = (1 to 12).map(t => s"s${i / 2}_$t")
      val tail = Seq(s"u${i}_x", s"u${i}_y")
      (i, (boiler ++ section ++ tail).mkString(" "))
    }).toDF("doc_id", "text")
    val got = TextDedup.jaccardNearDuplicates(docs, maxShingleDf = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def sh(text: String): Set[String] =
      text.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val all = docs.collect().map(r => (r.getLong(0), sh(r.getString(1))))
    val dfm = all.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val want = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      shared = sa & sb
      if shared.exists(s => dfm(s) <= 3) // candidate contract: ≥1 sub-cap
      inter = shared.size; uni = (sa | sb).size
      if inter * 10 >= uni * 7 // FULL-set Jaccard, over-cap included
    } yield (a, b, inter.toLong, uni.toLong)).toSet
    assert(want.nonEmpty && got == want, s"got=$got want=$want")
    // the over-cap correction must be decisive here: no pair passes
    // the bar on its sub-cap intersection alone
    val subOnly = (for {
      (a, sa) <- all; (b, sb) <- all if a < b
      shared = (sa & sb).filter(s => dfm(s) <= 3) if shared.nonEmpty
      uni = (sa | sb).size if shared.size * 10 >= uni * 7
    } yield (a, b)).toSet
    assert(subOnly.isEmpty, "test graph must make the over-cap term decisive")
  }

  test("embedding near-dup sweep maps the duplicate to its min-id representative") {
    // (0,1) is the only verified pair at 900‰ — so 1 is the sole
    // duplicate and its representative is 0; survivors (0, 2, 3)
    // never appear in the output
    val r = Similarity.embeddingNearDuplicates(vecs, simMilli = 900,
      bands = 4, rowsPerBand = 2, dims = 8).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("vec_id") == 1L)
    assert(r(0).getAs[Long]("dup_of") == 0L)
    assert(r(0).getAs[Long]("n_dups") == 1L)
  }

  test("exactPairs links identical-embedding stars, including zero vectors") {
    // two identical non-zero vectors (1, 3), two zero vectors (2, 4) —
    // zero vectors have NaN cosine so the LSH-verified path can never
    // link them; the exact path must
    val emb = spark.createDataFrame(Seq(
      (1L, Seq(0.5f, 0.25f)), (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(0.5f, 0.25f)), (4L, Seq(0.0f, 0.0f)),
      (5L, Seq(0.9f, 0.1f)))).toDF("vec_id", "embedding")
    val ex = Similarity.exactPairs(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ex == Set((1L, 3L), (2L, 4L)))
    val dups = Similarity.embeddingNearDuplicates(emb, simMilli = 990, dims = 2)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"))).toSet
    assert(dups.contains((3L, 1L)) && dups.contains((4L, 2L)))
  }

  test("repetition signals: top-bigram and duplicate-trigram shares are exact floor-ppm") {
    val rep = spark.createDataFrame(Seq(
      (0L, "a b a b a b"), // bigrams: 'a b'×3, 'b a'×2 → top 3/5; trigrams all dup → 4/4
      (1L, "x y z w"),     // all distinct: top 1/3; dup 0/2
      (2L, "q r")          // bigram but NO trigram → absent from output
    )).toDF("doc_id", "text")
    val got = TextStats.repetition(rep).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      0L -> ((600000L, 1000000L)),
      1L -> ((333333L, 0L))))
  }

  test("semantic clusters: nearDupPairs closure groups cosine AND exact links transitively") {
    // vecs ∪ an exact copy of vector 1 (id 4): the LSH-verified path
    // links (0,1) at 900‰ and the exact star links (1,4) — the
    // closure must label {0, 1, 4} with min-id 0 even though no
    // single pair source connects all three; 2 and 3 stay apart
    val emb = vecs.unionByName(vecs.sparkSession.createDataFrame(Seq(
      (4L, Array(0.99f, 0.01f, 0f, 0f, 1.01f, 0f, 0f, 0f))))
      .toDF("vec_id", "embedding"))
    val pairs = Similarity.nearDupPairs(emb, simMilli = 900,
      bands = 4, rowsPerBand = 2, dims = 8)
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps.contains((0L, 1L)) && ps.contains((1L, 4L)))
    assert(!ps.exists { case (a, b) => a == 2L || b == 2L || a == 3L || b == 3L })
    val edges = pairs.select(col("a").as("i"), col("b").as("j"),
      lit(1L).as("v"))
    val labels = graft.algo.PregelCC.connectedComponents(
      graft.core.GrbMatrix.fromDF(edges, 5L, 5L)).toValues
      .map { case (i, v) => i -> v.asInstanceOf[Long] }.toMap
    assert(labels(0L) == 0L && labels(1L) == 0L && labels(4L) == 0L)
  }

  test("knn graph: near pair is a mutual edge; mutual flags are exactly the symmetric edges") {
    val g = Similarity.knnGraph(vecs, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val edges = g.map { case (a, b, _, _) => (a, b) }.toSet
    // k=1: at most one out-edge per vector
    assert(g.groupBy(_._1).values.forall(_.length == 1))
    // the near-parallel pair finds each other → mutual both ways
    assert(edges.contains((0L, 1L)) && edges.contains((1L, 0L)))
    // mutual flag == presence of the reverse edge, for every edge
    g.foreach { case (a, b, _, m) =>
      assert((m == 1L) == edges.contains((b, a)), s"edge ($a,$b) mutual=$m")
    }
    assert(g.find(e => e._1 == 0L && e._2 == 1L).get._4 == 1L)
  }

  test("IVF ANN finds the near-parallel pair within a cell; never all-pairs") {
    // k=2 makes 0 and 1 their own centroids (separate cells) — the
    // 2nd probe is what catches the cross-cell boundary pair
    val pairs = Similarity.ivfPairs(vecs, simMilli = 900, k = 2, probes = 2).collect()
    val ab = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ab.contains((0L, 1L)))
    assert(!ab.exists { case (a, b) => a == 2L || b == 2L })
    val plan = executedPlans(Similarity.ivfPairs(vecs, 900, 2, 2)).mkString("\n")
    // the k-row centroid crossJoin is an intentional broadcast; the
    // CANDIDATE join must be the cell-key equi-join (no n x n product)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("ivfTopK: probed-cell search agrees with brute force on clustered vectors") {
    // 60 vectors in 3 well-separated clusters (axes 0, 1, 2 of 8 dims,
    // small deterministic jitter on a non-cluster axis): any sane cell
    // split keeps clusters together, so the probed-cells search must
    // reproduce brute force exactly at k=3 for within-cluster queries
    val rows = (0L until 60L).map { i =>
      val c = (i % 3).toInt
      val v = Array.fill(8)(0f)
      v(c) = 1f
      v(4 + c) = ((i / 3) % 7).toFloat / 100f
      (i, v)
    }
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(emb, nQueries = 6L, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, nQueries = 6L, k = 3, kCells = 3, probes = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ivf == brute)
    // candidate generation goes through the cell equi-join, not a
    // queries x corpus product (the broadcast exchanges are the k-row
    // centroid table and the small query side — never the corpus)
    val plan = executedPlans(Similarity.ivfTopK(emb, nQueries = 6L, k = 3,
      kCells = 3, probes = 1)).mkString("\n")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("Window"))
  }

  test("QuantizedDot: values, length mismatch -> null, null input -> null") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(LongType), nullable = true),
      StructField("b", ArrayType(LongType), nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      Row(Seq(1L, 2L), Seq(1L, 2L, 3L)),
      Row(null, Seq(1L)))
    val df = spark.createDataFrame(rows, schema)
    val out = df.select(org.apache.spark.sql.graft.QuantizedDot(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(out.toSeq == Seq(Some(32L), None, None))
  }

  test("funnel: strict ordering — a purchase before the first view never converts") {
    val ns = 1000000000L
    val ev = spark.createDataFrame(Seq(
      (1L, 10L * ns, 1L, "view", 0.0), (2L, 20L * ns, 1L, "click", 0.0),
      (3L, 30L * ns, 1L, "purchase", 0.0),
      // user 2 purchased BEFORE viewing: stages 1-2 pass, 3 must not
      (4L, 5L * ns, 2L, "purchase", 0.0), (5L, 10L * ns, 2L, "view", 0.0),
      (6L, 20L * ns, 2L, "click", 0.0),
      // user 3 only clicks: no stage converts
      (7L, 10L * ns, 3L, "click", 0.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.funnel(ev).collect()
      .map(x => x.getAs[Long]("stage") -> x.getAs[Long]("n_users")).toMap
    assert(r === Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
  }

  test("retention: cohort by first-seen day, offsets count returning users") {
    val day = 86400L * 1000000000L
    val ev = spark.createDataFrame(Seq(
      (1L, 0L, 1L, "click", 0.0), (2L, 2L * day, 1L, "click", 0.0),
      (3L, 10L, 2L, "view", 0.0),
      (4L, 1L * day, 3L, "click", 0.0), (5L, 1L * day + 10L, 3L, "view", 0.0)))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Events.retention(ev).collect()
      .map(x => (x.getAs[Long]("cohort_day"), x.getAs[Long]("offset_days")) ->
        x.getAs[Long]("n_users")).toMap
    // users 1+2 cohort day 0 (u1 returns at offset 2); user 3 cohort day 1
    assert(r === Map((0L, 0L) -> 2L, (0L, 2L) -> 1L, (1L, 0L) -> 1L))
  }

  test("sessionize splits on gap, counts events") {
    val ev = spark.createDataFrame(Seq(
      (1L, 100L * 1000000000L, 7L), // epoch-ns longs (nanosAsLong shape)
      (2L, 200L * 1000000000L, 7L),
      (3L, 5000L * 1000000000L, 7L), // > 1800s gap -> new session
      (4L, 100L * 1000000000L, 8L)))
      .toDF("event_id", "ts", "user_id")
    val r = Events.sessionize(ev).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(r(7L) == ((3L, 2L)))
    assert(r(8L) == ((1L, 1L)))
  }

  test("multimodal: header decode, frame sampling, batched features") {
    val assets = Multimodal.syntheticAssets(spark, 10L)
    val meta = Multimodal.decodeMeta(assets).collect()
    assert(meta.length == 10 && meta.forall(_.getAs[Boolean]("valid")))
    val m3 = meta.find(_.getLong(0) == 3L).get
    assert(m3.getAs[Long]("width") == 7L && m3.getAs[Long]("n_frames") == 4L)
    val frames = Multimodal.frameSample(assets, everyN = 2)
    val f = frames.filter(col("asset_id") === 3L).collect()
    assert(f.length == 2) // frames 0, 2 of 4
    assert(f.forall(_.getAs[Array[Byte]]("frame_bytes").length == Multimodal.FrameSize))
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length == 10)
    assert(feats.forall(_.getAs[Seq[Float]]("features").length == 8))
    // deterministic across runs
    val feats2 = Multimodal.extractFeatures(assets).collect()
    assert(feats.map(_.toString).sorted.sameElements(feats2.map(_.toString).sorted))
  }

  test("stratified sample equals the window ranking incl. duplicate-text ties") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1L to 60L).map { i =>
      val lang = if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "fr"
      // duplicate texts across ids exercise the doc_id tie-break
      (i, lang, s"text body ${i % 20}")
    }
    val df = spark.createDataFrame(rows).toDF("doc_id", "lang", "text")
      .repartition(5)
    val got = Sampling.stratifiedSample(df, "lang", col("text"), 7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val w = Window.partitionBy("lang")
      .orderBy(TextDedup.hash32(col("text")).asc, col("doc_id").asc)
    val want = df.select(col("lang"), col("doc_id"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= 7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.size === 21) // 7 per stratum, 3 strata
  }

  test("length quantiles are exact rank statistics (no interpolation)") {
    // source "a": lengths 10..100 step 10 (n=10): ceil(p*n) ranks
    // 3,5,8,10 -> 30,50,80,100; max 100
    val rows = (1L to 10L).map(i => (i, "a", i * 10L)) ++
      Seq((100L, "b", 7L)) ++ // singleton stratum: every quantile = 7
      // duplicated lengths: the histogram path must land rank targets
      // 1,2,3 inside the cum-count span of value 5 and rank 4 on 9
      Seq((201L, "c", 5L), (202L, "c", 5L), (203L, "c", 5L), (204L, "c", 9L))
    val df = spark.createDataFrame(rows).toDF("doc_id", "source", "n_chars")
      .repartition(3)
    val got = TextStats.lengthQuantiles(df).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got("a") === ((10L, 30L, 50L, 80L, 100L, 100L)))
    assert(got("b") === ((1L, 7L, 7L, 7L, 7L, 7L)))
    assert(got("c") === ((4L, 5L, 5L, 5L, 9L, 9L)))
  }

  test("weighted sample equals the hash/weight window ranking and biases toward weight") {
    import org.apache.spark.sql.expressions.Window
    val rows = (1L to 80L).map { i =>
      val src = if (i % 2 == 0) "web" else "book"
      // duplicate texts exercise the doc_id tie-break; weights vary 1..2000
      val w = if (i <= 40) 1L else 2000L
      (i, src, s"text body ${i % 25}", w)
    }
    val df = spark.createDataFrame(rows)
      .toDF("doc_id", "source", "text", "n_chars").repartition(5)
    val got = Sampling.weightedSample(df, "source", col("text"), col("n_chars"), 9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val pri = TextDedup.hash32(col("text")).cast("double") /
      greatest(col("n_chars"), lit(1L)).cast("double")
    val w = Window.partitionBy("source").orderBy(pri.asc, col("doc_id").asc)
    val want = df.select(col("source"), col("doc_id"),
        row_number().over(w).cast("long").as("rank"))
      .filter(col("rank") <= 9).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.size === 18)
    // bias check: heavy rows (ids 41..80, weight 2000 vs 1) should
    // dominate the draw — h/2000 beats h/1 except for tiny hashes
    val heavy = got.count(_._2 > 40)
    assert(heavy >= 14, s"expected heavy-weight dominance, got $heavy/18")
  }

  test("rarity score matches hand-computed corpus-frequency ppm") {
    // corpus: a×2, b×2, c×1, total 5 → ppm a=400000 b=400000 c=200000
    val rows = Seq((1L, "a a b"), (2L, "b c"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text").repartition(2)
    val got = TextStats.rarityScore(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === ((3L, 400000L, 400000L))) // (2·400000+400000)/3
    assert(got(2L) === ((2L, 300000L, 200000L))) // (400000+200000)/2, min c
  }

  test("quality filter signals and verdict match hand computation") {
    val good = (1 to 10).map(i => s"the item$i of batch$i count$i").mkString(" ") // 50 toks, stopwords, all bigrams distinct
    val spammy = ("spam " * 30).trim                                           // top_tok_pct = 100
    val noStop = (1 to 25).map(i => s"word$i").mkString(" ")                   // zero stopwords
    val short = "the tiny one"                                                 // under min tokens
    val rows = Seq((0L, good), (1L, spammy), (2L, noStop), (3L, short))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text").repartition(3)
    val got = TextStats.qualityFilter(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(0L).getAs[Long]("n_tokens") === 50L)
    assert(got(0L).getAs[Long]("n_stop_distinct") === 2L) // the, of
    assert(got(0L).getAs[Long]("keep") === 1L)
    assert(got(1L).getAs[Long]("top_tok_pct") === 100L)
    assert(got(1L).getAs[Long]("dup_2gram_pct") === 96L) // 28 of 29 bigrams are repeats
    assert(got(1L).getAs[Long]("keep") === 0L)
    assert(got(2L).getAs[Long]("n_stop_distinct") === 0L)
    assert(got(2L).getAs[Long]("keep") === 0L)
    assert(got(3L).getAs[Long]("n_tokens") === 3L)
    assert(got(3L).getAs[Long]("keep") === 0L)
  }

  test("dup-ngram fraction counts shingles shared with other docs") {
    // docs 0/1 share their full shingle set; doc 2 overlaps doc 0 on a
    // 5-token prefix (3 shared shingles); doc 3 is disjoint
    val rows = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon other words here"),
      (3L, "totally unrelated content about storage engines"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text").repartition(2)
    val got = TextDedup.dupNgramStats(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) === ((4L, 4L, 100L))) // all 4 shingles appear in 1 and/or 2
    assert(got(1L) === ((4L, 4L, 100L)))
    assert(got(2L) === ((6L, 3L, 50L))) // 3 prefix shingles shared with 0/1
    assert(got(3L) === ((4L, 0L, 0L)))
  }

  test("topK cost model: no crossover below the per-query floor, ~4.5k at n=50k, auto path = brute") {
    import graft.pipeline.Similarity.TopKCost
    // tiny corpora: IVF's per-candidate cost exceeds brute's per-row
    // cost at every q — crossoverQ reports "brute always"
    assert(TopKCost.crossoverQ(1000L, 2) == -1L)
    // the calibrated point: crossover near 4.5k queries at n=50k
    val c = TopKCost.crossoverQ(50000L, 2)
    assert(c > 3000L && c < 7000L, s"crossover $c")
    // the one engine decision picks on each side of it, at the
    // calibrated points: q=892 → brute, q=12500 → IVF
    assert(TopKCost.bruteWins(50000L, 892L, 2))
    assert(!TopKCost.bruteWins(50000L, 12500L, 2))
    // below the floor brute wins at every q
    assert(TopKCost.bruteWins(1000L, 1000L, 2))
    // the auto path at bench shape (small q) returns the exact result
    val emb = spark.range(200).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 7), d -> float((pmod(hash(id * 31 + d), 200) - 100) / 100.0))")
        .as("embedding"))
    val auto = graft.pipeline.Similarity.topK(emb, 5L, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = graft.pipeline.Similarity.bruteForceTopK(emb, 5L, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == brute)
  }

  test("mix plan: equal share, ppm cap for under-represented sources") {
    // src_a: 40 tokens, src_b: 4 tokens; budget 40 over 2 sources = 20
    val rows = Seq(
      (0L, "src_a", (1 to 40).map(i => s"t$i").mkString(" ")),
      (1L, "src_b", "one two three four"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "source", "text")
    val got = Sampling.mixPlan(df, 40L).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("src_a") === ((40L, 20L, 500000L))) // down-sampled to half
    assert(got("src_b") === ((4L, 20L, 1000000L))) // taken whole (capped)
  }
}
