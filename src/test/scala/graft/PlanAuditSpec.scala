package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.pipeline._

/** Plan-shape audit: the properties that decide whether an operator
  * survives a 100× scale-up, asserted on explain() output so a
  * regression turns the suite red (round-1 verdict items 3-5).
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** the executed plans of every action `body` ran (a checkpointing
    * operator runs its plan when called) */
  private def ran(body: => Any): String = executedPlans(body).mkString("\n")

  private lazy val vec = GrbVector.fromValues(spark,
    (0L until 100L).map(i => (i, i: Any)), GrbType.INT64, 1000000000000L)

  test("extract(All) is identity — no join, no spark.range build side") {
    val p = plan(vec.extract(Ix.All).df)
    assert(!p.toLowerCase.contains("join"))
    assert(!p.contains("Range (0"))
  }

  test("extract(Range) is filter + arithmetic reindex — no join") {
    val p = plan(vec.extract(Ix.Range(10L, 1000000L, 7L)).df)
    assert(!p.toLowerCase.contains("join"))
  }

  test("scalar Range fill is a generated range — no join, no dedup agg") {
    // an unmasked scalar fill of a range is semantically dense (the
    // result HAS those rows); what must not happen is a join or a
    // duplicate-elimination aggregate over the generated keys
    val upd = vec.assign(Ix.Range(0L, 1000000000L, 1L), Left(lit(5L)))
    val p = plan(upd.df)
    assert(!p.contains("CartesianProduct"))
    assert(!p.toLowerCase.contains("join"))
    assert(!p.contains("HashAggregate"), "no dedup over a dup-free index")
  }

  test("vector assign into a Range region reindexes arithmetically — no join") {
    val small = GrbVector.fromValues(spark,
      (0L until 10L).map(i => (i, i: Any)), GrbType.INT64, 10L)
    val p = plan(vec.assign(Ix.Range(100L, 200L, 10L), Right(small)).df)
    assert(!p.toLowerCase.contains("join"))
  }

  test("masked scalar fill enumerates mask keys, not the region") {
    val mask = Mask.structural(GrbVector.fromValues(spark,
      Seq((5L, 1L: Any), (7L, 1L: Any)), GrbType.INT64, 1000000000000L).df)
    val upd = vec.assign(Ix.Range(0L, 1000000000L, 1L), Left(lit(5L)),
      Desc(mask = Some(mask)))
    val p = plan(upd.df)
    assert(!p.contains("Range (0, 1000000000"), "mask keys, not dense region")
  }

  test("mxv broadcasts the vector side by default") {
    val m = GrbMatrix.fromValues(spark,
      (0L until 50L).map(i => (i, (i * 7) % 50L, 1L: Any)), GrbType.INT64, 50L, 50L)
    val v = GrbVector.fromValues(spark, (0L until 50L).map(i => (i, 1L: Any)),
      GrbType.INT64, 50L)
    assert(plan(m.mxv(v, Ops.plusTimes).df).contains("BroadcastHashJoin"))
  }

  test("matrix COO parquet scan prunes to the selected columns") {
    val dir = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("i"), col("l_partkey").as("j"),
        col("l_quantity").cast("long").as("v"))
    val m = GrbMatrix.fromDF(df, 10000L, 10000L, dupAgg = Some(c => sum(c)))
    val p = plan(m.df)
    assert(p.contains("l_orderkey") && p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "scan must prune unused columns")
  }

  test("filter pushdown reaches the parquet scan") {
    val dir = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") < 60)
      .select(col("l_orderkey"), col("l_partkey"))
    assert(plan(df).contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,60)]"))
  }

  test("dedup + similarity candidate generation is bucketed, never all-pairs") {
    val docs = spark.createDataFrame(Seq(
      (0L, "a b c d e"), (1L, "a b c d f"))).toDF("doc_id", "text")
    assert(!plan(TextDedup.lshCandidates(docs)).contains("CartesianProduct"))
    assert(!plan(TextDedup.simhashNearDuplicates(docs)).contains("CartesianProduct"))
    val vecs = spark.createDataFrame(Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)))).toDF("vec_id", "embedding")
    assert(!ran(Similarity.annPairs(vecs, dims = 2))
      .contains("CartesianProduct"))
    // contamination: shingle equi-join across corpora, never bench×train
    assert(!ran(TextDedup.contamination(docs, docs))
      .contains("CartesianProduct"))
  }

  test("quality/duplication/mix-plan stay pruned, equi-joined, broadcast-attached") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // quality filter: scan prunes to (doc_id, text); join back is an
    // equi-join on doc_id, never a cartesian
    val pq = plan(TextStats.qualityFilter(docs))
    assert(pq.contains("ReadSchema") && !pq.contains("n_chars"),
      "quality filter must prune unused document columns")
    assert(!pq.contains("CartesianProduct"))
    // dup-ngram fraction: df equi-join on the shingle, no pairing
    val pd = ran(TextDedup.dupNgramStats(docs))
    assert(!pd.contains("CartesianProduct"))
    assert(!pd.contains("lang"), "dup-ngram scan must prune to doc_id/text")
    // mix plan: the only cross join is the broadcast 1-row count attach
    val pm = plan(Sampling.mixPlan(docs, 10000L))
    assert(pm.contains("BroadcastNestedLoopJoin") || pm.contains("BroadcastExchange"))
    assert(!pm.contains("CartesianProduct"))
  }

  test("round-9 operators stay equi-joined, never cartesian") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // incremental dedup: digest equi-joins only
    assert(!plan(TextDedup.incrementalDedup(
      docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0)))
      .contains("CartesianProduct"))
    // dup spans: shingle-df equi-join + per-doc window, no pairing
    val pspan = plan(TextDedup.dupSpans(docs))
    assert(!pspan.contains("CartesianProduct"))
    assert(!pspan.contains("lang"), "dup-span scan must prune to doc_id/text")
    // packing manifest: one window, no join at all
    val ppack = plan(Sampling.seqPack(docs))
    assert(!ppack.contains("Join"), s"seqPack should plan joinless:\n$ppack")
    // label outliers: centroid attach is a broadcast equi-join
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pout = plan(Similarity.labelOutliers(emb))
    assert(!pout.contains("CartesianProduct"))
    assert(pout.contains("BroadcastExchange") || pout.contains("BroadcastHashJoin"),
      "label centroids should broadcast")
  }

  test("round-10 operators: sketch states hash-aggregate, probes broadcast, scans stay narrow") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // CMS per-source states: the ONLY wide exchange carries 32 KiB
    // grids (ObjectHashAggregate partial), watchlist probe broadcasts
    val pcms = plan(Sketch.cmsTokenEstimates(docs))
    assert(pcms.contains("ObjectHashAggregate"), s"CMS should hash-aggregate grids:\n$pcms")
    assert(pcms.contains("BroadcastExchange"), "watchlist probe should broadcast")
    assert(!pcms.contains("CartesianProduct"))
    // bloom prefilter: the filter state broadcasts; no cartesian
    val pbloom = plan(TextDedup.bloomIncrementalDedup(
      docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0)))
    assert(pbloom.contains("BroadcastExchange") || pbloom.contains("BroadcastNestedLoopJoin"),
      "bloom state should broadcast")
    assert(!pbloom.contains("CartesianProduct"))
    // line dedup: digest equi-join, no pairing, scan pruned
    val pline = plan(TextDedup.lineDedupStats(docs))
    assert(!pline.contains("CartesianProduct"))
    assert(!pline.contains("lang"), "line-dedup scan must prune to doc_id/text")
    // PII scan: narrow per-row pass — no join, no exchange at all
    val ppii = plan(graft.pipeline.Pii.piiScan(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), "event_id", "props"))
    assert(!ppii.contains("Join"), s"PII scan should plan joinless:\n$ppii")
    assert(!ppii.contains("Exchange"), s"PII scan should plan shuffle-free:\n$ppii")
    // k-means: centroids broadcast each round, no cartesian materialization
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pkm = ran(Similarity.embedClusters(emb, k = 4, lloydRounds = 1))
    assert(pkm.contains("BroadcastExchange"), "k-means centroids should broadcast")
    // one MIS round: equi-joins + min aggregate, never cartesian
    val adj = docs.sparkSession.range(100)
      .select((col("id") % 17).as("i"), (col("id") % 23).as("j"))
      .filter(col("i") =!= col("j"))
    val act = adj.select(col("i").as("n")).distinct()
    val actB = act.select(col("n").as("nb"),
      concat(md5(col("n").cast("string")), lit("-"), col("n").cast("string")).as("bpk"))
    val nbmin = adj.join(act.select(col("n").as("ai")), col("i") === col("ai"), "leftsemi")
      .join(actB, col("j") === col("nb"))
      .groupBy(col("i")).agg(min(col("bpk")).as("mn"))
    assert(!plan(nbmin).contains("CartesianProduct"))
  }

  test("stream-static enrichment broadcasts the tier dim; clustering reduce stays equi-joined") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    // batch shape of the streaming enrichment: the dimension must
    // arrive by broadcast so the (streaming) fact side never shuffles
    // for the join
    val tiers = graft.streaming.EventsStream.activityTiers(events)
    val pe = plan(graft.streaming.EventsStream.enrichedTierTotals(events, tiers))
    assert(pe.contains("BroadcastExchange") || pe.contains("BroadcastHashJoin"),
      s"tier dimension should broadcast:\n$pe")
    assert(!pe.contains("CartesianProduct"))
    // clustering coefficient: the t2/deg vector join is an equi-join
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val a = GrbMatrix.fromValues(spark,
      sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 4L, 4L)
    val c = a.mxm(a, Ops.plusPair, mask = Some(Mask.structural(a.df)))
    val joined = a.reduceRowwise(Ops.plusMonoid).df.select(col("i"), col("v").as("deg"))
      .join(c.reduceRowwise(Ops.plusMonoid).df.select(col("i"), col("v").as("t2")),
        Seq("i"), "left")
    assert(!plan(joined).contains("CartesianProduct"))
  }

  test("funnel and retention stay window-free and equi-joined; vocabulary never ranks the tail") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val pf = plan(graft.pipeline.Events.funnel(events))
    assert(!pf.contains("Window"), "funnel must not sort the log per user")
    assert(!pf.contains("CartesianProduct"))
    val pr = plan(graft.pipeline.Events.retention(events))
    assert(!pr.contains("Window"))
    assert(!pr.contains("CartesianProduct"))
    // vocabulary: the only unpartitioned window runs over the cf
    // HISTOGRAM (post-aggregate), and the within-group window is
    // partitioned by cf — no window touches raw token occurrences
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pv = plan(TextStats.vocabulary(docs))
    assert(pv.contains("Window"), "vocabulary uses bounded windows")
    assert(!pv.contains("CartesianProduct") || pv.contains("BroadcastNestedLoopJoin"),
      "only the broadcast 1-row total may nested-loop")
  }

  test("minhash ledger probe: equi-join on (band, sig), never cartesian, scan pruned") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ledger = TextDedup.minhashLedger(docs.filter(col("doc_id") % 4 =!= 0))
    val p = plan(TextDedup.nearDupAgainstLedger(ledger,
      docs.filter(col("doc_id") % 4 === 0)))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("lang"), "ledger probe scan must prune to doc_id/text")
  }

  test("length quantiles shuffle the value histogram; weighted sample skips the rank window") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pq = plan(TextStats.lengthQuantiles(docs))
    // corpus rows are reduced map-side: the only corpus-wide exchange
    // hashes the (source, n_chars) histogram key, so the shuffle
    // carries distinct lengths — a full-row rank window would instead
    // range/hash-partition the document rows on source alone first
    val histExchange = pq.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning(source") && l.contains("n_chars"))
    assert(histExchange, s"expected a (source, n_chars) histogram exchange:\n$pq")
    assert(!pq.contains("text"), "quantile scan must prune to source/n_chars")
    // weighted sample: TopKPairs map-side truncation on the hash path,
    // not a row_number window over the ranked corpus
    val pw = plan(Sampling.weightedSample(docs, "source", col("text"),
      col("n_chars"), 9))
    assert(pw.contains("ObjectHashAggregate"), s"TopKPairs should hash-aggregate:\n$pw")
    assert(!pw.contains("Window"), "weighted draw must not rank the corpus")
  }

  test("one LPA round is an equi-join plus hash aggregates — no cartesian, no window") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val sym = edges ++ edges.map { case (a, b) => (b, a) }
    val a = GrbMatrix.fromValues(spark,
      sym.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 4L, 4L)
    val labels = a.df.select(col("i")).distinct()
      .select(col("i"), col("i").cast("long").as("v"))
    val p = plan(graft.algo.LabelProp.round(a.df.select(col("i"), col("j")), labels))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("Window"), "the vote arg-max is an aggregate, not a rank window")
    assert(p.toLowerCase.contains("join"), "the vote step is an adjacency equi-join")
  }

  test("graph traversals: BFS round and triangle count stay equi-join shaped") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val l = GrbMatrix.fromValues(spark,
      edges.map { case (i, j) => (i, j, 1L: Any) }, GrbType.INT64, 4L, 4L)
    // triangle: masked plus_pair product — join on the contracted key
    // + mask semi-join, never a cartesian expansion
    val tri = l.mxm(l, Ops.plusPair, mask = Some(Mask.structural(l.df)))
    assert(!plan(tri.df).contains("CartesianProduct"))
    // one BFS round (the loop body Iterate checkpoints): frontier ×
    // adjacency equi-join + hash agg only
    val f = GrbVector.fromValues(spark, Seq((0L, 0L: Any)), GrbType.INT64, 4L)
    val round = f.ewiseAdd(l.mxv(f, Ops.minPlus), Ops.min)
    assert(!plan(round.df).contains("CartesianProduct"))
  }

  test("round-11 operators: linkpred/repetition stay equi-joined; PPR teleport broadcasts") {
    // link prediction: ONE packed mxm — equi-join on the contraction
    // key + degree re-attach joins, never a cartesian pair expansion
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val sym = edges.flatMap { case (i, j) => Seq((i, j, 1L: Any), (j, i, 1L: Any)) }
    val a = GrbMatrix.fromValues(spark, sym, GrbType.INT64, 4L, 4L)
    val plp = plan(graft.algo.LinkPred.scores(a))
    assert(!plp.contains("CartesianProduct"))
    // PPR loop body: the one-row teleport attaches as a broadcast
    // ewise, the contribution path is equi-join + hash agg
    val seedv = GrbVector.fromValues(spark, Seq((0L, 1000000L: Any)), GrbType.INT64, 4L)
    val deg = a.reduceRowwise(Ops.plusMonoid)
    val body = a.mxv(seedv.ewiseMult(deg, Ops.floordiv), Ops.plusTimes, broadcastVec = false)
      .applyRight(Ops.times, lit(85L)).applyRight(Ops.floordiv, lit(100L))
      .ewiseAdd(seedv, Ops.plus)
    assert(!plan(body.df).contains("CartesianProduct"))
    // HITS normalize: the max bound is a broadcast ≤1-row scalar
    // attach, not a shuffled join or a window
    val hn = seedv.applyRight(Ops.times, lit(1000000L))
      .applyRightScalar(Ops.floordiv, seedv.reduce(Ops.maxMonoid))
    val phn = plan(hn.df)
    assert(phn.contains("BroadcastExchange") || phn.contains("BroadcastNestedLoopJoin"))
    assert(!phn.contains("Window"))
    // repetition: per-(doc, gram) hash aggregation — no window, no
    // cartesian, scan pruned to doc_id/text
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prep = plan(TextStats.repetition(docs))
    assert(!prep.contains("CartesianProduct"))
    assert(!prep.contains("Window"))
    assert(!prep.contains("lang"), "repetition scan must prune to doc_id/text")
  }

  test("walk corpus and skip-grams stay equi-joined; one Boruvka round has no cartesian") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val a = GrbMatrix.fromValues(spark,
      edges.flatMap { case (i, j) => Seq((i, j, 1L: Any), (j, i, 1L: Any)) },
      GrbType.INT64, 4L, 4L)
    val walks = graft.algo.RandomWalk.walks(a, steps = 2)
    assert(!plan(walks).contains("CartesianProduct"))
    val sg = plan(graft.algo.RandomWalk.skipGrams(walks))
    assert(!sg.contains("CartesianProduct"))
    assert(!sg.contains("Window"), "skip-grams are a join + agg, no window")
    // the adjacency rank must be hub-safe: the row_number window
    // partitions by (v, salt-subgroup) — never by v alone, which would
    // sort a power-law hub's whole edge list in one task. The only
    // single-key window allowed is the offset prefix-sum, whose input
    // is the (v, sg) COUNT frame (≤ rankSalts rows per vertex).
    val ranked = graft.algo.RandomWalk.rankedAdjacency(
      a.df.select(col("i").as("v"), col("j").as("nbr")))
    val wins = ranked.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        (w.partitionSpec.size, w.child.toString.contains("Aggregate"))
    }
    assert(wins.nonEmpty)
    wins.foreach { case (keys, overCounts) =>
      assert(keys == 2 || overCounts,
        s"single-key window over the raw edge list: $wins") }
    val ew = spark.createDataFrame(Seq((0L, 1L, 3L), (1L, 2L, 1L), (0L, 2L, 2L)))
      .toDF("a", "b", "w")
    assert(!plan(graft.algo.Msf.forest(ew, 4L)).contains("CartesianProduct"))
    // HyperANF: the returned frame is checkpoint scans (balls() runs
    // eagerly), so audit the ROUND BODY itself — the register union
    // must be an ObjectHashAggregate (the custom merge buffer does
    // map-side partials, the 256 B·nnz shuffle bound), equi-joined
    val adj = a.df.select(col("i").as("v"), col("j").as("nbr"))
    val st = adj.select(col("v")).distinct().groupBy("v")
      .agg(org.apache.spark.sql.graft.HllState(
        graft.pipeline.Sketch.hash60(col("v"))).as("state"))
    val round = adj.join(st.select(col("v").as("nbr"), col("state")), Seq("nbr"))
      .select(col("v"), col("state")).unionByName(st)
      .groupBy("v")
      .agg(org.apache.spark.sql.graft.HllMergeState(col("state")).as("state"))
    val anf = plan(round)
    assert(!anf.contains("CartesianProduct"))
    assert(anf.contains("ObjectHashAggregate"),
      "HLL merge must run as a map-side-partial object hash aggregate")
  }

  test("freshCheckpoint: lineage truncated, join-product stats NOT inherited, partitioning kept") {
    import graft.algo.Iterate.FreshOps
    val base = spark.range(100).select(col("id").as("i"), col("id").as("v"))
    val default = spark.sessionState.conf.defaultSizeInBytes
    // eight nested SELF-join rounds: the standard localCheckpoint
    // inherits sizeInBytes that SQUARE per round (the geometric
    // driver-spin Borůvka hit — digits double each round); the capped
    // checkpoint re-caps every round, so the estimate's bit length
    // stays at a machine word no matter the loop depth
    var f = base
    for (_ <- 1 to 8) {
      f = f.join(f.select(col("i"), col("v").as("w")), Seq("i"))
        .select(col("i"), (col("v") + col("w")).as("v"))
        .freshCheckpoint(true)
    }
    val st = f.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(st <= default && st.bitLength <= 64, s"stats $st")
    // values survive the rounds: v doubles per self-join round
    val got = f.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 100L).forall(i => got(i) == i * 256))
    // a genuinely TINY frame keeps its honest stats through the
    // checkpoint (round-9 advice: unconditional fresh stats pushed
    // 1-row seeds to Long.MaxValue and killed static auto-broadcast)
    val seedStats = base.limit(1).freshCheckpoint(true)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(seedStats < BigInt(10L * 1024 * 1024), s"seed stats $seedStats")
    // the materialization job carries an SQL execution id (observable
    // in the SQL UI / listeners, like every Dataset.withAction —
    // round-9 advice: the raw executedPlan.execute() path skipped it)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val lst = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("MISSING"))
    }
    spark.sparkContext.addSparkListener(lst)
    try {
      base.freshCheckpoint(true)
      val deadline = System.nanoTime() + 5000000000L
      while (jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(!jobs.isEmpty && !jobs.contains("MISSING"),
        s"freshCheckpoint job missing an SQL execution id: $jobs")
    } finally spark.sparkContext.removeSparkListener(lst)
    // Round-15: freshCheckpoint now reads partitioning from the FINAL
    // AQE physical plan (AdaptiveSparkPlanExec is a leaf reporting
    // UnknownPartitioning — the standard localCheckpoint drops the
    // clustering there), so a hash-clustered frame KEEPS its layout
    // through the checkpoint and downstream joins/aggs on the same
    // key plan exchange-free. Pin: fresh reports a hash clustering on
    // i where the standard checkpoint reports Unknown.
    val viaFresh = base.repartition(col("i")).freshCheckpoint(true)
      .queryExecution.executedPlan.outputPartitioning
    val viaStd = base.repartition(col("i")).localCheckpoint(true)
      .queryExecution.executedPlan.outputPartitioning
    assert(viaFresh.toString.toLowerCase.contains("hashpartitioning(i#"),
      s"fresh lost the clustering: $viaFresh")
    assert(viaStd.toString.contains("UnknownPartitioning"),
      s"standard checkpoint unexpectedly learned partitioning: $viaStd")
  }

  test("masked mxm pushes the mask before the aggregate") {
    val m = GrbMatrix.fromValues(spark,
      Seq((0L, 0L, 1L: Any), (0L, 1L, 1L: Any), (1L, 0L, 1L: Any)),
      GrbType.INT64, 2L, 2L)
    val mask = Mask.structural(
      GrbMatrix.fromValues(spark, Seq((0L, 0L, 1L: Any)), GrbType.INT64, 2L, 2L).df)
    val planned = m.mxm(m, Ops.plusTimes, Some(mask)).df.queryExecution.optimizedPlan
    // the semi-join must appear BELOW the final aggregate in the plan tree
    val s = planned.toString
    val aggIdx = s.indexOf("Aggregate")
    val joinIdx = s.indexOf("LeftSemi")
    assert(aggIdx >= 0 && joinIdx > aggIdx,
      "mask semi-join should be inside (below) the aggregate")
  }

  // --- the mxm product-join decision (shuffled SpGEMM; Grb.mxm scaladoc) ---

  private def tinyPair: (GrbMatrix, GrbMatrix) = {
    val a = GrbMatrix.fromValues(spark,
      (0L until 40L).map(i => (i % 8, i % 5, 1L: Any)), GrbType.INT64, 8L, 5L)
    val b = GrbMatrix.fromValues(spark,
      (0L until 35L).map(i => (i % 5, i % 7, 1L: Any)), GrbType.INT64, 5L, 7L)
    (a, b)
  }

  test("unmasked mxm never broadcasts a matrix operand — shuffled SpGEMM") {
    // operands this small would broadcast without the hint; the
    // product join must still plan shuffled (size heuristics can't
    // see the product blow-up, so broadcast is never safe here)
    val (a, b) = tinyPair
    val p = plan(a.mxm(b, Ops.plusTimes).df)
    assert(p.contains("SortMergeJoin"), p.take(400))
    assert(!p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("mxv keeps the broadcast plan — the SpGEMM hint must not spread to vector products") {
    // a vector product's stream is bounded by nnz(A) (≤ 1 vector value
    // per contraction key), so the quadratic-product pathology the mxm
    // hint guards against cannot arise — see the mxv scaladoc. A
    // refactor that "consistency-fixes" the merge hint onto mxv would
    // re-shuffle the MATRIX side on every loop round for nothing.
    val (a, _) = tinyPair
    val v = GrbVector.fromValues(spark,
      (0L until 5L).map(i => (i, 1L: Any)), GrbType.INT64, 5L)
    val p = plan(a.mxv(v, Ops.plusTimes).df)
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(400))
  }

  test("masked mxm keeps Catalyst's join choice (mask bounds agg state)") {
    val (a, b) = tinyPair
    val mask = Mask.structural(
      GrbMatrix.fromValues(spark, Seq((0L, 0L, 1L: Any)), GrbType.INT64, 8L, 7L).df)
    val p = plan(a.mxm(b, Ops.plusTimes, Some(mask)).df)
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("a bucketed operand opts out of the forced shuffle") {
    val (a, b) = tinyPair
    val bb = GrbMatrix.fromDF(graft.io.BucketedCoo.saveLoad(
      spark, b.df, "graft_planaudit_b", "i", 2), 5L, 7L)
    val p = plan(a.mxm(bb, Ops.plusTimes).df)
    // write-time clustering respected: Catalyst's unassisted choice,
    // asserted POSITIVELY (round-12 advice) — for this tiny pair that
    // choice is a broadcast of the small side, so a regression that
    // merely changed plan rendering can't silently pass
    assert(!p.contains("SortMergeJoin"), p.take(400))
    assert(p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("bucketing on the NON-contracted dimension does not lift the guard") {
    // right operand contracts on i; a table bucketed by j made no
    // placement decision about the contraction — the forced shuffle
    // must survive (round-12 advice: the old any-bucketed-scan check
    // lost the guard here)
    val (a, b) = tinyPair
    val bb = GrbMatrix.fromDF(graft.io.BucketedCoo.saveLoad(
      spark, b.df, "graft_planaudit_bwrong", "j", 2), 5L, 7L)
    val p = plan(a.mxm(bb, Ops.plusTimes).df)
    assert(p.contains("SortMergeJoin"), p.take(400))
    assert(!p.contains("BroadcastHashJoin"), p.take(400))
  }

  test("pre-clustered operands share one exchange per side with the contraction join") {
    // round-14: fromDF(clusterBy = contraction key) keys the dedup
    // aggregate's exchange on the join key, so the hinted sort-merge
    // join reuses it (guide §2.4) — per side ONE shuffle instead of
    // two. Total shuffle exchanges: 2 operand repartitions + the
    // product aggregate = 3 (q_mxm dropped 5 → 3 in the r14 plans).
    val aRaw = spark.range(40).selectExpr(
      "id % 8 AS i", "id % 5 AS j", "1L AS v")
    val bRaw = spark.range(35).selectExpr(
      "id % 5 AS i", "id % 7 AS j", "1L AS v")
    val a = GrbMatrix.fromDF(aRaw, 8L, 5L,
      dupAgg = Some(c => sum(c)), clusterBy = Seq("j"))
    val b = GrbMatrix.fromDF(bRaw, 5L, 7L,
      dupAgg = Some(c => sum(c)), clusterBy = Seq("i"))
    val p = plan(a.mxm(b, Ops.plusTimes).df)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 3, s"expected 3 shuffle exchanges, got $shuffles:\n${p.take(1200)}")
    assert(p.contains("SortMergeJoin"), p.take(400))
  }

  test("unmasked product aggregate keys on the packed index; mask and overflow fall back") {
    val (a, b) = tinyPair
    // packed: the aggregate groups by one long (_ij), unpack restores
    // (i, j) with integer DIV/% — never a double round-trip
    val packedPlan = plan(a.mxm(b, Ops.plusTimes).df)
    assert(packedPlan.contains("_ij"), packedPlan.take(600))
    // a shape whose i*ncols+j cannot fit int64 falls back (the guard
    // is nrows <= Long.MaxValue / ncols)
    val wideB = new GrbMatrix(b.df, 5L, Long.MaxValue / 4L)
    val wideA = new GrbMatrix(a.df, 8L, 5L)
    val wide = plan(wideA.mxm(wideB, Ops.plusTimes).df)
    assert(!wide.contains("_ij"), wide.take(600))
    // masked products keep (i, j): the mask semi-join's clustering is
    // what the final aggregate reuses (packing ADDED an exchange there)
    val mask = Mask.structural(
      GrbMatrix.fromValues(spark, Seq((0L, 0L, 1L: Any)), GrbType.INT64, 8L, 7L).df)
    val masked = plan(a.mxm(b, Ops.plusTimes, Some(mask)).df)
    assert(!masked.contains("_ij"), masked.take(600))
  }

  test("packed and two-column product aggregates agree cell-for-cell") {
    val (a, b) = tinyPair
    def cells(m: GrbMatrix) = m.df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // reference: plus-times over the collected operands, on the driver
    val (ac, bc) = (cells(a), cells(b))
    val want = (for {
      ((i, k), x) <- ac.toSeq; ((k2, j), y) <- bc.toSeq if k == k2
    } yield (i, j) -> x * y).groupMapReduce(_._1)(_._2)(_ + _)
    assert(cells(a.mxm(b, Ops.plusTimes)) == want)
    // the same operands at a width whose i*ncols+j overflows int64
    // take the two-column aggregate
    val wideB = new GrbMatrix(b.df, 5L, Long.MaxValue / 4L)
    assert(!plan(a.mxm(wideB, Ops.plusTimes).df).contains("_ij"))
    assert(cells(a.mxm(wideB, Ops.plusTimes)) == want)
  }

  test("joining AGAINST a bucketed table does not lift the guard") {
    // a derived operand that merely consulted some bucketed relation
    // (here: semi-joined against one on an unrelated key) is not
    // itself clustered on the contraction key — forced shuffle holds
    val (a, b) = tinyPair
    val lookup = graft.io.BucketedCoo.saveLoad(
      spark, b.df.select(col("i")).distinct(), "graft_planaudit_lkp", "i", 2)
    val derived = new GrbMatrix(
      b.df.join(lookup, Seq("i"), "left_semi"), 5L, 7L)
    val p = plan(a.mxm(derived, Ops.plusTimes).df)
    // the semi-join key IS i here, but the surviving operand columns
    // come from b's plain (unbucketed) scan — lineage tracing must not
    // credit the lookup side's bucketing to the operand
    assert(p.contains("SortMergeJoin"), p.take(400))
  }
}
