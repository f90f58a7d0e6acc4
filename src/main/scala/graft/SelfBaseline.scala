package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.algo.{Bfs, FastSV, Hits, LinkPred, Msf, PageRank, PregelCC, SpCount}
import graft.pipeline.{Similarity, TextDedup}

/** Self-baselines per BASELINE.md: FastSV wall-clock/iteration rate on
  * synthetic symmetric graphs at fixed edge counts, and mxm/mxv
  * throughput (nnz/sec) — the two hot operators of every GraphBLAS
  * workload. Graphs are deterministic (Knuth-hash edge endpoints over
  * spark.range — no RNG).
  *
  * Round 5 additions:
  *   - FastSV vs PregelCC bake-off column (`pregel_sec`) on every graph
  *     tier, plus the real q_cc_events lineitem graph via
  *     SPARK_GRAFT_CC_BAKEOFF=<sfDir>;
  *   - a 10× pipeline tier (SPARK_GRAFT_PIPELINE10X=<nDocs>): synthetic
  *     documents/embeddings at 10× sf0.1 volume driving
  *     TextDedup.nearDuplicates + Similarity.annPairs, reporting
  *     docs/sec — catches scale cliffs (hot band keys, agg spill) the
  *     sf0.1 bench can't see.
  *
  * Run: sbt "runMain graft.SelfBaseline [edges ...]"; results recorded
  * in BASELINE_SELF.md.
  */
object SelfBaseline {

  def syntheticGraph(spark: SparkSession, nEdges: Long): GrbMatrix = {
    val n = nEdges / 8 // avg degree ~16 after symmetrization
    // murmur3 endpoints (deterministic, aperiodic — a modular-linear
    // generator collapses to ~2n distinct pairs)
    val e = spark.range(nEdges).select(
      pmod(hash(col("id") * 2), lit(n)).cast("long").as("a"),
      pmod(hash(col("id") * 2 + 1), lit(n)).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val sym = e.select(col("a").as("i"), col("b").as("j"))
      .unionByName(e.select(col("b").as("i"), col("a").as("j")))
      .distinct()
      .select(col("i"), col("j"), lit(1L).as("v"))
    new GrbMatrix(sym, n, n)
  }

  /** deterministic synthetic corpus: ~10% of docs are near-copies of
    * their predecessor (one token perturbed) so MinHash has real work;
    * token stream is hash-driven — no RNG, reproducible across runs.
    */
  def syntheticDocs(spark: SparkSession, nDocs: Long): DataFrame = {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
      "omicron", "pi", "rho", "sigma", "tau", "upsilon")
    val wordArr = s"array(${words.map(w => s"'$w'").mkString(",")})"
    spark.range(nDocs).select(
      col("id").cast("long").as("doc_id"),
      // near-dup pairs: doc 10k+1 shares doc 10k's seed (content differs
      // only by the id-dependent tail token below)
      when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id")).as("_seed"))
      .select(col("doc_id"),
        concat_ws(" ",
          expr(s"transform(sequence(1, 60), x -> element_at($wordArr, " +
            "int(pmod(hash(_seed * 131 + x), 20)) + 1))")).as("_body"),
        expr("element_at(" + wordArr + ", int(pmod(hash(doc_id), 20)) + 1)").as("_tail"))
      .select(col("doc_id"), concat_ws(" ", col("_body"), col("_tail")).as("text"))
  }

  /** the planted-skew corpus: syntheticDocs, except every doc with
    * id % 10 == 7 (10% of the corpus) carries ONE fixed boilerplate
    * text — identical shingles, hence identical minhash band
    * signatures, hence one hot LSH bucket of n/10 members per band:
    * the boilerplate-cluster skew cliff the hot-bucket guard exists
    * for. The honest near-dup planting (id % 10 == 1 copies its
    * predecessor) never overlaps the boilerplate ids, so recall of
    * real near-dups is measurable under the guard.
    */
  def syntheticDocsSkewed(spark: SparkSession, nDocs: Long): DataFrame = {
    val boiler = (1 to 61).map(i => s"boiler${i % 7}").mkString(" ")
    syntheticDocs(spark, nDocs).select(col("doc_id"),
      when(col("doc_id") % 10 === 7, lit(boiler))
        .otherwise(col("text")).as("text"))
  }

  /** the simhash-tier corpus: same planted-pair structure as
    * syntheticDocs (doc 10k+1 shares doc 10k's 60-token body; the one
    * id-derived tail token differs), but over an ~100k-word synthetic
    * vocabulary so simhashes are near-uniform over the 60-bit space —
    * the 20-word vocabulary makes unrelated docs collide at low
    * Hamming and the measurement output-bound instead of banding-bound.
    */
  def syntheticDocsWide(spark: SparkSession, nDocs: Long): DataFrame =
    spark.range(nDocs).select(
      col("id").cast("long").as("doc_id"),
      when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id")).as("_seed"))
      .select(col("doc_id"),
        concat_ws(" ",
          expr("transform(sequence(1, 60), x -> " +
            "concat('w', pmod(hash(_seed * 131 + x), 100000)))")).as("_body"),
        expr("concat('w', pmod(hash(doc_id * 17 + 7), 100000))").as("_tail"))
      .select(col("doc_id"), concat_ws(" ", col("_body"), col("_tail")).as("text"))

  /** deterministic synthetic embeddings: dim-d float vectors with
    * hash-valued components in [-1, 1)
    */
  def syntheticEmbeddings(spark: SparkSession, nRows: Long, dim: Int): DataFrame =
    spark.range(nRows).select(
      col("id").cast("long").as("doc_id"),
      expr(s"transform(sequence(0, ${dim - 1}), d -> " +
        "float((pmod(hash(id * 37 + d), 2000) - 1000) / 1000.0))").as("embedding"))

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // 4× cores: per-task agg state must fit heap — see Bench.mkSession
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (cpus.toInt * 4).toString))
      // single-JVM local mode: heavy stages monopolize the same threads
      // that serve executor heartbeats; at the 100M-edge tier the
      // default 10s heartbeat misses repeatedly and the executor gets
      // declared dead mid-job (observed: RpcEndpointNotFoundException
      // after ~28 min). A real cluster separates these JVMs; locally,
      // widen the windows.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .config("spark.local.dir", LocalDirs.sparkLocalDir)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      // TopKPairs (ANN top-k selection) is a TypedImperativeAggregate:
      // ObjectHashAggregate's default sort-based fallback fires at 128
      // groups per partition, silently re-sorting the scored slice. Its
      // buffers are tiny (<=k 17-byte entries), so a high threshold
      // keeps the hash path: 1M groups x ~50 B/group ~ 50 MB/partition
      // worst case. Cluster deployments should carry this conf too.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // pass `0` to skip the standard graph loop and run only the
    // env-gated tiers (BIGGRAPH / SKEW / PIPELINE10X / CC_BAKEOFF)
    val sizes = (if (args.nonEmpty) args.map(_.toLong).toSeq
      else Seq(1000000L, 10000000L)).filter(_ > 0)
    for (nEdges <- sizes) {
      val a = new GrbMatrix(syntheticGraph(spark, nEdges).df.cache(),
        nEdges / 8, nEdges / 8)
      val nnz = a.nvals // materializes the cache
      // mxv throughput: one min_second step (the FastSV kernel)
      val ident = spark.range(a.nrows).select(col("id").as("i"), col("id").as("v"))
      val gp = new GrbVector(ident, a.nrows)
      val (_, mxvSec) = timed(a.mxv(gp, Ops.minSecond, broadcastVec = false).df.count())
      // mxm throughput: A @ A over plus_times (count materializes)
      val (_, mxmSec) = timed(a.mxm(a, Ops.plusTimes).df.count())
      // FastSV vs Pregel bake-off on the identical graph
      val (nComponents, ccSec) = timed(
        FastSV.connectedComponents(a).df.select(col("v")).distinct().count())
      val (nComponentsP, pregelSec) = timed(
        PregelCC.connectedComponents(a).df.select(col("v")).distinct().count())
      require(nComponents == nComponentsP,
        s"CC engines disagree: FastSV $nComponents vs Pregel $nComponentsP")
      println(f"""{"edges":$nEdges,"nnz":$nnz,"mxv_sec":$mxvSec%.2f,"mxv_nnz_per_sec":${(nnz / mxvSec).toLong},"mxm_sec":$mxmSec%.2f,"fastsv_sec":$ccSec%.2f,"pregel_sec":$pregelSec%.2f,"components":$nComponents}""")
      // traversal tier (SPARK_GRAFT_TRAVERSAL=1): BFS levels from
      // vertex 0 and the masked plus_pair triangle count on the same
      // graph — the round-5 algo additions at synthetic scale
      if (sys.env.contains("SPARK_GRAFT_TRAVERSAL")) {
        val (nReached, bfsSec) = timed(Bfs.levels(a, 0L).nvals)
        val L = new GrbMatrix(a.df.filter(col("i") < col("j")), a.nrows, a.ncols)
        val (nTri, triSec) = timed(
          L.mxm(L, Ops.plusPair, mask = Some(Mask.structural(L.df)))
            .reduceScalar(Ops.plusMonoid).value.getOrElse(0L))
        // scale ∝ n·degree·100 keeps integer contributions nonzero at
        // synthetic-graph sizes (see PageRank.ranks resolution guard)
        val (prMass, prSec) = timed(
          PageRank.ranks(a, scale = a.nrows * 1600L * 100L)
            .df.agg(sum(col("v"))).collect()(0).getLong(0))
        // shortest-path counting: same wave structure as BFS plus the
        // plus_times sigma aggregation — the delta over bfs_sec is the
        // count-carrying premium
        val (nCounted, spSec) = timed(SpCount.counts(a, 0L).count())
        // k-truss: rounds x the triangle-count mxm; the hash-random
        // graph's sparse triangles make k=3 prune nearly everything,
        // so this times the per-round support computation at scale
        val (nTruss, ktSec) = timed(
          graft.algo.KTruss.ktruss(a, 3L).count())
        println(f"""{"edges":$nEdges,"bfs_sec":$bfsSec%.2f,"bfs_reached":$nReached,"triangle_sec":$triSec%.2f,"triangles":$nTri,"pagerank_sec":$prSec%.2f,"pagerank_mass":$prMass,"spcount_sec":$spSec%.2f,"spcount_reached":$nCounted,"ktruss_sec":$ktSec%.2f,"ktruss_edges":$nTruss}""")
      }
      a.df.unpersist()
    }
    // FastSV vs Pregel on the REAL q_cc_events graph (order—part
    // bipartite from lineitem at the given sf dir)
    sys.env.get("SPARK_GRAFT_CC_BAKEOFF").foreach { dir =>
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val offset = 1L << 20
      val e0 = li.select(col("l_orderkey").cast("long").as("a"),
        (col("l_partkey") + offset).as("b")).distinct()
      val edges = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      val n = edges.agg(max(col("a"))).collect()(0).getLong(0) + 1L
      val A = GrbMatrix.fromDF(
        edges.select(col("a").as("i"), col("b").as("j"), lit(1L).as("v")), n, n)
      val nodes = edges.select(col("a").as("i")).distinct()
      val (cF, fsvSec) = timed(FastSV.connectedComponents(A, nodes = Some(nodes))
        .df.select(col("v")).distinct().count())
      val (cP, prgSec) = timed(PregelCC.connectedComponents(A)
        .df.select(col("v")).distinct().count())
      println(f"""{"graph":"cc_events:$dir","fastsv_sec":$fsvSec%.2f,"pregel_sec":$prgSec%.2f,"components_fastsv":$cF,"components_pregel":$cP}""")
    }
    // Ingest tier (SPARK_GRAFT_INGEST=<sfDir>): the bucketed-table
    // steady state at millions of rows — initial saveLoad, a
    // contraction-style join against the table, five incremental
    // appends (disjoint batches), the same join over the appended
    // (multi-file-bucket) table, then compact and join once more.
    // The claim under test is the 100 TB ingest story: APPEND COST IS
    // PROPORTIONAL TO THE BATCH, NOT THE TABLE, and the join's
    // exchange elision survives appends (only the sort claim is
    // forfeited until compact).
    sys.env.get("SPARK_GRAFT_INGEST").foreach { dir =>
      import graft.io.BucketedCoo
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey").as("i"), col("l_partkey").as("j"),
          col("l_quantity").cast("long").as("v"))
      val base = li.filter(col("i") % 8L =!= 0L)
      val name = "graft_ingest_tier"
      val (t0, writeSec) = timed {
        // unique per run: drop any previous marker so the write is timed
        val d = new java.io.File(s"${BucketedCoo.defaultRoot}/$name")
        if (d.isDirectory) d.listFiles().foreach(_.delete())
        BucketedCoo.saveLoad(spark, base, name, "j", 32).count()
      }
      val probe = li.filter(col("i") % 97L === 0L)
        .select(col("j").as("pj"), col("v").as("pv"))
      def contract(): Long = spark.table(name)
        .join(probe, col("j") === col("pj"))
        .groupBy(col("i")).agg(sum(col("v") * col("pv")))
        .count()
      val (r1, joinBaseSec) = timed(contract())
      val appendSecs = (1 to 5).map { k =>
        val batch = li.filter(col("i") % 8L === 0L && col("i") % 5L === (k % 5L))
        timed(BucketedCoo.append(spark, batch, name).count())._2
      }
      val (r2, joinAppendedSec) = timed(contract())
      val (_, compactSec) = timed(BucketedCoo.compact(spark, name).count())
      val (r3, joinCompactSec) = timed(contract())
      println(f"""{"tier":"ingest:$dir","table_rows":$t0,"write_sec":$writeSec%.2f,"join_base_sec":$joinBaseSec%.2f,"append_secs":[${appendSecs.map(s => f"$s%.2f").mkString(",")}],"join_appended_sec":$joinAppendedSec%.2f,"compact_sec":$compactSec%.2f,"join_compacted_sec":$joinCompactSec%.2f,"join_groups":[$r1,$r2,$r3]}""")
    }
    // 10× pipeline tier: MinHash near-dup + LSH ANN at synthetic scale
    sys.env.get("SPARK_GRAFT_PIPELINE10X").foreach { nStr =>
      val nDocs = nStr.toLong
      val docs = syntheticDocs(spark, nDocs).cache()
      docs.count()
      val (nd, minhashSec) = timed(TextDedup.nearDuplicates(docs).count())
      val emb = syntheticEmbeddings(spark, nDocs, 32)
        .withColumnRenamed("doc_id", "vec_id").cache()
      emb.count()
      val (np, annSec) = timed(Similarity.annPairs(emb).count())
      // the rest of the dedup family at the same volume: exact (md5
      // groupBy), simhash (60-bit, 15-bit structural bands), and
      // train/test contamination with a 0.1% bench slice (every bench
      // doc's near-copy successor sits in train, so containment should
      // flag ~all of them — a recall signal, not just throughput)
      val (ne, exactSec) = timed(TextDedup.exact(docs).filter(col("cnt") > 1).count())
      val (ns, simhashSec) = timed(TextDedup.simhashNearDuplicates(docs).count())
      val bench = docs.filter(col("doc_id") % 1000 === 0)
      val train = docs.filter(col("doc_id") % 1000 =!= 0)
      val (ncont, contSec) = timed(TextDedup.contamination(train, bench).count())
      // round-9 additions at the same volume: duplicated-span measure
      // (positional-shingle runs), and ingest-cycle incremental dedup
      // (90% corpus ledger vs 10% arriving batch)
      val (nspan, spanSec) = timed(
        TextDedup.dupSpans(docs).filter(col("max_run") > 0).count())
      val (nkeep, incrSec) = timed(TextDedup.incrementalDedup(
        corpus = docs.filter(col("doc_id") % 10 =!= 0),
        batch = docs.filter(col("doc_id") % 10 === 0))
        .filter(col("keep") === 1).count())
      println(f"""{"pipeline_docs":$nDocs,"minhash_sec":$minhashSec%.2f,"minhash_docs_per_sec":${(nDocs / minhashSec).toLong},"minhash_pairs":$nd,"ann_sec":$annSec%.2f,"ann_docs_per_sec":${(nDocs / annSec).toLong},"ann_pairs":$np,"exact_sec":$exactSec%.2f,"exact_dup_groups":$ne,"simhash_sec":$simhashSec%.2f,"simhash_pairs":$ns,"contamination_sec":$contSec%.2f,"contaminated":$ncont,"dup_span_sec":$spanSec%.2f,"dup_span_docs":$nspan,"incr_sec":$incrSec%.2f,"incr_kept":$nkeep}""")
      docs.unpersist(); emb.unpersist()
    }
    // Round-10 sketch/scrub tier (SPARK_GRAFT_SKETCH10X=<nDocs>): the
    // new operators at 10× bench volume. Note the synthetic corpus's
    // 20-word vocabulary makes nearly every document's token SET
    // identical, so its dedup ledger holds only a handful of DISTINCT
    // digests — the bloom equality check below exercises verdict
    // parity, not capacity. The CAPACITY claim (one 65536-bit filter
    // saturates as the key count approaches m; sharding restores the
    // FP rate by fan-out) is measured separately on nDocs raw digests:
    // half-known/half-fresh probes, FP = positives among fresh, with
    // recall on known keys required to be 100% at every occupancy (no
    // false negatives is structural). CMS accuracy is probed with the
    // full 20-word vocabulary against exact GROUP BY counts (max
    // over-count = observed collision mass).
    sys.env.get("SPARK_GRAFT_SKETCH10X").foreach { nStr =>
      val nDocs = nStr.toLong
      val docs = syntheticDocs(spark, nDocs)
        .withColumn("source", concat(lit("src"), col("doc_id") % 4)).cache()
      docs.count()
      val corpus = docs.filter(col("doc_id") % 4 =!= 0)
      val batch = docs.filter(col("doc_id") % 4 === 0)
      val (exactVerdicts, plainSec) = timed(
        TextDedup.incrementalDedup(corpus, batch)
          .filter(col("in_corpus") === 1).count())
      val (b1, bloom1Sec) = timed {
        val r = TextDedup.bloomIncrementalDedup(corpus, batch, shards = 1).cache()
        val pos = r.filter(col("bloom_maybe") === 1).count()
        val hits = r.filter(col("in_corpus") === 1).count()
        r.unpersist(false); (pos, hits)
      }
      val (b16, bloom16Sec) = timed {
        val r = TextDedup.bloomIncrementalDedup(corpus, batch, shards = 16).cache()
        val pos = r.filter(col("bloom_maybe") === 1).count()
        val hits = r.filter(col("in_corpus") === 1).count()
        r.unpersist(false); (pos, hits)
      }
      require(b1._2 == exactVerdicts && b16._2 == exactVerdicts,
        s"bloom verdict drifted from exact: ${b1._2}/${b16._2} vs $exactVerdicts")
      // capacity probe on nDocs DISTINCT digests: ledger = ids
      // [0, nDocs), probes = nDocs/5 known + nDocs/5 fresh keys
      val ledgerKeys = spark.range(nDocs)
        .select(md5(col("id").cast("string")).as("h"))
      val probeKeys = spark.range(nDocs / 5)
        .select(col("id"), md5(col("id").cast("string")).as("h"),
          lit(1L).as("known"))
        .unionByName(spark.range(nDocs / 5)
          .select(col("id"), md5((col("id") + 10000000L).cast("string")).as("h"),
            lit(0L).as("known")))
      def capacity(shards: Int): (Long, Long) = {
        def shardOf(h: org.apache.spark.sql.Column) =
          conv(substring(md5(h), 1, 4), 16, 10).cast("long") % shards
        val blooms = ledgerKeys.withColumn("shard", shardOf(col("h")))
          .groupBy("shard").agg(org.apache.spark.sql.graft.BloomState(
            graft.pipeline.Sketch.bloomPacked(col("h"))).as("bloom"))
        val probed = probeKeys.withColumn("shard", shardOf(col("h")))
          .join(broadcast(blooms), Seq("shard"), "left")
          .withColumn("maybe",
            when(coalesce(org.apache.spark.sql.graft.BloomMaybe(col("bloom"),
              graft.pipeline.Sketch.bloomPacked(col("h"))), lit(false)), 1L)
              .otherwise(0L))
        val knownPos = probed.filter(col("known") === 1 && col("maybe") === 1).count()
        val freshPos = probed.filter(col("known") === 0 && col("maybe") === 1).count()
        require(knownPos == nDocs / 5,
          s"bloom lost a known key at shards=$shards: $knownPos of ${nDocs / 5}")
        (knownPos, freshPos)
      }
      val fp1 = capacity(1)._2
      val fp64 = capacity(64)._2
      // CMS: per-source grids, probed with the whole vocabulary
      val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
        "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi",
        "omicron", "pi", "rho", "sigma", "tau", "upsilon")
      val tok = docs.select(col("source"), explode(split(col("text"), " ")).as("tk"))
      val (cmsMaxOver, cmsSec) = timed {
        val states = tok.groupBy("source").agg(
          org.apache.spark.sql.graft.CmsState(
            graft.pipeline.Sketch.cmsPacked(col("tk"))).as("state"))
        val probes = spark.createDataFrame(vocab.map(Tuple1(_))).toDF("token")
        val est = states.join(broadcast(probes))
          .select(col("source"), col("token"),
            org.apache.spark.sql.graft.CmsEstimate(col("state"),
              graft.pipeline.Sketch.cmsPacked(col("token"))).as("est"))
        val exact = tok.groupBy(col("source"), col("tk").as("token"))
          .agg(count(lit(1)).as("n"))
        est.join(exact, Seq("source", "token"))
          .agg(max(col("est") - col("n"))).collect()(0).getLong(0)
      }
      val (nLineDup, lineSec) = timed(
        TextDedup.lineDedupStats(docs).filter(col("n_dup_lines") > 0).count())
      val emb = syntheticEmbeddings(spark, nDocs / 2, 32)
        .withColumnRenamed("doc_id", "vec_id").cache()
      emb.count()
      val (nClusters, kmSec) = timed(
        Similarity.embedClusters(emb, k = 64, lloydRounds = 2)
          .select("cid").distinct().count())
      println(f"""{"sketch_docs":$nDocs,"incr_exact_sec":$plainSec%.2f,"incr_hits":$exactVerdicts,"batch_docs":${batch.count()},"bloom1_sec":$bloom1Sec%.2f,"bloom1_positive":${b1._1},"bloom16_sec":$bloom16Sec%.2f,"bloom16_positive":${b16._1},"cap_keys":$nDocs,"cap_fresh_probes":${nDocs / 5},"cap_fp_shards1":$fp1,"cap_fp_shards64":$fp64,"cms_sec":$cmsSec%.2f,"cms_max_overcount":$cmsMaxOver,"line_sec":$lineSec%.2f,"line_dup_docs":$nLineDup,"kmeans_sec":$kmSec%.2f,"kmeans_vectors":${nDocs / 2},"kmeans_clusters":$nClusters}""")
      docs.unpersist(); emb.unpersist()
    }
    // MinHash-ledger tier (SPARK_GRAFT_LEDGER10X=<nDocs>): the
    // signature-ledger ingest screen at 10× bench volume — corpus
    // (90%) signed once into the distinct (band, sig) store, batch
    // (10%) probed against it. The claim under test: probe cost is
    // O(batch) and the join NEVER expands (ledger distinct ⇒ ≤1:1 per
    // band row), so ledger-probe docs/sec should track the signing
    // throughput, not the corpus size — compare ledger_sec (corpus
    // sign, paid once per corpus) vs probe_sec (per ingest cycle).
    sys.env.get("SPARK_GRAFT_LEDGER10X").foreach { nStr =>
      val nDocs = nStr.toLong
      val docs = syntheticDocs(spark, nDocs).cache()
      docs.count()
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val ledger = TextDedup.minhashLedger(corpus).cache()
      val (ledgerRows, ledgerSec) = timed(ledger.count())
      val (nearHits, probeSec) = timed(
        TextDedup.nearDupAgainstLedger(ledger, batch)
          .filter(col("near_corpus") === 1).count())
      val nBatch = batch.count()
      println(f"""{"ledger_docs":$nDocs,"ledger_rows":$ledgerRows,"ledger_sec":$ledgerSec%.2f,"probe_batch_docs":$nBatch,"probe_sec":$probeSec%.2f,"probe_docs_per_sec":${(nBatch / probeSec).toLong},"near_corpus_hits":$nearHits}""")
      ledger.unpersist(false); docs.unpersist()
    }
    // SimHash banding tier (SPARK_GRAFT_SIMHASH=<nDocs>, round-8 lead
    // item): planted near-dups over a wide-vocabulary corpus, measured
    // for BOTH the legacy single-table banding (blocks=4, 15-bit keys)
    // and the scale default (blocks=6, C(6,3)=20 tables of 30-bit
    // keys). Reports structural candidate volume, wall-clock, and
    // recall against per-pair ground truth (the planted pairs' true
    // Hamming, computed directly from the simhash frame) — the claim
    // under test: blocks=6 keeps candidates ~O(n) at unchanged recall
    // while blocks=4 grows them n^2/2^15.
    sys.env.get("SPARK_GRAFT_SIMHASH").foreach { nStr =>
      val nDocs = nStr.toLong
      val docs = syntheticDocsWide(spark, nDocs).cache()
      docs.count()
      val shd = TextDedup.simhash(docs).localCheckpoint(true)
      // ground truth over the planted pairs (10k, 10k+1): how many sit
      // at true Hamming <= 3 (the one-token diff flips a varying
      // number of simhash bits)
      val a = shd.select(col("doc_id").as("a"), col("simhash").as("ha"))
      val b = shd.select(col("doc_id").as("b"), col("simhash").as("hb"))
      val plantedTrue = a.join(b, expr("b = a + 1 AND b % 10 = 1"))
        .filter(expr("bit_count(ha ^ hb) <= 3")).count()
      val cols = Seq(4, 6).map { blocks =>
        val (cand, candSec) = timed(
          TextDedup.simhashCandidates(shd, 3, blocks).count())
        val (nd, ndSec) = timed {
          val p = TextDedup.simhashNearDuplicates(docs, blocks = blocks)
            .localCheckpoint(true)
          p.count(); p
        }
        val pairs = nd.count()
        val recovered = nd
          .filter(col("b") === col("a") + 1 && col("b") % 10 === 1).count()
        f""""blocks$blocks":{"candidates":$cand,"cand_sec":$candSec%.2f,"pairs":$pairs,"sec":$ndSec%.2f,"planted_recovered":$recovered}"""
      }
      println(s"""{"simhash_docs":$nDocs,"planted_true":$plantedTrue,${cols.mkString(",")}}""")
      docs.unpersist()
    }
    // Wide-UINT64 cost tier (SPARK_GRAFT_WIDEUINT=<nnz>, round-8 item
    // 3): the Decimal(20,0) store falls off the primitive-long fast
    // path (and the limb multiply adds ~5 decimal ops per product);
    // this tier records the premium of uint64Mode=wide vs the default
    // wrap store on identical data — mxm(plus_times) and the
    // plus-monoid scalar reduce at the given nnz. Values stay small
    // (<= 1000) so both modes compute identical results; the delta is
    // pure representation cost.
    sys.env.get("SPARK_GRAFT_WIDEUINT").foreach { nStr =>
      val nnz = nStr.toLong
      val n = math.max(1L, nnz / 8)
      def mat(s: SparkSession, decimal: Boolean): GrbMatrix = {
        val df0 = s.range(nnz).select(
          pmod(hash(col("id") * 7), lit(n)).cast("long").as("i"),
          pmod(hash(col("id") * 13 + 3), lit(n)).cast("long").as("j"),
          (pmod(hash(col("id")), lit(1000)) + 1).cast("long").as("v"))
          .dropDuplicates("i", "j")
        val df = if (decimal)
          df0.withColumn("v",
            col("v").cast(org.apache.spark.sql.types.DecimalType(20, 0)))
        else df0
        new GrbMatrix(df.localCheckpoint(true), n, n, Some(GrbType.UINT64))
      }
      val wrapM = mat(spark, decimal = false)
      val wide = spark.newSession()
      wide.conf.set(Grb.Uint64ModeKey, "wide")
      val wideM = mat(wide, decimal = true)
      // interleaved ABBA order (wrap,wide,wide,wrap) so neither mode
      // systematically pays the first-draw warm-up (JIT, shuffle dirs,
      // page cache); report the per-mode min like Bench does
      def mm(m: GrbMatrix) = timed(m.mxm(m, Ops.plusTimes).nvals)
      val draws = Seq(("wrap", wrapM), ("wide", wideM),
        ("wide", wideM), ("wrap", wrapM)).map { case (tag, m) =>
        val (rows, sec) = mm(m); (tag, rows, sec)
      }
      def best(tag: String) = draws.filter(_._1 == tag).map(_._3).min
      val mmWrap = draws.find(_._1 == "wrap").get._2
      val mmWide = draws.find(_._1 == "wide").get._2
      val (rWrap, redWrapSec) = timed(wrapM.reduceScalar(Ops.plusMonoid).value.get)
      val (rWide, redWideSec) = timed(wideM.reduceScalar(Ops.plusMonoid).value.get)
      val same = BigInt(rWrap.toString) ==
        BigInt(rWide.asInstanceOf[java.math.BigDecimal].toBigInteger)
      println(f"""{"wideuint_nnz":$nnz,"mxm_wrap_sec":${best("wrap")}%.2f,"mxm_wide_sec":${best("wide")}%.2f,"mxm_rows_wrap":$mmWrap,"mxm_rows_wide":$mmWide,"reduce_wrap_sec":$redWrapSec%.2f,"reduce_wide_sec":$redWideSec%.2f,"reduce_equal":$same}""")
    }
    // IVF sizing tier (SPARK_GRAFT_IVF=<nVecs>, round-8 item 4): the
    // Σcell² claim measured. Candidate volume + wall-clock at the old
    // fixed default (k=8, n²/8 candidate bound), an intermediate k,
    // and the auto rule k=⌊√n⌋ (n^1.5 bound, the classical IVF
    // operating point). Verified pair counts are reported so recall
    // effects of the cell granularity are visible next to the cost.
    sys.env.get("SPARK_GRAFT_IVF").foreach { nStr =>
      val nVecs = nStr.toLong
      val emb = syntheticEmbeddings(spark, nVecs, 64)
        .withColumnRenamed("doc_id", "vec_id").cache()
      emb.count()
      val base = Similarity.quantized(emb).localCheckpoint(true)
      val auto = math.max(8L, math.sqrt(nVecs.toDouble).toLong).toInt
      val cols = Seq(8, 64, auto).distinct.map { k =>
        val (cand, candSec) = timed(Similarity.ivfCandidates(base, k, 2).count())
        // the end-to-end verified run only at k where Σcell² is sane:
        // at k=8 / 50k vectors the candidate set alone is ~C(n,2)/4 —
        // attaching 64-long vectors to a billion pairs is an hour-class
        // job whose only lesson is already in the candidate count
        val full = if (cand < 50_000_000L) {
          val (pairs, pairSec) = timed(Similarity.ivfPairs(emb, k = k).count())
          f""","pairs":$pairs,"sec":$pairSec%.2f"""
        } else ""
        f""""k$k":{"candidates":$cand,"cand_sec":$candSec%.2f$full}"""
      }
      println(s"""{"ivf_vecs":$nVecs,"auto_k":$auto,${cols.mkString(",")}}""")
      // planted-neighbour recall for the probed-cell SEARCH path
      // (ivfTopK): queries 0..nq-1 each get a true near-duplicate
      // partner planted at id+nVecs (dimension 0 nudged by 0.005 —
      // cosine ≈ 0.9999 vs ~uniform noise elsewhere, so an exact
      // search always ranks the partner first). recall@10 = fraction
      // of planted partners recovered; brute force is the exactness
      // control, and probes = 2 vs 8 shows the recall/cost dial on
      // embeddings with NO cluster structure — the hard case for IVF
      // (uniform vectors sit near cell boundaries; real embedding
      // corpora cluster and probe far better).
      val nq = math.min(1000L, nVecs / 10)
      val partners = emb.filter(col("vec_id") < nq).select(
        (col("vec_id") + nVecs).as("vec_id"),
        expr("transform(embedding, (x, d) -> CASE WHEN d = 0 THEN float(x + 0.005) ELSE x END)")
          .as("embedding"))
      val emb2 = emb.unionByName(partners).cache()
      emb2.count()
      def plantedHits(top: org.apache.spark.sql.DataFrame): Long =
        top.filter(col("n") === col("q") + nVecs).count()
      val (bHits, bSec) = timed(plantedHits(Similarity.bruteForceTopK(emb2, nq, 10)))
      val (i2Hits, i2Sec) = timed(plantedHits(Similarity.ivfTopK(emb2, nq, 10, probes = 2)))
      val (i8Hits, i8Sec) = timed(plantedHits(Similarity.ivfTopK(emb2, nq, 10, probes = 8)))
      println(f"""{"ivf_recall_vecs":${nVecs + nq},"planted_queries":$nq,"brute_recall10":${bHits.toDouble / nq}%.3f,"brute_sec":$bSec%.2f,"ivf_p2_recall10":${i2Hits.toDouble / nq}%.3f,"ivf_p2_sec":$i2Sec%.2f,"ivf_p8_recall10":${i8Hits.toDouble / nq}%.3f,"ivf_p8_sec":$i8Sec%.2f}""")
      emb2.unpersist()
      emb.unpersist()
    }
    // ANN crossover tier (SPARK_GRAFT_ANNX=<nVecs>, round-10 item 2):
    // validates Similarity.topK's measured cost model by timing BOTH
    // engines at a small and a large query count and checking the
    // model's pick matches the measured winner each time
    // (auto_is_faster). crossover_q = -1 means the model says brute
    // wins at every q for this corpus size.
    sys.env.get("SPARK_GRAFT_ANNX").foreach { nStr =>
      val nVecs = nStr.toLong
      val emb = syntheticEmbeddings(spark, nVecs, 64)
        .withColumnRenamed("doc_id", "vec_id").cache()
      emb.count()
      val probes = 2
      val qSides = Seq(math.max(8L, nVecs / 56), nVecs / 4).distinct
      val cols = qSides.map { q =>
        // ABBA + min per engine: the IVF candidate path is
        // shuffle-bound and hence host-IO-window sensitive (a degraded
        // draw measured 140 s where healthy windows repeat ~12 s);
        // min-of-reps is the estimator of true cost (Bench discipline)
        val draws = Seq("brute", "ivf", "ivf", "brute").map {
          case "brute" =>
            "brute" -> timed(Similarity.bruteForceTopK(emb, q, 10).count())
          case _ =>
            "ivf" -> timed(Similarity.ivfTopK(emb, q, 10,
              probes = probes).count())
        }
        def best(tag: String) = draws.collect { case (`tag`, (_, s)) => s }.min
        val (nb, bSec) = (draws.collect { case ("brute", (r, _)) => r }.head, best("brute"))
        val (ni, iSec) = (draws.collect { case ("ivf", (r, _)) => r }.head, best("ivf"))
        val pb = Similarity.TopKCost.bruteSec(nVecs, q)
        val pi = Similarity.TopKCost.ivfSec(nVecs, q, probes)
        val autoPick = if (pb <= pi) "brute" else "ivf"
        val fasterIsAuto =
          if (bSec < iSec) autoPick == "brute" else autoPick == "ivf"
        f""""q$q":{"brute_sec":$bSec%.2f,"brute_rows":$nb,"ivf_sec":$iSec%.2f,"ivf_rows":$ni,"model_brute_sec":$pb%.2f,"model_ivf_sec":$pi%.2f,"auto_pick":"$autoPick","auto_is_faster":$fasterIsAuto}"""
      }
      println(s"""{"annx_vecs":$nVecs,"crossover_q":${Similarity.TopKCost.crossoverQ(nVecs, probes)},${cols.mkString(",")}}""")
      emb.unpersist()
    }
    // Big-graph tier (SPARK_GRAFT_BIGGRAPH=<edges>, e.g. 100000000):
    // PregelCC + BFS only — the workloads whose 100 TB story rides on
    // round count × message volume. The A·A square is deliberately
    // excluded at this size (its ~6.4B product rows are the measured
    // O(nnz·degree) envelope from the 1M/10M tiers, not new
    // information). SPARK_GRAFT_BIGGRAPH_FASTSV=1 adds the FastSV
    // comparison column. Reports persistent-RDD count after cleanup to
    // pin the no-leak claim at scale.
    sys.env.get("SPARK_GRAFT_BIGGRAPH").foreach { eStr =>
      val nEdges = eStr.toLong
      val a = new GrbMatrix(syntheticGraph(spark, nEdges).df.cache(),
        nEdges / 8, nEdges / 8)
      val nnz = a.nvals
      val (nc, prSec) = timed(
        PregelCC.connectedComponents(a).df.select(col("v")).distinct().count())
      val (nReached, bfsSec) = timed(Bfs.levels(a, 0L).nvals)
      val fsv =
        if (!sys.env.contains("SPARK_GRAFT_BIGGRAPH_FASTSV")) ""
        else {
          val (c2, s) = timed(FastSV.connectedComponents(a)
            .df.select(col("v")).distinct().count())
          f""","fastsv_sec":$s%.2f,"components_fastsv":$c2"""
        }
      a.df.unpersist(true)
      val leftover = spark.sparkContext.getPersistentRDDs.size
      println(f"""{"edges":$nEdges,"nnz":$nnz,"pregel_sec":$prSec%.2f,"components":$nc,"bfs_sec":$bfsSec%.2f,"bfs_reached":$nReached,"persistent_rdds_after":$leftover$fsv}""")
    }
    // Graph-algorithm family tier (SPARK_GRAFT_GRAPHFAM=<edges>):
    // the round-11 additions at synthetic-graph scale — MSF
    // (Borůvka), betweenness (Brandes backward), link prediction
    // (packed wedge mxm), HITS (10 alternating products). Edge cap
    // ~4M on this tier: MSF's packed key needs ids < 2²¹ and
    // betweenness's per-edge product σᵤ·(10⁶+δᵥ) needs
    // σ_max·n·10⁶ < 2⁶³ — both hold at n = edges/8 ≤ 500k with this
    // generator's ~log₁₆(n) diameter (bounds in the scaladocs; a
    // bigger corpus needs the log-space σ variant, documented not
    // silently saturated).
    // SPARK_GRAFT_GRAPHFAM_ONLY=<csv of msf,btw,linkpred,hits,walks>
    // limits the tier to the named algorithms — the fresh-session
    // protocol (round-11 item 4): the 5-in-one-session tier carries
    // in-session contamination (GC debt + async cleanup from the
    // earlier algorithms inflate the later rows — hits drew 88.5 s in
    // a shared session vs ~50 s isolated), so per-algorithm rows are
    // drawn one JVM invocation each.
    sys.env.get("SPARK_GRAFT_GRAPHFAM").foreach { eStr =>
      val only = sys.env.get("SPARK_GRAFT_GRAPHFAM_ONLY")
        .map(_.split(",").toSet)
      def want(tag: String) = only.forall(_.contains(tag))
      val nEdges = eStr.toLong
      val g = syntheticGraph(spark, nEdges)
      val a = new GrbMatrix(g.df.cache(), g.nrows, g.ncols)
      val nnz = a.nvals
      val n = a.nrows
      val ew = a.df.filter(col("i") < col("j"))
        .select(col("i").as("a"), col("j").as("b"),
          (pmod(hash(col("i") * 131 + col("j")), lit(50)) + 1)
            .cast("long").as("w"))
      val fields = scala.collection.mutable.ListBuffer[String]()
      if (want("msf")) {
        val (msfEdges, msfSec) = timed(Msf.forest(ew, n).count())
        fields += f""""msf_sec":$msfSec%.2f,"msf_edges":$msfEdges"""
      }
      if (want("btw")) {
        val (btwReached, btwSec) = timed(SpCount.betweenness(a, 0L).count())
        fields += f""""btw_sec":$btwSec%.2f,"btw_reached":$btwReached"""
      }
      if (want("linkpred")) {
        val (lpPairs, lpSec) = timed(LinkPred.scores(a, minCn = 3L).count())
        fields += f""""linkpred_sec":$lpSec%.2f,"linkpred_pairs":$lpPairs"""
      }
      if (want("hits")) {
        val (hitsRows, hitsSec) = timed(Hits.scores(
          new GrbMatrix(a.df.filter(col("i") < col("j")), n, n)).count())
        fields += f""""hits_sec":$hitsSec%.2f,"hits_rows":$hitsRows"""
      }
      if (want("walks")) {
        val (walkRows, walkSec) = timed {
          val w = graft.algo.RandomWalk.walks(a, steps = 4)
          val c = w.count()
          val sg = graft.algo.RandomWalk.skipGrams(w).count()
          c + sg
        }
        fields += f""""walks_sec":$walkSec%.2f,"walk_plus_sg_rows":$walkRows"""
      }
      a.df.unpersist(true)
      val leftover = spark.sparkContext.getPersistentRDDs.size
      println(s"""{"tier":"graphfam","edges":$nEdges,"nnz":$nnz,"n":$n,""" +
        fields.mkString(",") + s""","persistent_rdds_after":$leftover}""")
    }
    // HyperANF register-traffic tier (SPARK_GRAFT_ANF=<edges>,
    // round-10 item 5): the ≤256 B × nnz/round shuffle envelope,
    // MEASURED past bench scale. A listener sums shuffle write bytes
    // across the run; bytes/round vs the envelope is the claim under
    // test (register traffic, not ball size, governs cost — ball
    // sizes grow toward n while the HLL state stays 256 B). Flag when
    // measured bytes/round exceed 2× the envelope.
    sys.env.get("SPARK_GRAFT_ANF").foreach { eStr =>
      val nEdges = eStr.toLong
      val a = new GrbMatrix(syntheticGraph(spark, nEdges).df.cache(),
        nEdges / 8, nEdges / 8)
      val nnz = a.nvals
      val rounds = 4
      val written = new java.util.concurrent.atomic.AtomicLong(0L)
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          written.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(lst)
      val (nRows, anfSec) = timed(graft.algo.HyperAnf.balls(a, rounds).count())
      Thread.sleep(2000) // let the listener bus drain the last stages
      spark.sparkContext.removeSparkListener(lst)
      a.df.unpersist(true)
      val perRound = written.get() / rounds
      val envelope = 256L * nnz
      println(f"""{"tier":"anf","edges":$nEdges,"nnz":$nnz,"rounds":$rounds,"anf_sec":$anfSec%.2f,"sec_per_round":${anfSec / rounds}%.2f,"rows":$nRows,"shuffle_bytes_per_round":$perRound,"envelope_bytes":$envelope,"bytes_vs_envelope":${perRound.toDouble / envelope}%.2f,"within_2x":${perRound <= 2 * envelope}}""")
    }
    // Vertex-loop broadcast-mode tier (SPARK_GRAFT_LOOPBCAST=<edges>,
    // round-14, PERF_NOTES §17o-§17q): LPA / MIS / k-core in BOTH
    // modes on the identical synthetic graph, past bench scale — the
    // broadcast guard's gray zone under test (at 10M edges the label
    // vector is ~1.25M rows: per-round driver collects are tens of
    // MB, the regime where the zero-exchange win must pay for real
    // replication cost). Results are asserted identical across modes
    // before either time is printed.
    sys.env.get("SPARK_GRAFT_LOOPBCAST").foreach { eStr =>
      val nEdges = eStr.toLong
      val a = new GrbMatrix(syntheticGraph(spark, nEdges).df.cache(),
        nEdges / 8, nEdges / 8)
      val nnz = a.nvals
      // a 1-byte broadcast budget forces every loop's sharded plan
      def modes(name: String)(run: => (Long, Long)): Unit = {
        val (rB, bSec) = timed(run)
        spark.conf.set("spark.graft.broadcast.maxBytes", "1")
        val (rS, sSec) = timed(run)
        spark.conf.unset("spark.graft.broadcast.maxBytes")
        require(rB == rS, s"$name modes disagree: $rB vs $rS")
        println(f"""{"tier":"loopbcast","algo":"$name","edges":$nEdges,"nnz":$nnz,"n":${a.nrows},"bcast_sec":$bSec%.2f,"sharded_sec":$sSec%.2f,"ratio":${sSec / bSec}%.2f,"checksum":${rB._2}}""")
      }
      def sums(df: DataFrame): (Long, Long) = {
        // coalesce: an empty result (e.g. an empty k-core) sums to NULL
        val r = df.agg(count(lit(1)),
          coalesce(sum(col("i") * col("v")), lit(0L))).collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      modes("lpa")(
        sums(graft.algo.LabelProp.communities(a, 7).df))
      modes("mis")(
        sums(graft.algo.Mis.mis(a).df))
      // k = half the mean degree: a non-trivial core survives (k at the
      // mean degree peeled the synthetic graph to EMPTY)
      modes("kcore")(
        sums(graft.algo.KCore.kcore(a, 8L).df))
      a.df.unpersist(true)
    }
    // Planted-hub walk tier (SPARK_GRAFT_HUBWALK=<edges>, round-10
    // item 1): a 10⁵-degree hub planted on the synthetic graph. Under
    // the round-9 per-vertex row_number window the hub's whole edge
    // list sorted in ONE task; the salted rank must show no such
    // straggler — max task duration within ~2× of the p95 across the
    // walk build (median is dominated by thousands of trivial tasks,
    // so p95 is the honest denominator for "no single-task wall").
    // Also records the banded skip-gram join's candidate volume at
    // L=80 next to the un-banded (L+1)² self-join it replaced.
    // SPARK_GRAFT_HUBWALK=<edges>[:<hubDegree>] — vary the hub degree
    // to show the max task no longer scales with it (the pre-fix
    // single-task hub sort did, linearly)
    sys.env.get("SPARK_GRAFT_HUBWALK").foreach { eSpec =>
      val parts = eSpec.split(":")
      val nEdges = parts(0).toLong
      val n = nEdges / 8
      val hubDeg = if (parts.length > 1) parts(1).toLong else 100000L
      val bg = syntheticGraph(spark, nEdges).df
        .filter(col("i") =!= 0L && col("j") =!= 0L)
      val spokes = spark.range(1L, hubDeg + 1L)
        .select(col("id").as("t"))
        .select(explode(array(
          struct(lit(0L).as("i"), col("t").as("j")),
          struct(col("t").as("i"), lit(0L).as("j")))).as("e"))
        .select(col("e.i"), col("e.j"), lit(1L).as("v"))
      val a = new GrbMatrix(bg.unionByName(spokes).cache(), n, n)
      val nnz = a.nvals
      val durs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val stageMax = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
      val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null && te.taskInfo.successful) {
            durs.add(te.taskInfo.duration)
            // straggler attribution: per-stage max task duration
            stageMax.merge(te.stageId, te.taskInfo.duration,
              (x, y) => math.max(x, y))
          }
        override def onStageCompleted(
            sc2: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stageName.put(sc2.stageInfo.stageId,
            sc2.stageInfo.name.takeWhile(_ != '\n').take(80))
      }
      spark.sparkContext.addSparkListener(lst)
      val (nWalkRows, walkSec) = timed(
        graft.algo.RandomWalk.walks(a, steps = 4).count())
      Thread.sleep(2000)
      spark.sparkContext.removeSparkListener(lst)
      val ds = durs.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
      val maxD = if (ds.nonEmpty) ds.last else 0L
      val p95 = if (ds.nonEmpty) ds((ds.length * 95) / 100 min (ds.length - 1)) else 0L
      // top-3 stages by their slowest task, printed to stderr for the
      // straggler hunt (which stage owns task_max_ms)
      import scala.jdk.CollectionConverters._
      stageMax.asScala.toSeq.sortBy(-_._2).take(3).foreach { case (sid, d) =>
        System.err.println(s"hubwalk straggler: stage=$sid maxTaskMs=$d " +
          s"name=${stageName.getOrDefault(sid, "?")}")
      }
      // banded vs un-banded skip-gram candidate volume at L=80 on a
      // small start set (walk corpus cost dominates otherwise)
      val small = new GrbMatrix(a.df.filter(col("i") < 2000 && col("j") < 2000),
        2000L, 2000L)
      val w80 = graft.algo.RandomWalk.walks(small, steps = 80)
        .localCheckpoint(true)
      val nWalks80 = w80.select(col("start")).distinct().count()
      val (nBanded, bandSec) = timed(
        graft.algo.RandomWalk.skipGramCandidates(w80, 2).count())
      val unbanded = nWalks80 * 81L * 81L // the replaced self-join's output
      a.df.unpersist(true)
      println(f"""{"tier":"hubwalk","edges":$nEdges,"nnz":$nnz,"hub_degree":$hubDeg,"walk_sec":$walkSec%.2f,"walk_rows":$nWalkRows,"task_max_ms":$maxD,"task_p95_ms":$p95,"max_vs_p95":${if (p95 > 0) maxD.toDouble / p95 else -1.0}%.2f,"n_tasks":${ds.length},"sg80_walks":$nWalks80,"sg80_banded_candidates":$nBanded,"sg80_unbanded_candidates":$unbanded,"sg80_cand_sec":$bandSec%.2f}""")
    }
    // Planted-skew tier (SPARK_GRAFT_SKEW=<nDocs>): a 10% boilerplate
    // cluster (one hot LSH bucket of n/10 docs per band) drives the
    // candidate join quadratic when the hot-bucket guard is off, flat
    // when on (default). Reports candidate counts + wall-clock both
    // ways, recall of the planted honest near-dups under the guard,
    // the exact-dedup recovery of the boilerplate cluster, and whether
    // AQE's skew-join split engages on the uncapped join when it is
    // forced to shuffle (the 100 TB shape — locally the bands frame
    // broadcasts, so SMJ + scaled-down skew thresholds emulate it).
    sys.env.get("SPARK_GRAFT_SKEW").foreach { nStr =>
      val nDocs = nStr.toLong
      val docs = syntheticDocsSkewed(spark, nDocs).cache()
      docs.count()
      val (cu, cuSec) = timed(TextDedup.lshCandidates(docs, maxBucket = 0).count())
      val (cc, ccSec2) = timed(TextDedup.lshCandidates(docs).count())
      // construction + count timed TOGETHER: materialize=true runs the
      // dedup eagerly (localCheckpoint) at construction, so timing only
      // the count would measure a checkpoint scan, not the dedup. The
      // frame is kept for the recall filters below (cheap: checkpointed).
      val (ndUncapped, ndUSec) = timed {
        val nd = TextDedup.nearDuplicates(docs, maxBucket = 0); nd.count(); nd
      }
      val ndU = ndUncapped.count()
      val (ndCapped, ndCSec) = timed {
        val nd = TextDedup.nearDuplicates(docs); nd.count(); nd
      }
      val ndC = ndCapped.count()
      // recall of the planted honest near-dups must be IDENTICAL with
      // the guard on — the capped buckets are boilerplate, not near-dups
      val isPlanted = col("b") === col("a") + 1 && col("b") % 10 === 1
      val planted = ndCapped.filter(isPlanted).count()
      val plantedU = ndUncapped.filter(isPlanted).count()
      val hot = TextDedup.exact(docs).filter(col("cnt") > 1)
        .agg(max(col("cnt"))).collect()(0).getLong(0)
      // AQE skew-split probe: force the band join to shuffle and scale
      // the skew thresholds to local data volume, then look for the
      // skew=true marker in the final adaptive plan.
      val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .map(k => k -> spark.conf.getOption(k)).toMap
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
      val probe = TextDedup.lshCandidates(docs, maxBucket = 0)
      probe.count()
      val aqeSkew = probe.queryExecution.executedPlan.toString.contains("skew=true")
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      println(f"""{"skew_docs":$nDocs,"hot_cluster":$hot,"cand_uncapped":$cu,"cand_uncapped_sec":$cuSec%.2f,"cand_capped":$cc,"cand_capped_sec":$ccSec2%.2f,"nd_uncapped":$ndU,"nd_uncapped_sec":$ndUSec%.2f,"nd_capped":$ndC,"nd_capped_sec":$ndCSec%.2f,"planted_recovered":$planted,"planted_uncapped":$plantedU,"aqe_skew_split":$aqeSkew}""")
      docs.unpersist()
    }
    // Iterative-tail cost-structure tier (SPARK_GRAFT_ITERTAIL=<sfDir>,
    // round-11 item 1): the checkpoint-per-round loops (q_lpa/q_hits/
    // q_kcore/q_mis) run 2-4× above their healthy records in degraded
    // host windows. This tier decomposes the exact q_lpa loop per
    // round — dataWall (Σ task executorRunTime / cores) vs
    // overheadWall (wall − dataWall: scheduler, checkpoint commit,
    // driver planning), GC, shuffle-write bytes+time, fetch-wait —
    // and sweeps the two candidate knobs: loop WIDTH (shuffle/
    // checkpoint block count per round) and checkpoint CADENCE
    // (every round vs every 2nd round; a lazy round's work executes
    // inside the next checkpoint job, so cadence 2 halves the
    // per-round fixed job+commit cost at O(2-round) plan depth).
    // A label checksum pins that every (width, cadence) variant
    // computes the identical labelling.
    sys.env.get("SPARK_GRAFT_ITERTAIL").foreach { dir =>
      import graft.algo.Iterate.FreshOps
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val offset = 1L << 20
      val e0 = li.select(col("l_orderkey").cast("long").as("a"),
        (col("l_partkey") + offset).as("b")).distinct()
      val edges = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      val raw = edges.select(col("a").as("i"), col("b").as("j")).cache()
      val nnz = raw.count()
      val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val swBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val swTimeNs = new java.util.concurrent.atomic.AtomicLong(0L)
      val fetchMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val nTasks = new java.util.concurrent.atomic.AtomicLong(0L)
      val nJobs = new java.util.concurrent.atomic.AtomicLong(0L)
      val lst = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) {
            runMs.addAndGet(te.taskMetrics.executorRunTime)
            gcMs.addAndGet(te.taskMetrics.jvmGCTime)
            swBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
            swTimeNs.addAndGet(te.taskMetrics.shuffleWriteMetrics.writeTime)
            fetchMs.addAndGet(te.taskMetrics.shuffleReadMetrics.fetchWaitTime)
            nTasks.incrementAndGet()
          }
      }
      spark.sparkContext.addSparkListener(lst)
      val cores = math.max(1, spark.sparkContext.defaultParallelism)
      def reset(): Unit = Seq(runMs, gcMs, swBytes, swTimeNs, fetchMs,
        nTasks, nJobs).foreach(_.set(0L))
      def snap(): String = {
        org.apache.spark.sql.graft.ListenerQuiesce
          .waitUntilEmpty(spark.sparkContext)
        f""""data_wall_s":${runMs.get() / 1000.0 / cores}%.2f,"gc_s":${gcMs.get() / 1000.0}%.2f,"shuffle_write_mb":${swBytes.get() / 1048576.0}%.1f,"shuffle_write_s":${swTimeNs.get() / 1e9}%.2f,"fetch_wait_s":${fetchMs.get() / 1000.0}%.2f,"tasks":${nTasks.get()},"jobs":${nJobs.get()}"""
      }
      val key = "spark.sql.shuffle.partitions"
      val prevConf = spark.conf.get(key)
      for (width <- Seq(32, 16, 8); cadence <- Seq(1, 2)) {
        val adj = raw.repartition(width, col("j")).cache()
        adj.count()
        spark.conf.set(key, width.toString)
        graft.algo.Iterate.scope(spark, "itertail") { loop =>
        var l = loop.checkpoint("labels", adj.select(col("i")).distinct()
          .select(col("i"), col("i").cast("long").as("v")))
        reset()
        val tTotal0 = System.nanoTime()
        for (r <- 1 to 7) {
          val t0 = System.nanoTime()
          val stepped = graft.algo.LabelProp.round(adj, l)
          if (r % cadence == 0 || r == 7) {
            l = loop.checkpoint("labels", stepped)
            val wall = (System.nanoTime() - t0) / 1e9
            println(f"""{"tier":"itertail","width":$width,"cadence":$cadence,"round":$r,"wall_s":$wall%.2f,${snap()}}""")
            reset()
          } else l = stepped
        }
        val totalWall = (System.nanoTime() - tTotal0) / 1e9
        val checksum = l.agg(sum(col("i") * col("v"))).collect()(0).getLong(0)
        val nLabels = l.count()
        adj.unpersist(false)
        println(f"""{"tier":"itertail","width":$width,"cadence":$cadence,"total_s":$totalWall%.2f,"labels":$nLabels,"checksum":$checksum}""")
        }
      }
      spark.conf.set(key, prevConf)
      spark.sparkContext.removeSparkListener(lst)
      raw.unpersist(false)
    }
    spark.stop()
  }
}
