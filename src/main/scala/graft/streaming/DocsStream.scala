package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming document-pipeline operators: the continuous-ingestion
  * side of pipeline/TextDedup, over the same documents schema
  * (doc_id, text, …). Batch/stream parity: Trigger.AvailableNow over a
  * static directory produces exactly the batch operator's result.
  */
object DocsStream {

  /** streaming exact dedup — the ledger a continuous corpus ingest
    * keeps: per content hash, the first (smallest) doc_id and the
    * running duplicate count. Complete-mode aggregation state is one
    * row per DISTINCT content — the minimum any exact-dedup ledger
    * needs — and matches `TextDedup.exact` on the same data.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).cast(LongType).as("keep_id"),
        count(lit(1)).cast(LongType).as("cnt"))

  /** streaming per-stratum quota sample: the bounded top-k buffer of
    * [[org.apache.spark.sql.graft.TopKPairs]] IS the streaming
    * aggregation state — at most `quota` (hash, doc_id) entries per
    * stratum regardless of how many documents arrive, the streaming
    * analogue of reservoir sampling but DETERMINISTIC (hash-least
    * selection, so the drained result is exactly the batch
    * `Sampling.stratifiedSample` over the same documents — order-free:
    * per-microbatch updates merge into the buffer like map-side
    * partials).
    *
    * Emits the aggregated (stratum, top) array; callers explode to
    * (stratum, doc_id, rank) after draining — Spark disallows
    * generators downstream of a streaming aggregation, so the explode
    * belongs on the sink side.
    */
  def stratifiedQuotaSample(docs: DataFrame, strataCol: String,
      quota: Int): DataFrame =
    docs.groupBy(col(strataCol))
      .agg(org.apache.spark.sql.graft.TopKPairs(
        (-graft.pipeline.TextDedup.hash32(col("text"))).cast("double"),
        col("doc_id"), quota).as("top"))

  /** sink-side explode of [[stratifiedQuotaSample]]'s drained result to
    * the batch operator's (stratum, doc_id, rank) shape
    */
  def explodeQuota(drained: DataFrame, strataCol: String): DataFrame =
    drained.select(col(strataCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(strataCol), col("t").getField("id").as("doc_id"),
        (col("pos") + 1).cast(LongType).as("rank"))

  /** streaming token-frequency telemetry: the Count-Min counter grid
    * of [[org.apache.spark.sql.graft.CmsState]] IS the streaming
    * aggregation state — 32 KiB per source at ANY ingest volume (an
    * exact streaming `GROUP BY token` would hold every distinct token
    * as state). Per-microbatch updates ADD into the counters exactly
    * like map-side partials (sum-merge is associative and order-free),
    * so the complete-mode drain is bit-identical to the batch sketch
    * over the same documents and shares its oracle. Probe the drained
    * states on the sink side (graft.pipeline.Sketch.probeWatchlist) —
    * the watchlist join belongs after the drain, like
    * [[explodeQuota]].
    */
  def cmsTokenStates(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("tk"))
      .groupBy("source")
      .agg(org.apache.spark.sql.graft.CmsState(
        graft.pipeline.Sketch.cmsPacked(col("tk"))).as("state"))

  /** Streaming MinHash signature states — the continuous-ingest half
    * of the near-dup screen: per arriving doc a K-column min-hash
    * signature held as streaming aggregation state (K longs per doc).
    * MIN-merge is associative and order-free, so a document whose
    * rows arrive across SEVERAL microbatches still drains the exact
    * batch signature — the property that makes the state mergeable
    * rather than merely accumulating. Probe the drained states on the
    * sink side (TextDedup.bandSigsFromSignatures →
    * TextDedup.probeLedgerBands): the band explode is a generator,
    * which Spark disallows downstream of a streaming aggregation, so
    * it belongs after the drain, like [[explodeQuota]].
    */
  def minhashSignatureStates(docs: DataFrame): DataFrame =
    graft.pipeline.TextDedup.minhashSignatures(docs)

  /** Streaming train-corpus contamination screen — the ingest-time
    * decontamination gate: the BENCHMARK shingle ledger is a STATIC
    * frame (built once from the held-out eval corpora, small by
    * nature, so the stream-static equi-join broadcasts it); arriving
    * training documents explode to their distinct shingles and count
    * ledger matches per (bench_id, train_id) as streaming aggregation
    * state. COUNT-merge is associative and order-free, so the drain
    * equals the batch intersection regardless of batch boundaries.
    *
    * Documented contract difference vs TextDedup.contamination: no
    * train-side stop-shingle df cap — train-shingle df is unbounded
    * streaming state by definition. If the BENCH corpus carries
    * boilerplate shingles, cap the ledger at build time instead (its
    * df is static). The containment threshold and nb attach happen
    * sink-side on the drained frame (both static), like every probe
    * in this file.
    */
  def contaminationStates(train: DataFrame,
      benchShingles: DataFrame): DataFrame =
    train.select(col("doc_id").as("train_id"),
        explode(graft.pipeline.TextDedup.shingles(col("text"))).as("sh"))
      .join(benchShingles, Seq("sh"))
      .groupBy(col("bench_id"), col("train_id"))
      .agg(count(lit(1)).cast(LongType).as("inter"))

  /** the static benchmark shingle ledger [[contaminationStates]]
    * probes: one (sh, bench_id) row per distinct shingle per bench doc
    */
  def benchShingleLedger(bench: DataFrame): DataFrame =
    graft.pipeline.TextDedup.explodedShingles(bench)
      .select(col("sh"), col("doc_id").as("bench_id"))

  /** file-source stream over a parquet directory (documents, events,
    * …), with the schema of the files already there */
  def readDocsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(dir)
}
