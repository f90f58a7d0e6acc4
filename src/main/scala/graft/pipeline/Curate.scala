package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo.Iterate

/** The end-to-end corpus curation verdict — the composition every
  * training-data pipeline actually ships: one frame per document with
  * every drop reason and the final keep decision.
  *
  *   - `flag_quality`       fails the Gopher-rule filter
  *                          ([[TextStats.qualityFilter]])
  *   - `flag_exact_dup`     not the canonical (min-id) copy of its
  *                          exact content group ([[TextDedup.exact]])
  *   - `flag_near_dup`      the higher-id side of a verified MinHash
  *                          near-dup pair ([[TextDedup.nearDuplicates]]
  *                          — pairs are (a < b), so canonical lowest
  *                          ids survive)
  *   - `flag_contaminated`  contains a benchmark document by n-gram
  *                          containment ([[TextDedup.contamination]];
  *                          the bench slice is doc_id % benchMod = 0)
  *   - `is_bench`           the benchmark slice itself (never kept
  *                          into training data)
  *   - `keep`               1 iff none of the above
  *
  * Each component is individually oracle-verified; this frame is the
  * INTEGRATION check — the flags must compose through the outer joins
  * without drift, and the oracle replays the whole pipeline in one
  * SQL statement.
  *
  * Scale shape: strictly the union of the components' shapes (each
  * documented at its definition) plus four doc_id equi-joins on
  * already-aggregated frames — no new shuffle class, nothing
  * quadratic. The corpus is SHINGLE-EXPLODED ONCE and the cached
  * frame is shared by the near-dup and contamination stages (their
  * train/bench inputs are filters of it) — composed standalone they
  * would explode the corpus three times, and the explode is the
  * family's dominant primitive. At 100 TB each stage would persist
  * its flag frame and the verdict join runs over doc_id-bucketed
  * flag tables, with the shingle frame persisted once the same way.
  */
object Curate {

  def curationVerdict(docs: DataFrame, benchMod: Long = 50L): DataFrame =
    Iterate.scope(docs.sparkSession, "Curate") { s =>
      val q = TextStats.qualityFilter(docs)
        .select(col("doc_id"), col("keep").as("q_keep"))
      val ex = docs.select(col("doc_id"), md5(col("text")).as("h"))
        .join(TextDedup.exact(docs), Seq("h"))
        .select(col("doc_id"),
          when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L).as("flag_exact_dup"))
      // released when the scope closes: nd/cont are checkpointed
      val sh = s.cache(TextDedup.explodedShingles(docs))
      val nd = TextDedup.nearDuplicatesOnShingles(sh)
        .select(col("b").as("doc_id")).distinct()
        .withColumn("_nd", lit(1L))
      val cont = TextDedup.contaminationOnShingles(
          sh.filter(col("doc_id") % benchMod =!= 0),
          sh.filter(col("doc_id") % benchMod === 0))
        .select(col("train_id").as("doc_id")).distinct()
        .withColumn("_ct", lit(1L))
      docs.select(col("doc_id"),
          when(col("doc_id") % benchMod === 0, 1L).otherwise(0L).as("is_bench"))
        .join(q, Seq("doc_id"))
        .join(ex, Seq("doc_id"))
        .join(nd, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_bench"),
          (lit(1L) - col("q_keep")).as("flag_quality"),
          col("flag_exact_dup"),
          coalesce(col("_nd"), lit(0L)).as("flag_near_dup"),
          coalesce(col("_ct"), lit(0L)).as("flag_contaminated"))
        .withColumn("keep",
          (col("is_bench") === 0L && col("flag_quality") === 0L &&
            col("flag_exact_dup") === 0L && col("flag_near_dup") === 0L &&
            col("flag_contaminated") === 0L).cast("long"))
    }
}
