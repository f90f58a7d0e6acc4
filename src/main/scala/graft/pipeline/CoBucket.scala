package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Co-bucket candidate pairs: the one recipe behind every bucketed
  * self-join (MinHash and hyperplane LSH bands, shingle postings,
  * SimHash tables, IVF cells, the catalog's part co-occurrence graph).
  * With R the id × bucket-key incidence matrix, the candidates are the
  * strict upper triangle of R·Rᵀ over plus_pair: [[pairs]] emits one
  * row per (a < b, shared key), so a caller's `distinct` is the pattern
  * and its `groupBy(a, b)` count the number of shared keys. Work is
  * Σ bucket², never n².
  *
  * One hot key of B rows expands to B(B-1)/2 pairs. The bucket size is
  * ONE window count over the caller's own key columns, the partitioning
  * the self-join shuffles on anyway (a stats aggregate + anti-join
  * re-planned the upstream pipeline once per join side, round 6). What
  * a cap means depends on the key space. An md5 band signature or a
  * word shingle has a huge one, so an honest bucket is a handful of
  * near-dups and one past a [[Fixed]] cap is boilerplate: MinHash links
  * it as a [[HubStar]], shingle Jaccard [[Rejoin]]s it, contamination
  * drops it ([[within]]). Hyperplane bands (2^rowsPerBand buckets),
  * SimHash tables and IVF cells spread the corpus by design, so a fixed
  * cap would drop honest pairs at scale and the lever is the key space:
  * SimHash and IVF run [[Uncapped]], hyperplane LSH keeps only the
  * [[Auto]] collapse guard.
  */
private[graft] object CoBucket {

  sealed trait Cap
  case object Uncapped extends Cap
  /** a bucket of more than `n` rows is over the cap */
  final case class Fixed(n: Int) extends Cap
  /** collapse guard: over past max(1000, |universe|/4) rows, 4× a 4-row
    * hyperplane band's uniform occupancy, which no healthy split reaches
    * (|universe| is a 1-row aggregate broadcast onto every row) */
  final case class Auto(universe: DataFrame) extends Cap
  object Cap {
    /** the `maxBucket` / `maxShingleDf` convention: ≤ 0 disables */
    def fixed(n: Int): Cap = if (n <= 0) Uncapped else Fixed(n)
  }

  sealed trait OverCap
  /** HUB-STAR CONTRACT: each over-cap member pairs with its bucket's min
    * id only, O(B) pairs, so after verification a templated cluster stays
    * linked through its hub while a hash-collision bucket is still
    * filtered pair by pair. OMITTED are the member × member pairs not
    * through the hub (in a transitive closure, not in a pair list): for
    * dedup the star is enough; all pairs need a higher cap.
    */
  case object HubStar extends OverCap
  /** over-cap rows take no part */
  case object Drop extends OverCap
  /** a pair sharing an under-cap key also gets a row per over-cap key it
    * shares: the cap prunes candidate GENERATION, not the shared count */
  case object Rejoin extends OverCap

  /** one row per (a < b, shared key) of `id` bucketed by `keys`: the
    * keys under their own names, `a`, `b`, and each side's `payload`
    * (`column → (a's name, b's name)`; [[Uncapped]] and [[Drop]] only).
    * `share` wraps the one frame every branch reads (the rows, the
    * capped rows, the bucket-annotated rows under [[HubStar]], the
    * sub-cap pair rows under [[Rejoin]]): a caller passes its scope's
    * cache so that work runs once, not per branch (PERF_NOTES §6, §22).
    */
  def pairs(rows: DataFrame, id: String, keys: Seq[String],
      cap: Cap = Uncapped, overCap: OverCap = Drop,
      payload: Map[String, (String, String)] = Map.empty,
      share: DataFrame => DataFrame = identity): DataFrame =
    (cap, overCap) match {
      case (Uncapped, _) => selfJoin(share(rows), id, keys, payload)
      case (_, Drop) => selfJoin(share(within(rows, keys, cap)), id, keys, payload)
      case _ =>
        val (sized, limit) = annotate(rows, keys, cap, "_n")
        val over = col("_n") > limit
        if (overCap == HubStar) {
          val ann = share(sized.withColumn("_min",
            min(col(id)).over(Window.partitionBy(keys.map(col): _*))))
          selfJoin(ann.filter(col("_n") <= limit), id, keys, payload)
            .unionByName(ann.filter(over && col(id) > col("_min"))
              .select(keys.map(col) :+ col("_min").as("a") :+ col(id).as("b"): _*))
        } else {
          val co = share(selfJoin(sized.filter(col("_n") <= limit), id, keys, payload))
          def side(name: String) = sized.filter(over).select(col(id).as(name) +: keys.map(col): _*)
          co.unionByName(co.select("a", "b").distinct()
            .join(side("a"), Seq("a")).join(side("b"), "b" +: keys))
        }
    }

  /** the rows of the buckets within `cap`, for a join that is not a
    * self-join; `size` names the count column (a shingle's is `_df`)
    */
  def within(rows: DataFrame, keys: Seq[String], cap: Cap,
      size: String = "_n"): DataFrame =
    if (cap == Uncapped) rows
    else {
      val (sized, limit) = annotate(rows, keys, cap, size)
      sized.filter(col(size) <= limit).drop(size, "_t")
    }

  /** `rows` with its bucket's size in `size`, and the cap as a column */
  private def annotate(rows: DataFrame, keys: Seq[String], cap: Cap,
      size: String): (DataFrame, Column) = {
    val sized = rows.withColumn(size, count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    cap match {
      case Auto(universe) =>
        (sized.crossJoin(broadcast(universe.agg(count(lit(1)).as("_t")))),
          greatest(lit(1000L), col("_t") / 4))
      case Fixed(n) => (sized, lit(n))
      case Uncapped => throw new IllegalArgumentException("uncapped buckets have no size")
    }
  }

  private def selfJoin(rows: DataFrame, id: String, keys: Seq[String],
      payload: Map[String, (String, String)]): DataFrame = {
    def side(name: String, pick: ((String, String)) => String) =
      rows.select(keys.map(col) ++ (col(id).as(name) +:
        payload.toSeq.map { case (c, names) => col(c).as(pick(names)) }): _*)
    side("a", _._1).join(side("b", _._2), keys).filter(col("a") < col("b"))
  }
}
