package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._

/** k-truss decomposition — the triangle-cohesion pruning loop (the
  * LAGraph/GraphChallenge flagship alongside triangle counting): keep
  * exactly the edges supported by ≥ k−2 triangles among surviving
  * edges, iterating because each drop can strip support from its
  * neighbours. The fixpoint is the maximal subgraph where every edge
  * closes k−2 triangles — the standard community-core sharper than
  * k-core (degree can be faked by stars; triangles cannot).
  *
  * Per round ONE masked plus_pair mxm — C⟨E⟩ = E·E on the symmetric
  * surviving edge set gives every edge's common-neighbour count (its
  * support) at triangle-counting cost, the identical plan shape as
  * q_triangle/q_clustering — then a filter and a count. Support is
  * symmetric, so filtering preserves the symmetric edge set.
  * Convergence is count-stability: the kept set is always a subset of
  * the round's input, so an unchanged count IS set equality (the
  * KCore nvals-shrink argument). Measured on the bench co-occurrence
  * graph: fixpoint in ≤3 rounds at every shipped SF; the oracle
  * unrolls 5 (idempotent past the fixpoint).
  *
  * @param a symmetric adjacency (self-loops dropped); values ignored
  * @return surviving strictly-upper edges (i, j, sup) with their
  *         final support — sup ≥ k−2 everywhere by construction
  */
object KTruss {

  def ktruss(a: GrbMatrix, k: Long, maxIter: Int = 50): DataFrame = {
    if (a.nrows != a.ncols) GraphblasException.dimensionMismatch(
      s"ktruss adjacency must be square: ${a.nrows}x${a.ncols}")
    require(k >= 3L, s"ktruss needs k >= 3, got $k")
    Iterate.scope(a.df.sparkSession, "KTruss") { loop =>
    var (e: DataFrame, eProbe0) = loop.probe("e",
      a.df.select(col("i"), col("j")).filter(col("i") =!= col("j")),
      count(lit(1)).as("n"))
    var n = eProbe0.getLong(0)
    // rounds × block fan-out is the fixed cost — run the peel at the
    // loop width (Iterate.Loop.sized); the support mxm's product
    // rows stay bounded by wedge counts on the surviving edge set
    loop.sized(n)
    var sup: DataFrame = e.withColumn("v", lit(0L)).limit(0)
    var done = n == 0L
    loop.rounds(maxIter)(!done) { _ =>
      val em = new GrbMatrix(e.withColumn("v", lit(1L)), a.nrows, a.ncols)
      val c = em.mxm(em, Ops.plusPair, mask = Some(Mask.structural(em.df)))
      // surviving-edge count rides the checkpoint job (observed
      // metric). keepPartitioning=false: carrying the support frame's
      // (i,j) clustering into the next round's masked product changed
      // the mask-join plan and measured ~1.5x WORSE on the bench graph
      // (4.2 vs 2.7 s single-rep A/B) — the masked family is
      // deliberately Catalyst-chosen (mxm scaladoc), so the loop state
      // stays partitioning-free as in r14.
      val (s, probeRow) = loop.probe("e", c.df.filter(col("v") >= k - 2),
        count(lit(1)).as("n"), keepPartitioning = false)
      val n2 = probeRow.getLong(0)
      sup = s
      // kept ⊆ input edges, so equal count == equal set == fixpoint
      if (n2 == n) done = true
      else { n = n2; e = s.select(col("i"), col("j")) }
    }
    sup.filter(col("i") < col("j"))
      .select(col("i"), col("j"), col("v").as("sup"))
    }
  }
}
