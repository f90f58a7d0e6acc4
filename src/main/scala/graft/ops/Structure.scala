package graft.ops

import graft.core._
import org.apache.spark.sql.functions._

/** Structural constructors: concat/stack (reference
  * dask_grblas/construction.py:7-33) and diag
  * (dask_grblas/ss/_core.py:15-57 + the ~235 lines of chunk-boundary
  * kernels in vector.py:272-311,595-689 and matrix.py:314-414 — all of
  * which collapse to one projection/filter on a global-index COO frame).
  * diag, tril and triu re-key or filter one input, so their results
  * keep its declared dtype.
  */
object Structure {

  /** concatenate vectors along the axis: union with index offsets */
  def concatVectors(vs: Seq[GrbVector]): GrbVector = {
    require(vs.nonEmpty)
    val offsets = vs.map(_.size).scanLeft(0L)(_ + _)
    val dfs = vs.zip(offsets).map { case (v, off) =>
      v.df.select((col("i") + lit(off)).as("i"), col("v"))
    }
    new GrbVector(dfs.reduce(_ unionByName _), offsets.last)
  }

  /** stack matrices vertically (row_stack) */
  def rowStack(ms: Seq[GrbMatrix]): GrbMatrix = {
    require(ms.nonEmpty && ms.forall(_.ncols == ms.head.ncols))
    val offsets = ms.map(_.nrows).scanLeft(0L)(_ + _)
    val dfs = ms.zip(offsets).map { case (m, off) =>
      m.df.select((col("i") + lit(off)).as("i"), col("j"), col("v"))
    }
    new GrbMatrix(dfs.reduce(_ unionByName _), offsets.last, ms.head.ncols)
  }

  /** stack matrices horizontally (column_stack) */
  def columnStack(ms: Seq[GrbMatrix]): GrbMatrix = {
    require(ms.nonEmpty && ms.forall(_.nrows == ms.head.nrows))
    val offsets = ms.map(_.ncols).scanLeft(0L)(_ + _)
    val dfs = ms.zip(offsets).map { case (m, off) =>
      m.df.select(col("i"), (col("j") + lit(off)).as("j"), col("v"))
    }
    new GrbMatrix(dfs.reduce(_ unionByName _), ms.head.nrows, offsets.last)
  }

  /** vector → matrix with the vector on the k-th diagonal
    * (ss.diag, ss/_core.py:15-35)
    */
  def diagMatrix(v: GrbVector, k: Long = 0L): GrbMatrix = {
    val n = v.size + math.abs(k)
    val rowOff = if (k < 0) -k else 0L
    val colOff = if (k > 0) k else 0L
    GrbMatrix.labelled(
      v.df.select((col("i") + lit(rowOff)).as("i"), (col("i") + lit(colOff)).as("j"), col("v")),
      Seq(n, n), v.declared)
  }

  /** matrix → k-th diagonal as a vector (ss.diag, ss/_core.py:36-57) */
  def diagVector(m: GrbMatrix, k: Long = 0L): GrbVector = {
    val len =
      if (k >= 0) math.max(0L, math.min(m.nrows, m.ncols - k))
      else math.max(0L, math.min(m.nrows + k, m.ncols))
    GrbVector.labelled(
      m.df.filter(col("j") - col("i") === k)
        .select((if (k >= 0) col("i") else col("j")).as("i"), col("v")),
      Seq(len), m.declared)
  }

  /** lower/upper-triangle selects (GxB_select TRIL/TRIU analogues —
    * the reference's GraphBLAS spec target; pure filters)
    */
  def tril(m: GrbMatrix, k: Long = 0L): GrbMatrix =
    m.derive(m.df.filter(col("j") - col("i") <= k), m.declared)

  def triu(m: GrbMatrix, k: Long = 0L): GrbMatrix =
    m.derive(m.df.filter(col("j") - col("i") >= k), m.declared)
}
