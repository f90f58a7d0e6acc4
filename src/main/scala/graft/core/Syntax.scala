package graft.core

/** Infix sugar mirroring the reference's user-facing API
  * (dask_grblas/base.py:181-188 `|`/`&`/`@` via grblas infix, and the
  * `C(mask, accum, replace) << expr` updater protocol,
  * base.py:141-177 / expr.py:566-649):
  *
  * {{{
  * import graft.core.Syntax._
  * val u = (f | mngp)(Ops.min)         // ewise_add over min
  * val m = (gp & gpDup)(Ops.ne)        // ewise_mult over ne
  * val y = A %*% (gp, Ops.minSecond)   // mxv (Scala has no bare @)
  * val c2 = c.upd(mask, Ops.plus, replace = true) << result
  * }}}
  */
object Syntax {

  /** structural-union pending expression: `(a | b)(op)` */
  final class PendingUnion(a: GrbVector, b: GrbVector) {
    def apply(op: BinaryOp): GrbVector = a.ewiseAdd(b, op)
  }
  /** structural-intersection pending expression: `(a & b)(op)` */
  final class PendingIntersection(a: GrbVector, b: GrbVector) {
    def apply(op: BinaryOp): GrbVector = a.ewiseMult(b, op)
  }

  /** `C(mask, accum, replace)` output descriptor awaiting `<<` */
  final class Updater[C <: GrbCollection[C]](target: GrbCollection[C], desc: Desc) {
    def <<(result: C): C = target.accept(result, desc)
  }

  /** the updater forms, on vectors and matrices alike */
  implicit final class UpdaterOps[C <: GrbCollection[C]](private val c: GrbCollection[C])
      extends AnyVal {
    // named `upd` (not `apply`): a class member named apply blocks
    // implicit-extension apply resolution in Scala 2
    def upd(mask: Mask): Updater[C] = new Updater(c, Desc(Some(mask)))
    def upd(accum: BinaryOp): Updater[C] = new Updater(c, Desc(accum = Some(accum)))
    def upd(mask: Mask, accum: BinaryOp, replace: Boolean = false): Updater[C] =
      new Updater(c, Desc(Some(mask), Some(accum), replace))
  }

  implicit final class VectorOps(private val v: GrbVector) extends AnyVal {
    def |(other: GrbVector): PendingUnion = new PendingUnion(v, other)
    def &(other: GrbVector): PendingIntersection = new PendingIntersection(v, other)
    /** vxm: row vector × matrix over a semiring */
    def %*%(arg: (GrbMatrix, Semiring)): GrbVector = v.vxm(arg._1, arg._2)
  }

  implicit final class MatrixOps(private val m: GrbMatrix) extends AnyVal {
    /** mxm / mxv over a semiring */
    def %*%(arg: (GrbMatrix, Semiring)): GrbMatrix = m.mxm(arg._1, arg._2)
    def %*%(arg: (GrbVector, Semiring)): GrbVector = m.mxv(arg._1, arg._2)
  }
}
