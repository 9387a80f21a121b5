package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.ColumnShim

/** Fused dot product over two float/double array columns — the codegen'd
  * sibling of [[CosineSim]] (SURVEY §4.2 extension point c).
  *
  * Motivation: sign-random-projection bucketing evaluates one dot product
  * per hyperplane per row; the composable `aggregate(zip_with(...))` form is
  * CodegenFallback (interpreted per element, intermediate array per call),
  * which the builder measured at ~38x vs a fused kernel for the cosine case.
  * This expression is the projection hot path for [[graft.operators.Similarity]]
  * LSH buckets, the blocked embedding near-dup, and the precomputed-norm
  * cosine form in [[graft.operators.Dedup]].
  *
  * Loop scaffold, type checks, and null semantics live in
  * [[BinaryArrayFoldKernel]] (shared with [[L2Dist]]); this class supplies
  * only the `acc += xi·yi` accumulation.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryArrayFoldKernel {
  override protected def fnName: String = "dot_product"
  override protected def update(acc: Double, xi: Double, yi: Double): Double = acc + xi * yi
  override protected def finish(acc: Double): Double = acc
  override protected def updateCode(acc: String): String = s"$acc += xi * yi;"
  override protected def finishCode(acc: String): String = acc

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-level entry point. */
  def dot_product(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))
}
