package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression

/** Native Catalyst expression for the dot product of two
  * `array<double>` columns — completes the fused-loop trio with
  * [[CosineSimilarity]] and [[SquaredDistance]]: the per-row
  * projection of every power-iteration round (ext/PowerIter, x82) and
  * the x82 scoring pass evaluate this once per vector, where the HOF
  * form (`aggregate(zip_with(...))`) allocates an intermediate array
  * and dispatches two interpreted lambdas per element.
  *
  * Bit-for-bit identical to the HOF formulation and the oracle's list
  * comprehension: the same sequential left fold `acc += x_i · y_i`
  * ([[DoubleArrayFold]]).
  */
case class DotProduct(left: Expression, right: Expression)
    extends DoubleArrayFold {

  override def prettyName: String = "dot_product"

  override protected def sums: Int = 1
  override protected def step(acc: Array[Double], x: Double, y: Double): Unit =
    acc(0) += x * y
  override protected def finish(acc: Array[Double]): Double = acc(0)
  override protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += $x * $y;"
  override protected def finishCode(acc: Seq[String]): String = acc(0)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
