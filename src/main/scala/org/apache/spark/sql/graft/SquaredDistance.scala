package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression

/** Native Catalyst expression for squared L2 distance over two
  * `array<double>` columns — the hot inner loop of every k-means
  * assignment, kNN edge, and incremental-index refresh (KMeansLite
  * .dist2 call sites: x09/x16/x58/x72/x73/x75/x80 and AnnIndex), one
  * fused [[DoubleArrayFold]] loop.
  *
  * Bit-for-bit identical to the HOF formulation
  * `aggregate(zip_with(v, c, (x,y) -> (x-y)²), 0.0, +)` and to the
  * oracle's list comprehension: the same sequential left fold
  * `acc += (x_i − y_i)²`.
  */
case class SquaredDistance(left: Expression, right: Expression)
    extends DoubleArrayFold {

  override def prettyName: String = "squared_distance"

  override protected def sums: Int = 1
  override protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
    val d = x - y
    acc(0) += d * d
  }
  override protected def finish(acc: Array[Double]): Double = acc(0)
  override protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += ($x - $y) * ($x - $y);"
  override protected def finishCode(acc: Seq[String]): String = acc(0)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredDistance =
    copy(left = newLeft, right = newRight)
}
