package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression

/** Native Catalyst expression for cosine similarity over two
  * `array<double>` columns — the custom-`Expression`-with-`doGenCode`
  * tier of the extension surface (SURVEY.md §2i): one fused
  * [[DoubleArrayFold]] loop instead of the five HOF expressions
  * (2×`aggregate` + `zip_with` + fold lambdas) it replaces.
  *
  * Bit-for-bit identical to the HOF formulation (and the DuckDB oracle):
  * the accumulation order is the same sequential left fold
  * `dot/na/nb += f(x_i, y_i)`, and the result is `dot / sqrt(na·nb)`.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends DoubleArrayFold {

  override def prettyName: String = "cosine_similarity"

  override protected def sums: Int = 3
  override protected def step(acc: Array[Double], x: Double, y: Double): Unit = {
    acc(0) += x * y; acc(1) += x * x; acc(2) += y * y
  }
  override protected def finish(acc: Array[Double]): Double =
    acc(0) / math.sqrt(acc(1) * acc(2))
  override protected def stepCode(acc: Seq[String], x: String, y: String): String =
    s"${acc(0)} += $x * $y; ${acc(1)} += $x * $x; ${acc(2)} += $y * $y;"
  override protected def finishCode(acc: Seq[String]): String =
    s"${acc(0)} / java.lang.Math.sqrt(${acc(1)} * ${acc(2)})"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
