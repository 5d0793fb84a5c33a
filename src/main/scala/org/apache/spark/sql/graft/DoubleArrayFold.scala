// Lives under org.apache.spark.sql because ExpectsInputTypes'
// AbstractDataType vocabulary is private[sql] — the usual home for
// library-shipped native expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** The fused-loop scaffold of the native `array<double>` pair kernels
  * ([[CosineSimilarity]], [[DotProduct]], [[SquaredDistance]]): one
  * sequential left fold over the element pairs (x_i, y_i) into a few
  * running sums, then a finish — in generated Java inside whole-stage
  * codegen, with no `zip_with` intermediate array and no per-element
  * closure dispatch. The fold order is the HOF formulation's, so each
  * kernel is bit-for-bit identical to it and to the oracle's list
  * comprehension. NULL on: null input, length mismatch, or any null
  * element (matching `zip_with`'s null poisoning).
  *
  * A kernel states only its per-element step and its finish, once in
  * Scala for the interpreted path and once as Java for codegen.
  */
abstract class DoubleArrayFold extends BinaryExpression with ExpectsInputTypes {

  /** How many running sums the fold keeps; each starts at 0.0. */
  protected def sums: Int

  /** Adds element pair (x, y)'s terms to the running sums, in place. */
  protected def step(acc: Array[Double], x: Double, y: Double): Unit

  /** The result from the final sums. */
  protected def finish(acc: Array[Double]): Double

  /** [[step]] as Java statements over the sums' and elements' names. */
  protected def stepCode(acc: Seq[String], x: String, y: String): String

  /** [[finish]] as a Java expression over the sums' names. */
  protected def finishCode(acc: Seq[String]): String

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val acc = new Array[Double](sums)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      step(acc, x.getDouble(i), y.getDouble(i))
      i += 1
    }
    finish(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val bad = ctx.freshName("bad")
      val acc = Seq.fill(sums)(ctx.freshName("acc"))
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${acc.map(a => s"double $a = 0.0;").mkString(" ")}
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { $bad = true; break; }
         |    final double $xi = $x.getDouble($i);
         |    final double $yi = $y.getDouble($i);
         |    ${stepCode(acc, xi, yi)}
         |  }
         |  if ($bad) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = ${finishCode(acc)};
         |  }
         |}
       """.stripMargin
    })
}
