package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE encode in ONE expression: the only rewrite of a merge rule in
  * the library, behind graft.ext.BpeMerge.encode (batch queries,
  * training's own corpus rewrites and StreamBpe all go through it).
  * The rule list is plain expression state (k·2 strings, serialized
  * once per task binary) and each document is encoded by k in-memory
  * left-to-right passes over its token array — O(k·len) with zero plan
  * depth, where a per-rule higher-order-function rewrite composes k
  * nested expression layers and is unanalyzable at a production
  * vocabulary (k ≈ 30k) long before it is slow (the CdcBoundaries
  * precedent; SCALE-BPENATIVE in PLANS.md carries the A/B and the depth
  * wall receipt).
  *
  * Semantics: each pass merges GREEDILY left to right — at position i,
  * if (t[i], t[i+1]) equals the rule, emit `a_b` and consume both.
  * For a ≠ b rules occurrences cannot overlap, so this equals merging
  * every occurrence; for a == b rules it IS the left-greedy run rule
  * real BPE uses (floor(L/2) merges per maximal run, lone trailing
  * token when L is odd). So the pass needs no merge-policy flag: the
  * policy only decides which pairs a trainer counts. BpeMergeSpec
  * checks bit-equality with a higher-order-function reference rewrite
  * on trained rules under both policies, a 25-rule one-pass table, the
  * identical-halves fixture and the empty rule list (identity).
  */
case class BpeEncodeRules(child: Expression, rules: Seq[(String, String)])
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_encode_rules"

  // (a, b, a_b) resolved to UTF8String once per task
  @transient private lazy val ruleU: Array[Array[UTF8String]] =
    rules.map { case (a, b) =>
      Array(UTF8String.fromString(a), UTF8String.fromString(b),
        UTF8String.fromString(a + "_" + b))
    }.toArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var toks = new Array[UTF8String](arr.numElements())
    var i = 0
    while (i < toks.length) { toks(i) = arr.getUTF8String(i); i += 1 }
    var r = 0
    while (r < ruleU.length) {
      val a = ruleU(r)(0); val b = ruleU(r)(1); val ab = ruleU(r)(2)
      val n = toks.length
      val out = new Array[UTF8String](n)
      var oi = 0
      var ii = 0
      var changed = false
      while (ii < n) {
        if (ii + 1 < n && a.equals(toks(ii)) && b.equals(toks(ii + 1))) {
          out(oi) = ab; oi += 1; ii += 2; changed = true
        } else {
          out(oi) = toks(ii); oi += 1; ii += 1
        }
      }
      if (changed) toks = java.util.Arrays.copyOf(out, oi)
      r += 1
    }
    val res = new Array[Any](toks.length)
    var k = 0
    while (k < toks.length) { res(k) = toks(k); k += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeEncodeRules = copy(child = newChild)
}
