package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) — Rabin-style rolling-hash chunk
  * boundaries, the production dedup grain fixed-stride chunking (x31)
  * cannot provide: a boundary is declared wherever the hash of the
  * LAST w characters hits a mask, so boundaries are a pure function of
  * LOCAL content. Insert or delete a prefix and every boundary past
  * the edit region lands on the same characters — chunk hashes
  * downstream of the edit survive, which is exactly why incremental
  * backup systems and dataset-dedup pipelines chunk this way (a
  * fixed-stride chunker shifts every later chunk and loses all of
  * them). RoundElevenSpec pins that robustness property directly.
  *
  * Determinism (the oracle contract): the window hash of position i is
  * the polynomial Σ code(c_{i-w+1+j})·B^{w-1-j} mod M over the ASCII
  * codes, with B = 256 and M = 1 000 000 007 — every product is ≤
  * 255·(M−1)·… well below Long range, every sum of w = 8 terms far
  * below overflow, so Spark and DuckDB compute identical hashes with
  * no wrap anywhere. A boundary falls AFTER position i when
  * hash_i % 64 == 0 (expected chunk ≈ 64 chars).
  *
  * Everything is a per-document column expression (codegen'd
  * built-ins + HOFs): no shuffle, no state — a 100 TB chunking pass is
  * one narrow map, and only the chunk-hash aggregation downstream
  * shuffles (keyed on the 32-byte hash).
  */
object ContentChunks {
  val B = 256L
  val M = 1000000007L
  val Mask = 64L

  /** Boundary positions (1-based, ascending) of `text` for window `w`:
    * i ∈ [w, len] with rollingHash(i) % Mask == 0 — the native
    * single-pass rolling form
    * ([[org.apache.spark.sql.graft.CdcBoundaries]]); bit-identical to
    * [[boundariesHof]], which re-folds the polynomial per position.
    */
  def boundaries(text: Column, w: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.graft.CdcBoundaries(
        org.apache.spark.sql.GraftExpressionBridge.expression(text),
        w, B, M, Mask))

  /** The HOF reference form of [[boundaries]] (retained for the
    * native-vs-HOF bit-equality spec): per-position w-term polynomial
    * fold over the code array — O(len·w) interpreted lambdas.
    *
    * LET-BINDING TRICK: referencing `codesOf(text)` directly inside
    * the per-position lambda would INLINE the whole transform — every
    * element_at re-derives the full code array, O(len²·w) per document
    * (measured: a 30 s sf0.01 pass became a multi-minute hang).
    * Wrapping the array as the single element of an outer transform
    * binds it to a lambda variable, evaluated once per document.
    */
  def boundariesHof(text: Column, w: Int): Column =
    element_at(transform(array(codesOf(text)),
      codes => boundariesFromCodes(codes, length(text), w)), 1)

  /** ASCII code array of `text` (codegen'd: one substr+ascii per
    * position).
    */
  def codesOf(text: Column): Column =
    transform(sequence(lit(1), length(text)),
      j => ascii(text.substr(j, lit(1))).cast("long"))

  private def boundariesFromCodes(codes: Column, len: Column,
      w: Int): Column = {
    val pows = (0 until w).map(k =>
      java.math.BigInteger.valueOf(B).modPow(
        java.math.BigInteger.valueOf(w - 1 - k),
        java.math.BigInteger.valueOf(M)).longValueExact())
    val hashAt = (i: Column) =>
      (0 until w).map(k =>
        element_at(codes, i - (w - 1 - k)) * lit(pows(k)))
        .reduce(_ + _) % M
    filter(sequence(lit(w), greatest(len, lit(w))),
      i => len >= w && hashAt(i) % Mask === 0)
  }

  /** The chunk substrings of `text`: cut after every boundary, with
    * the document edges closing the first and last chunk. Documents
    * shorter than the window are one whole-document chunk.
    */
  def chunks(text: Column, w: Int): Column = {
    val len = length(text)
    // the same let-binding trick, wrapping the boundary array so the
    // per-position hash pass runs once, not once per slice reference
    element_at(transform(array(boundaries(text, w)), b => {
      // cut points: 0, boundaries, len (deduped if already a boundary)
      val cuts = array_union(concat(array(lit(0)), b), array(len))
      val n = greatest(size(cuts) - 1, lit(0))
      zip_with(
        slice(cuts, lit(1), n),
        slice(cuts, lit(2), n),
        (lo, hi) => text.substr(lo + 1, hi - lo))
    }), 1)
  }
}
