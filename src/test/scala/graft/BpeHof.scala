package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference BPE encode written as Spark higher-order functions: each
  * rule is one filter/transform rewrite of `toks`, so k rules nest k
  * expression layers. The library encodes through the native
  * `BpeEncodeRules` expression; the specs compare it against this
  * independent form.
  *
  *  - `allowIdentical = false`: every occurrence of (a, b) merges. For
  *    a ≠ b occurrences cannot overlap, so this is position-independent.
  *  - `allowIdentical = true`: an (a, a) rule merges left-greedily
  *    within each maximal run of a's — positions at even 0-based run
  *    offset start a merge when a partner follows, so a run of length L
  *    gives floor(L/2) merged pairs and a lone trailing a when L is odd.
  *    Run offsets come from each position's nearest preceding non-a
  *    index, an O(len²) per-document expression.
  */
object BpeHof {

  private def rewriteToks(df: DataFrame,
      allowIdentical: Boolean): DataFrame = {
    val tk = col("toks")
    val n = size(tk)
    // a ≠ b: occurrences cannot overlap — merge every match.
    val droppedNe = (i: Column) => coalesce(
      when(i > 1, element_at(tk, i - 1) === col("ma")
        && element_at(tk, i) === col("mb")), lit(false))
    val headNe = (i: Column) => element_at(tk, i) === col("ma") &&
      coalesce(when(i < n, element_at(tk, i + 1) === col("mb")), lit(false))
    // a == b: left-greedy within each maximal run of a's. runOff is
    // the 0-based offset of position i inside its run (distance to
    // the nearest preceding non-a index); even offsets start merges.
    val lastNonA = (i: Column) => coalesce(
      when(i > 1, array_max(filter(sequence(lit(1), i - 1),
        j => element_at(tk, j) =!= col("ma")))), lit(0))
    val runOff = (i: Column) => i - lastNonA(i) - 1
    val isA = (i: Column) => element_at(tk, i) === col("ma")
    val headEq = (i: Column) => isA(i) && (runOff(i) % 2 === 0) &&
      coalesce(when(i < n, element_at(tk, i + 1) === col("ma")), lit(false))
    val droppedEq = (i: Column) => isA(i) && (runOff(i) % 2 === 1)
    val eqHalves = col("ma") === col("mb")
    val dropped = (i: Column) =>
      if (allowIdentical) when(eqHalves, droppedEq(i)).otherwise(droppedNe(i))
      else droppedNe(i)
    val head = (i: Column) =>
      if (allowIdentical) when(eqHalves, headEq(i)).otherwise(headNe(i))
      else headNe(i)
    // sequence(1, 0) counts down, so an empty array passes through
    df.withColumn("toks", when(n > 0, transform(
      filter(sequence(lit(1), n), i => !dropped(i)),
      i => when(head(i),
        concat(col("ma"), lit("_"), col("mb")))
        .otherwise(element_at(tk, i)))).otherwise(tk))
  }

  /** Apply `rules` in order to every document's `toks`. */
  def encode(df: DataFrame, rules: Seq[(String, String)],
      allowIdentical: Boolean = false): DataFrame =
    rules.foldLeft(df) { case (d, (a, b)) =>
      rewriteToks(
        d.withColumn("ma", lit(a)).withColumn("mb", lit(b)),
        allowIdentical).drop("ma", "mb")
    }
}
