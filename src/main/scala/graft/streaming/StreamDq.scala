package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming data-quality monitor — the x46 expectations audit
  * maintained per event-time window: each named check is a conditional
  * count folded into the window's aggregation state, so a bad deploy
  * upstream (nulls, range violations, schema rot) surfaces as a
  * nonzero violation count on the NEXT closed window instead of in a
  * nightly batch audit. State per window is one counter per check —
  * constant, like every sketch in this package — and the watermark
  * expires closed windows.
  *
  * Output (append mode, one emission per closed window): one row per
  * (window, check) with the window's row count and violation count —
  * the same check-per-row report shape as the batch audit, ready for a
  * partitioned sink or an alerting join.
  */
object StreamDq {

  /** @param checks (name, violation-predicate) pairs evaluated against
    *               each input row; predicate true = violation
    */
  def windowedChecks(
      df: DataFrame, tsCol: String,
      windowLength: String, watermark: String,
      checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    // names are spliced into a stack() expression as quoted literals
    // and backticked identifiers — restrict to identifier-safe names
    // that don't collide with the columns this function itself emits
    require(checks.forall(_._1.matches("[A-Za-z0-9_]+")),
      "check names must match [A-Za-z0-9_]+")
    val reserved = Set("n_rows", "window", "window_start", "window_end",
      "check_name", "n_violations")
    require(checks.forall(c => !reserved.contains(c._1)),
      s"check names must avoid ${reserved.mkString(", ")}")
    val aggs = checks.map { case (name, pred) =>
      sum(when(pred, 1L).otherwise(0L)).as(name)
    }
    val stackArgs = checks
      .map { case (name, _) => s"'$name', `$name`" }
      .mkString(", ")
    Windowed.aggregate(df, tsCol, windowLength, watermark) { (in, keys) =>
      in.groupBy(keys: _*).agg(count(lit(1)).as("n_rows"), aggs: _*)
    }.select(col("window_start"), col("n_rows"),
      expr(s"stack(${checks.size}, $stackArgs)" +
        " as (check_name, n_violations)"))
  }
}
