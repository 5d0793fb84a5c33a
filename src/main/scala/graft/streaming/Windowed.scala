package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one event-time window driver of the streaming sketch family:
  * a streaming sketch IS its batch form grouped by one more key, the
  * tumbling window. Structured Streaming's contract (SIGMOD 2018) is
  * that a stream's output equals the batch query over the same prefix,
  * so the closed-window output of every module built here equals the
  * same function applied to the static rows (PropertySpec's
  * stream ≡ batch property pins it for all of them).
  *
  * The driver owns what every module used to repeat: the watermark,
  * the window key, the extra-key rule and the `window_start` /
  * `window_end` projection. Append mode emits a window once the
  * watermark passes its end; the watermark also expires its state.
  */
object Windowed {

  /** Runs `sketch` over `df` watermarked on `tsCol`, handing it the
    * grouping keys: the tumbling window of `windowLength` first, then
    * the extra keys. The sketch groups by those keys (plus any of its
    * own) and must carry them through as columns named `window` and
    * the extra key names. The result is (window_start, window_end,
    * extraKeys…, every other column of the sketch in its order).
    *
    * `extraKeys` are COLUMN NAMES, not expressions: the same name must
    * resolve both against the input (for the groupBy) and against the
    * aggregated schema (for the final select). An unaliased expression
    * like `upper(col("g"))` would group fine but fail to re-resolve
    * after the aggregate. Pre-compute derived keys with `withColumn`
    * and pass the name.
    */
  def aggregate(
      df: DataFrame, tsCol: String, windowLength: String, watermark: String,
      extraKeys: Seq[String] = Nil)(
      sketch: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    val keyed = sketch(df.withWatermark(tsCol, watermark),
      window(col(tsCol), windowLength) +: extraKeys.map(col))
    val keys = "window" +: extraKeys
    keyed.select(
      (col("window.start").as("window_start") +:
        col("window.end").as("window_end") +:
        extraKeys.map(col)) ++
        keyed.columns.filterNot(keys.contains).map(col): _*)
  }
}
