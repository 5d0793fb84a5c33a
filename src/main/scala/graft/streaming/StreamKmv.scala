package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Kmv

/** Streaming distinct-count estimation — the KMV sketch (ext/Kmv)
  * applied as a watermarked windowed aggregate. "Distinct users per
  * hour" over an unbounded stream is exactly the place a sketch earns
  * its keep: exact countDistinct state grows with the true cardinality
  * of every open window, while the KMV state is a bounded ≤ k minima
  * per (window, group) regardless of how many distinct values flow
  * through — and the Aggregator's `merge` is what the state store
  * calls to fold each micro-batch's partial sketch into the window's
  * running state. The watermark expires window state, so total store
  * size is k · groups · open-windows, all bounded.
  *
  * Same determinism story as the batch sketch: md5-KMV yields the
  * identical estimate for the same value set regardless of arrival
  * order or micro-batch boundaries (KmvSpec merge invariance), so a
  * replayed stream reports identical numbers.
  */
object StreamKmv {

  /** Per event-time window (and optional extra keys, column NAMES —
    * the [[Windowed.aggregate]] contract): the KMV distinct estimate
    * of `valueCol`, alongside the sketch fill level. Append mode: a
    * window's row emits once its watermark passes.
    */
  def windowedDistinct(
      df: DataFrame, tsCol: String, valueCol: String,
      windowLength: String, watermark: String, k: Int,
      extraKeys: String*): DataFrame =
    Windowed.aggregate(df, tsCol, windowLength, watermark, extraKeys) {
      (in, keys) => in.groupBy(keys: _*)
        .agg(Kmv.kmv(k)(Kmv.hash8(col(valueCol))).as("sk"))
        .withColumn("sketch_size", size(col("sk")).cast("long"))
        .withColumn("distinct_est", Kmv.estimate(col("sk"), k))
        .drop("sk")
    }
}
