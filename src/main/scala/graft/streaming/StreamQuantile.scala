package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Quantiles

/** Streaming windowed quantile histogram — ext/Quantiles' fixed-bin
  * grid as a watermarked windowed aggregate, the rank/quantile member
  * of the streaming sketch family (StreamKmv = distinct, StreamCms =
  * frequency, StreamHll = constant-space distinct, StreamSample =
  * weighted membership).
  *
  * State per open (window, group) is one count per OCCUPIED bin —
  * bounded by domain/binWidth regardless of row count — and bin counts
  * merge by plain addition. The grid IS [[Quantiles.histogram]] with
  * the window as one more key, so the closed-window histogram equals
  * the batch histogram of the union of all micro-batches cell for cell
  * (StreamQuantileSpec). Quantile read-off is a batch operation on the
  * emitted grid ([[graft.ext.Quantiles.quantiles]]), the StreamCms
  * emitted-grid-then-probe discipline.
  */
object StreamQuantile {

  /** Append-mode per-window histogram of `valueCol div binWidth`:
    * one (window_start, window_end, extraKeys…, bin, cnt) row per
    * occupied bin when the watermark closes the window. Null values
    * are skipped like builtin aggregates skip nulls. `extraKeys` are
    * column NAMES (the [[Windowed.aggregate]] contract).
    */
  def windowedHistogram(
      df: DataFrame, tsCol: String, valueCol: String, binWidth: Long,
      windowLength: String, watermark: String,
      extraKeys: String*): DataFrame =
    Windowed.aggregate(df, tsCol, windowLength, watermark, extraKeys) {
      (in, keys) => Quantiles.histogram(in, col(valueCol), binWidth, keys: _*)
    }
}
