package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ext.Cms

/** Streaming heavy-hitter sketching — the count-min grid (ext/Cms)
  * maintained per event-time window. "What are the hot tokens/URLs/
  * users this hour" over an unbounded stream is the frequency
  * counterpart of StreamKmv's distinct-count: exact per-item counts
  * grow state with the item cardinality of every open window, while
  * the CMS state is ≤ depth·width counter cells per window REGARDLESS
  * of how many distinct items flow through. Counters are plain
  * streaming-aggregate state (integers add — merge across micro-
  * batches is the aggregation itself), and the watermark expires
  * closed windows, so total store size is depth·width · open-windows.
  *
  * The grid IS [[Cms.counterGrid]] with the window as its key, so a
  * closed window's cells equal the batch grid of the same rows cell
  * for cell (StreamCmsSpec). Probing an emitted grid is the batch
  * [[Cms.estimate]] keyed by `window_start`.
  */
object StreamCms {

  /** Per event-time window: the CMS counter grid of `itemCol`
    * occurrences, one output row per non-empty (window, row, bucket)
    * cell. Append mode: a window's cells emit once its watermark
    * passes.
    */
  def windowedGrid(
      df: DataFrame, tsCol: String, itemCol: String,
      windowLength: String, watermark: String,
      depth: Int, width: Int): DataFrame =
    Windowed.aggregate(df, tsCol, windowLength, watermark) { (in, keys) =>
      Cms.counterGrid(in, itemCol, depth, width, keys: _*)
    }
}
