package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Drift

/** Streaming windowed source-drift monitor — the production form of
  * the x54 batch mix monitor: per event-time window, each source's
  * unigram distribution is compared (KL, integer micro-nats) against a
  * static reference distribution, so a scraper gone wrong or a filter
  * eating one domain ALERTS on the next closed window instead of
  * surfacing in a nightly batch audit (the same recompute→maintain
  * upgrade StreamDq makes for expectation checks).
  *
  * Two stages, split exactly like StreamCms's grid/probe:
  *  - [[windowedCounts]] (streaming): watermarked per-(window, source,
  *    token) counts — plain streaming aggregation state, counters add
  *    across micro-batches, the watermark expires closed windows.
  *    State is ≤ vocabulary × sources cells per open window; for an
  *    unbounded token space, cap the tracked vocabulary upstream (the
  *    reference distribution's support is the natural cap — tokens
  *    outside it can't enter the KL anyway and are dropped here by
  *    the downstream join).
  *  - [[kl]] (batch over the emitted counts): the SHARED [[Drift]]
  *    arithmetic per (window, source) — one definition with the batch
  *    path, so stream and batch cannot diverge (StreamDriftSpec pins
  *    closed-window output == the batch computation on the same rows).
  */
object StreamDrift {

  /** Per closed event-time window: (window_start, window_end, source,
    * token, c_s). Append mode — a window's counts emit once its
    * watermark passes.
    */
  def windowedCounts(
      df: DataFrame, tsCol: String, srcCol: String, tokCol: String,
      windowLength: String, watermark: String): DataFrame =
    Windowed.aggregate(df, tsCol, windowLength, watermark) { (in, keys) =>
      in.groupBy(keys :+ col(srcCol).as("source") :+ col(tokCol).as("token"): _*)
        .agg(count(lit(1)).as("c_s"))
    }

  /** KL(source ‖ reference) per (window, source) over emitted counts;
    * `reference` is a static (token, c) distribution. Tokens absent
    * from the reference are outside its support and drop in the join —
    * count them upstream if novel-token volume itself is the signal.
    */
  def kl(counts: DataFrame, reference: DataFrame): DataFrame =
    Drift.klMicro(counts,
      Seq("window_start", "window_end", "source"), reference)
      .orderBy(col("window_start"), col("source"))
}
