package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Sampling, TopK}

/** Streaming weighted reservoir sampling — the x81 A-ES sample as a
  * watermarked windowed aggregate: per (event-time window, group),
  * keep the k rows with the largest deterministic Efraimidis–Spirakis
  * keys ([[Sampling.esKey]] = quantized ln(u)/weight, u md5-derived
  * from the row id). The [[TopK.TopKAggregator]] buffer IS the
  * reservoir: ≤ k (score, id) entries per open (window, group)
  * regardless of how many rows flow through, and its union+take-k
  * `merge` is what the state store calls per micro-batch — so the
  * closed-window sample equals the batch A-ES sample of the same rows
  * no matter how arrival is batched (StreamSampleSpec pins it).
  *
  * Because the key is a pure function of (id, weight), the sample is
  * replay-stable across RESTARTS of the same data; rows must be
  * unique per (window, group, id) — the aggregator counts occurrences,
  * so upstream at-least-once delivery needs a dropDuplicates within
  * the watermark (the K2 idempotency discipline), unlike the
  * max-merge sketches (StreamHll) which absorb duplicates for free.
  */
object StreamSample {

  /** Append-mode per-window sample: one row per sampled id with its
    * in-sample rank, emitted when the watermark closes the window.
    * `extraKeys` are column NAMES (the [[Windowed.aggregate]]
    * contract).
    */
  def windowedSample(
      df: DataFrame, tsCol: String, idCol: String, weightCol: String,
      windowLength: String, watermark: String, k: Int,
      extraKeys: String*): DataFrame =
    Windowed.aggregate(df, tsCol, windowLength, watermark, extraKeys) {
      (in, keys) => in
        // a null id or weight would null the A-ES key and crash the
        // typed aggregator's non-nullable decode at runtime — skip such
        // rows like builtin aggregates skip nulls (round-10 advice)
        .filter(col(idCol).isNotNull && col(weightCol).isNotNull)
        .groupBy(keys: _*)
        .agg(TopK.topK(k)(
          Sampling.esKey(col(idCol), col(weightCol)),
          col(idCol)).as("sample"))
        .select(col("*"), posexplode(col("sample")).as(Seq("i", "s")))
        .select(col("*"), (col("i") + 1).cast("long").as("rnk"),
          col("s.id").as("sampled_id"), col("s.score").as("key12"))
        .drop("sample", "i", "s")
    }
}
