package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Hll

/** Streaming distinct-count estimation — the HLL sketch (ext/Hll) as a
  * watermarked windowed aggregate, the fixed-size sibling of
  * [[StreamKmv]]: KMV state is ≤ k hashes per (window, group); HLL
  * state is EXACTLY 64 registers (~64 bytes) per (window, group), the
  * smallest state any distinct estimator carries, which is why it is
  * the default sketch of every production stream processor.
  *
  * The batch x77 plan aggregates twice (per-register max, then the
  * register sum) — streaming append mode forbids chained aggregations,
  * so the register vector folds inside ONE typed Aggregator
  * ([[Hll.HllAggregator]]) whose elementwise-max `merge` the state
  * store calls per micro-batch. Max is idempotent, so replayed or
  * duplicated input never inflates the estimate, and batch boundaries
  * can't change it (RoundTenBSpec mergeability + StreamHllSpec
  * stream-equals-batch).
  */
object StreamHll {

  /** Per event-time window (and optional extra key NAMES — the
    * [[Windowed.aggregate]] contract): the HLL estimate of
    * `valueCol` distinct cardinality, with the zero-register count and
    * exact integer register sum exposed for auditing. Append mode: one
    * emission per window once the watermark passes.
    */
  def windowedDistinct(
      df: DataFrame, tsCol: String, valueCol: String,
      windowLength: String, watermark: String,
      extraKeys: String*): DataFrame =
    Windowed.aggregate(df, tsCol, windowLength, watermark, extraKeys) {
      (in, keys) => in
        // skip null values like the builtin distinct aggregates do —
        // without this a single null event would null h32 and crash the
        // non-nullable Long decode inside the typed Aggregator at
        // runtime (round-10 advice finding)
        .filter(col(valueCol).isNotNull)
        .groupBy(keys: _*)
        .agg(Hll.hll(Hll.h32(col(valueCol))).as("regs"))
        .withColumn("v_zero", Hll.zeroCount(col("regs")))
        .withColumn("s_int", Hll.registerSum("regs"))
        .drop("regs")
        .withColumn("distinct_est",
          Hll.estimate(col("s_int"), col("v_zero")))
    }
}
