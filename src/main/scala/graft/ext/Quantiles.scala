package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic histogram quantile sketch — the rank/quantile member
  * of the sketch suite (KMV = distinct, CMS = frequency, HLL =
  * constant-space distinct, TopK = heavy ranks; this one answers
  * "what value sits at quantile q" without a corpus-sized sort).
  *
  * The sketch is a fixed-width-bin histogram of a non-negative integer
  * measure: bin = value div binWidth, state = one (bin, count) row per
  * occupied bin — bounded by domain/binWidth regardless of corpus
  * size, mergeable by plain count addition (shards and micro-batches
  * sum into the same grid, which is what makes the streaming form,
  * StreamQuantile, exact across batch boundaries).
  *
  * Quantile read-off: for target rank t = ceil(q·N), the answer bin is
  * the FIRST bin whose cumulative count reaches t, and the estimate is
  * that bin's inclusive upper edge (bin+1)·w − 1. The estimate is
  * EXACT in rank and bounded in value: est ≥ v_exact and
  * est − v_exact < w, where v_exact = min{v : #{x ≤ v} ≥ t} (proof:
  * every earlier bin's cumulative count is ≤ #{x ≤ v_exact − 1} < t,
  * so the pick lands in v_exact's own bin). RoundElevenSpec pins the
  * bound against the exact per-value recompute.
  *
  * Unlike t-digest/GK sketches the bins are FIXED, not adaptive —
  * that is what buys bit-identical cross-engine determinism (the
  * DuckDB oracle recomputes the same grid) at the cost of needing a
  * bounded value domain; corpus length measures are domain-bounded by
  * the chunking stage at any scale.
  */
object Quantiles {

  /** The (keys…, bin, cnt) histogram of `value div binWidth`; null
    * values are skipped like builtin aggregates skip nulls. `keys`
    * group the histogram (a stream passes its event-time window,
    * [[graft.streaming.StreamQuantile]]); none gives one histogram.
    * Integer `div`, not double division: the DuckDB oracle floors with
    * `//` on integers, and a truncated IEEE quotient can differ from
    * integer division for non-power-of-two widths or values near 2^53
    * — the repo-wide integer-div discipline (round-12 advice).
    */
  def histogram(df: DataFrame, value: Column, binWidth: Long,
      keys: Column*): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    df.withColumn("_v", value.cast("long"))
      .filter(col("_v").isNotNull)
      .groupBy(keys :+ expr(s"_v div $binWidth").as("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Quantile estimates from a (bin, cnt) histogram: one row per
    * requested q (in ppm, so the targets are exact integers in both
    * engines) with the target rank and the bin-upper-edge estimate.
    * The cumulative window rides the HISTOGRAM (domain-bounded rows),
    * never the corpus.
    */
  def quantiles(hist: DataFrame, binWidth: Long,
      qPpm: Seq[Long]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val wCum = Window.orderBy(col("bin"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
    val tot = hist.agg(sum(col("cnt")).as("n_total"))
    val qs = qPpm.toDF("q_ppm")
    qs.crossJoin(broadcast(tot))
      // t = ceil(q·N) in exact integer arithmetic: (q_ppm·N + 999999) div 1e6
      .withColumn("t",
        expr("(q_ppm * n_total + 999999) div 1000000"))
      .join(cum, col("cum") >= col("t"))
      .groupBy(col("q_ppm"), col("n_total"), col("t"))
      .agg(min(col("bin")).as("qbin"))
      .withColumn("est", (col("qbin") + 1) * binWidth - 1)
  }
}
