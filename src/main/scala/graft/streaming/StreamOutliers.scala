package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{KMeansLite, Outliers}

/** Streaming embedding-outlier monitor — the batch-fit / stream-apply
  * form of the x61 batch triage: a quantizer fit OFFLINE (KMeansLite,
  * driver state k·d) plus per-cell distance boundaries derived from
  * the batch corpus turn outlier detection into a STATELESS streaming
  * projection, and the only streaming state is the watermarked
  * per-(window, cell) rate counters. This is the deployment shape for
  * "alert when the encoder starts emitting garbage": the expensive
  * global ranking happens in the nightly batch pass; the stream pays
  * k distance evaluations per row.
  *
  * The rank flag and the exported threshold are BOTH
  * [[graft.ext.Outliers]] — one definition, and its tie rule (6-dp
  * boundary ties flag all-or-none) is exactly what makes
  * `d2_6 ≥ thr` reproduce the batch flags row-for-row on the
  * calibration corpus, ties included (StreamOutliersSpec pins it).
  * On new data the threshold is the frozen calibration until the next
  * refit, exactly how a production monitor behaves between
  * calibrations.
  */
object StreamOutliers {

  /** Stateless stream scoring: assign + distance per row, then a
    * stream-static broadcast join against the (≤ k)-row threshold
    * table from [[Outliers.thresholds]] (cells flagging nothing get no
    * row, so the left join flags nothing for them); no streaming state
    * at all.
    */
  def score(
      stream: DataFrame, vCol: String, cents: Seq[Seq[Double]],
      thr: DataFrame): DataFrame =
    stream
      .withColumn("cell",
        KMeansLite.assign(col(vCol), cents).cast("long"))
      .withColumn("d2_6",
        round(array_min(KMeansLite.cellDistances(col(vCol), cents)), 6))
      .join(broadcast(thr), Seq("cell"), "left")
      .withColumn("outlier",
        col("thr").isNotNull && col("d2_6") >= col("thr"))
      .drop("thr")

  /** Watermarked per-(window, cell) outlier rates over scored rows —
    * counter cells only, ≤ k per open window; append on window close.
    */
  def windowedRates(
      scoredStream: DataFrame, tsCol: String,
      windowLength: String, watermark: String): DataFrame =
    Windowed.aggregate(scoredStream, tsCol, windowLength, watermark) {
      (in, keys) => in.groupBy(keys :+ col("cell"): _*)
        .agg(count(lit(1)).as("n"),
          sum(col("outlier").cast("long")).as("n_outliers"))
    }
}
