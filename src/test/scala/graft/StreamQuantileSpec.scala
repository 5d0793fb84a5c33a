package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Quantiles
import graft.streaming.StreamQuantile

/** Streaming quantile histogram: the closed-window grid must equal the
  * batch grid of the union of all micro-batches cell for cell (counts
  * merge by addition), and quantile read-off on the emitted grid must
  * match the batch sketch of the same rows.
  */
class StreamQuantileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("closed-window histogram == batch grid; read-off matches batch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, java.lang.Long)]
    val q = StreamQuantile.windowedHistogram(
      input.toDF().toDF("ts", "len"), "ts", "len", binWidth = 10L,
      windowLength = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("quant_out")
      .outputMode("append").start()
    val b1: Seq[Long] = Seq(3, 17, 17, 42, 99, 100)
    val b2: Seq[Long] = Seq(5, 18, 55, 101, 240)
    try {
      input.addData(b1.map(v => (ts("10:00"), java.lang.Long.valueOf(v))))
      q.processAllAvailable()
      input.addData(b2.map(v => (ts("10:40"), java.lang.Long.valueOf(v)))
        :+ ((ts("10:50"), null: java.lang.Long)))
      q.processAllAvailable()
      input.addData(Seq((ts("13:00"), java.lang.Long.valueOf(1L))))
      q.processAllAvailable()
      val streamed = spark.table("quant_out")
        .filter($"window_start" === ts("10:00"))
        .select($"bin", $"cnt").as[(Long, Long)].collect().toMap
      val batchGrid = Quantiles.histogram(
        (b1 ++ b2).toDF("len"), col("len"), 10L)
        .as[(Long, Long)].collect().toMap
      assert(streamed === batchGrid,
        "closed-window grid must equal the batch grid of the union")
      // quantile read-off on the emitted grid == batch sketch
      val viaStream = Quantiles.quantiles(
        spark.table("quant_out").filter($"window_start" === ts("10:00"))
          .select($"bin", $"cnt"), 10L, Seq(500000L, 900000L))
        .select($"q_ppm", $"est").as[(Long, Long)].collect().toMap
      val viaBatch = Quantiles.quantiles(
        Quantiles.histogram((b1 ++ b2).toDF("len"), col("len"), 10L),
        10L, Seq(500000L, 900000L))
        .select($"q_ppm", $"est").as[(Long, Long)].collect().toMap
      assert(viaStream === viaBatch)
      // hand check: 11 values, median target rank 6 -> value 42 -> bin 4
      assert(viaStream(500000L) === 49L)
    } finally q.stop()
  }

  test("a non-positive binWidth throws when the histogram is built") {
    // under ANSI `v div 0` throws DIVIDE_BY_ZERO only in the first task
    val df = Seq((ts("10:00"), 5L)).toDF("ts", "len")
    for (w <- Seq(0L, -10L)) {
      intercept[IllegalArgumentException](Quantiles.histogram(df, col("len"), w))
      intercept[IllegalArgumentException](
        StreamQuantile.windowedHistogram(df, "ts", "len", w, "1 hour", "0 seconds"))
    }
  }
}
