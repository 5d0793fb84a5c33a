package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Cms
import graft.streaming.StreamCms

/** Streaming CMS heavy hitters: counters merge across micro-batches
  * (integer adds in the aggregation state), a closed window's grid
  * matches the batch recompute cell for cell, and probing the emitted
  * grid bounds every candidate's true count from above.
  */
class StreamCmsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("windowed grid merges batches and matches the batch sketch") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamCms.windowedGrid(
      input.toDF().toDF("ts", "tok"),
      "ts", "tok", windowLength = "1 hour", watermark = "30 minutes",
      depth = 3, width = 16)
      .writeStream.format("memory").queryName("cms_out")
      .outputMode("append").start()
    val batch1 = Seq(
      (ts("10:00"), "hot"), (ts("10:05"), "hot"), (ts("10:10"), "warm"))
    val batch2 = Seq(
      (ts("10:20"), "hot"), (ts("10:40"), "cold"), (ts("10:50"), "hot"))
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      input.addData((ts("13:00"), "later")) // close the 10:00 window
      q.processAllAvailable()

      val streamed = spark.table("cms_out")
        .filter($"window_start" === ts("10:00"))
        .select($"row", $"bucket", $"cnt")
        .as[(Long, Long, Long)].collect().toSet
      // the same rows sketched in one batch pass
      val batch = Cms.counterGrid(
        (batch1 ++ batch2).toDF("ts", "tok"), "tok", depth = 3, width = 16)
        .select($"row".cast("long"), $"bucket", $"cnt")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed grid $streamed != batch grid $batch")
    } finally q.stop()
  }

  test("probing the emitted grid upper-bounds true counts, 0 for absent") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamCms.windowedGrid(
      input.toDF().toDF("ts", "tok"),
      "ts", "tok", windowLength = "1 hour", watermark = "30 minutes",
      depth = 3, width = 64)
      .writeStream.format("memory").queryName("cms_probe")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("10:00"), "hot"), (ts("10:05"), "hot"), (ts("10:10"), "hot"),
        (ts("10:15"), "rare"))
      q.processAllAvailable()
      input.addData((ts("13:00"), "later"))
      q.processAllAvailable()

      val grid = spark.table("cms_probe").filter($"window_start" === ts("10:00"))
      val est = Cms.estimate(
        Seq("hot", "rare", "absent").toDF("tok"), "tok", grid,
        depth = 3, width = 64, "window_start")
        .select($"tok", $"cms_est").as[(String, Long)].collect().toMap
      assert(est("hot") >= 3L && est("rare") >= 1L,
        s"CMS must never undercount: $est")
      assert(est("absent") == 0L,
        "an item hashing only to empty cells estimates zero")
    } finally q.stop()
  }
}
