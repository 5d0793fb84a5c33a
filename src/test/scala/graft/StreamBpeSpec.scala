package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{BpeMerge, Text}
import graft.streaming.StreamBpe

/** Streaming BPE encode: stream output must be row-identical to the
  * batch encode of the same documents regardless of micro-batch
  * boundaries — the frozen rule list is a pure function, so there is
  * nothing a boundary could change.
  */
class StreamBpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("stream encode == batch encode row for row, md5 included") {
    implicit val ctx = spark.sqlContext
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // train on the standing corpus, freeze to plain rules
    val rules = BpeMerge.trainPairs(
      docs.select(col("doc_id"), Text.tokens(col("text")).as("toks")),
      rounds = 3)
    assert(rules.length === 3)

    val rows = docs.as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val input = MemoryStream[(Long, String)]
    val q = StreamBpe.encoded(input.toDF().toDF("doc_id", "text"),
      "text", rules)
      .select($"doc_id", $"n_tokens", $"tokens_md5")
      .writeStream.format("memory").queryName("bpe_out")
      .outputMode("append").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val streamed = spark.table("bpe_out")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      val batch = StreamBpe.encoded(docs, "text", rules)
        .select($"doc_id", $"n_tokens", $"tokens_md5")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(streamed === batch)
      // and the native encode agrees with the higher-order-function
      // reference rewrite
      val viaHof = BpeHof.encode(
        docs.select(col("doc_id"), Text.tokens(col("text")).as("toks")),
        rules)
        .select($"doc_id", size($"toks").cast("long"),
          md5(array_join($"toks", " ")))
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(streamed === viaHof)
    } finally q.stop()
  }
}
