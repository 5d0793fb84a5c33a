package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Shards, Text}
import graft.streaming.{StreamBloom, StreamGate, StreamShards}

/** The composed streaming ingest gate (dedup → bloom → BPE encode →
  * shard append) must produce, across micro-batch boundaries, EXACTLY
  * the content the equivalent batch chain produces over the union of
  * all batches — the claim the per-operator specs argued singly
  * ("composable because stateless") now tested end to end, plus the
  * sink's replay idempotence inside the composition.
  */
class StreamGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // id, text, epoch-second — dups and contamination planted across the
  // two batches: 3/103 and 5/105 share text (cross-batch dups, first
  // arrival deterministic), 2 and 104 are in the blocklist
  private val batch1 = Seq(
    (1L, "the quick brown fox jumps over the dog", 100L),
    (2L, "contaminated eval document one", 110L),
    (3L, "a duplicated text body arriving first", 120L),
    (5L, "another duplicated body inside one batch", 130L))
  private val batch2 = Seq(
    (103L, "a duplicated text body arriving first", 200L),
    (104L, "contaminated eval document two", 210L),
    (105L, "another duplicated body inside one batch", 215L),
    (106L, "a fresh late document with new content", 220L))
  private val blocklist = Seq(
    "contaminated eval document one", "contaminated eval document two")
  private val rules = Seq("the" -> "quick", "a" -> "duplicated")

  test("stream gate content == batch chain; per-batch assignment exact; replay no-op") {
    implicit val ctx = spark.sqlContext
    val bytes = StreamBloom.filterBytes(
      blocklist.toDF("text"), md5(col("text")), 100L, 0.001)
    val out = java.nio.file.Files
      .createTempDirectory("stream_gate").toString
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "secs")
      .withColumn("ts", col("secs").cast("timestamp")).drop("secs")
    val q = StreamGate.start(docs, "text", "ts", "1 hour", bytes, rules,
      "doc_id", out, docsPerShard = 2, seed = 5)
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
    } finally q.stop()

    val store = spark.read.parquet(out)
    // BATCH CHAIN over the union: first-arrival dedup (min doc_id here
    // — ids arrive in order), blocklist filter, frozen encode
    val union = (batch1 ++ batch2).toDF("doc_id", "text", "secs")
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val kept = union
      .withColumn("rn", row_number().over(wD)).filter(col("rn") === 1)
      .filter(!col("text").isin(blocklist: _*))
    val expect = BpeHof.encode(
        kept.withColumn("toks", Text.tokens(col("text"))), rules)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        md5(array_join(col("toks"), " ")).as("tokens_md5"))
      .as[(Long, Long, String)].collect().toSet
    val got = store.select($"doc_id", $"n_tokens", $"tokens_md5")
      .as[(Long, Long, String)].collect().toSet
    assert(got === expect)
    assert(got.map(_._1) === Set(1L, 3L, 5L, 106L))
    // the frozen rules actually fired: doc 3 merged "a duplicated"
    assert(got.find(_._1 == 3L).get._2 === 5L) // 6 tokens -> 5

    // per-batch (shard, position) equals Shards.assign of that batch's
    // kept rows at the committed offset — batch 1 kept {1,3,5} → 2
    // shards (0,1); batch 2 kept {106} lands fresh at shard 2
    val b1Expect = Shards.assign(
        Seq(1L, 3L, 5L).toDF("doc_id"), col("doc_id"), 2, 5)
      .select($"doc_id", $"shard", $"position")
      .as[(Long, Long, Long)].collect().toSet
    val b1Got = store.filter($"_batch_id" === 0)
      .select($"doc_id", $"shard".cast("long"), $"position")
      .as[(Long, Long, Long)].collect().toSet
    assert(b1Got === b1Expect)
    assert(store.filter($"_batch_id" === 1)
      .select($"shard".cast("long")).as[Long].collect().toSet === Set(2L))

    // replaying a committed batch through the sink inside the gate's
    // store is a no-op (manifest present)
    val replayed = StreamShards.appendBatch(
      Seq((106L, 38L, "zz")).toDF("doc_id", "n_tokens", "tokens_md5"),
      batchId = 1L, "doc_id", out, docsPerShard = 2, seed = 5)
    assert(replayed === 0L)
    assert(spark.read.parquet(out).count() === 4)
  }
}
