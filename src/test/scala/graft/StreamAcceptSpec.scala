package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{NaiveBayes, Text}
import graft.streaming.{StreamAccept, StreamNb}

/** Frozen-CDF acceptance gate (the x102 serving twin):
  *  - hand-computed strict-below rank fixture (ties take the
  *    tie-class minimum — the new-doc convention);
  *  - boundary math (u=0 rejects even the top of the distribution);
  *  - stream across micro-batches == batch gating against the same
  *    frozen CDF, row for row;
  *  - the full serving composition: NB quality score → acceptance
  *    gate, chained as two narrow maps on one stream, equal to the
  *    batch chain.
  */
class StreamAcceptSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("strict-below rank and boundary math on a hand fixture") {
    val ref = Seq(100L, 200L, 200L, 300L).toDF("s")
    val frozen = StreamAccept.freeze(ref, col("s"))
    assert(frozen.nRef === 4L)
    assert(frozen.hist === Seq((100L, 1L), (200L, 2L), (300L, 1L)))
    val probes = Seq((1L, 100L), (2L, 200L), (3L, 250L), (4L, 999L))
      .toDF("doc_id", "score")
    val got = StreamAccept.gate(probes, col("doc_id"), col("score"), frozen)
      .select(col("doc_id"), col("rank_ppm"))
      .as[(Long, Long)].collect().toMap
    // denom = nRef-1 = 3; strict-below: 100→0, 200→1, 250→3, 999→4
    assert(got(1L) === 0L)
    assert(got(2L) === 333333L)  // 1e6 div 3
    assert(got(3L) === 1000000L) // 3e6 div 3
    assert(got(4L) === 1333333L) // above the whole reference
    // a zero draw (u=0 → pareto=0) rejects rank_ppm = 1e6 exactly:
    // keep needs rank+pareto STRICTLY > 1e6 (the x102 boundary)
    val row = StreamAccept.gate(
      Seq((1L, 250L)).toDF("doc_id", "score"),
      col("doc_id"), col("score"), frozen)
      .select(col("rank_ppm"), col("pareto_e6"), col("keep"))
      .as[(Long, Long, Boolean)].head()
    assert(row._3 === (row._1 + row._2 > 1000000L))
  }

  private lazy val scored = {
    val docs = Tables(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text")))
      .withColumn("n_toks", size(col("t")).cast("long"))
      .filter(col("n_toks") > 0)
      .withColumn("score_ppm",
        expr("CAST(size(array_distinct(t)) AS BIGINT) * 1000000" +
          " div n_toks"))
      .select(col("doc_id"), col("text"), col("score_ppm"))
    docs
  }

  test("stream gate == batch gate on the same frozen CDF") {
    val frozen = StreamAccept.freeze(scored, col("score_ppm"))
    val expected = StreamAccept.gate(scored,
      col("doc_id"), col("score_ppm"), frozen)
      .select(col("doc_id"), col("rank_ppm"), col("pareto_e6"), col("keep"))
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(expected.exists(_._4) && expected.exists(!_._4)) // both verdicts
    val sample = scored.select(col("doc_id"), col("score_ppm"))
      .as[(Long, Long)].collect().toSeq
    val (b1, b2) = sample.splitAt(sample.length / 2)
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val q = StreamAccept.gate(
      input.toDF().toDF("doc_id", "score_ppm"),
      col("doc_id"), col("score_ppm"), frozen)
      .select(col("doc_id"), col("rank_ppm"), col("pareto_e6"), col("keep"))
      .writeStream.format("memory").queryName("accept_out")
      .outputMode("append").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      assert(spark.table("accept_out")
        .as[(Long, Long, Long, Boolean)].collect().toSet === expected)
    } finally q.stop()
  }

  test("quality-headed full gate == batch chain over the union") {
    // the six-stage composition: NB score → CDF accept → dedup →
    // bloom → encode, streamed in two batches, against the batch twin
    val base = Tables(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text")))
      .select(col("doc_id"), col("text"), col("t"))
    val (model, consts) = NaiveBayes.train(
      base.filter(col("doc_id") % 3 === 0)
        .withColumn("label", (col("doc_id") % 2 === 0).cast("long")),
      "t", "label")
    val nb = StreamNb.freeze(model, consts)
    val cdf = StreamAccept.freeze(
      StreamNb.score(base.filter(col("doc_id") % 3 === 0), col("t"), nb),
      col("score_e6"))
    val holdout = base.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"))
    val blockTexts = holdout.orderBy(col("doc_id")).limit(2)
      .select(col("text")).as[String].collect().toSeq
    val bytes = graft.streaming.StreamBloom.filterBytes(
      blockTexts.toDF("text"), md5(col("text")), 100L, 0.001)
    val rules = Seq("the" -> "a")
    val sample = holdout.as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (b1, b2) = sample.splitAt(sample.length / 2)
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
      .withColumn("ts", col("doc_id").cast("timestamp"))
    val q = graft.streaming.StreamGate.transformQuality(
        stream, "doc_id", "text", "ts", "1 hour", nb, cdf, bytes, rules)
      .select(col("doc_id"),
        md5(array_join(col("toks"), " ")).as("toks_md5"))
      .writeStream.format("memory").queryName("qgate_out")
      .outputMode("append").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // batch twin: same frozen gate as a row filter, first-arrival
    // dedup (= min doc_id: batches arrived in id order), blocklist,
    // frozen encode
    val accepted = StreamAccept.gate(
        StreamNb.score(holdout.withColumn("t", Text.tokens(col("text"))),
          col("t"), nb),
        col("doc_id"), col("score_e6"), cdf)
      .filter(col("keep"))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val expect = BpeHof.encode(
        accepted.withColumn("rn", row_number().over(wD))
          .filter(col("rn") === 1)
          .filter(!col("text").isin(blockTexts: _*))
          .withColumn("toks", Text.tokens(col("text"))), rules)
      .select(col("doc_id"), md5(array_join(col("toks"), " ")).as("m"))
      .as[(Long, String)].collect().toSet
    val got = spark.table("qgate_out").as[(Long, String)].collect().toSet
    assert(got === expect)
    assert(got.nonEmpty && got.size < sample.size) // the gate binds
  }

  test("serving composition: NB score then acceptance gate, one stream") {
    val docs = Tables(spark, dir, "documents")
      .withColumn("label", when(col("lang") === "en", 1L).otherwise(0L))
      .withColumn("t", Text.tokens(col("text")))
      .select(col("doc_id"), col("label"), col("t"))
    val (model, consts) =
      NaiveBayes.train(docs.filter(col("doc_id") % 3 === 0), "t", "label")
    val nb = StreamNb.freeze(model, consts)
    // reference CDF = the training split's own scores
    val refScores = StreamNb.score(
      docs.filter(col("doc_id") % 3 === 0), col("t"), nb)
    val cdf = StreamAccept.freeze(refScores, col("score_e6"))
    def chain(df: org.apache.spark.sql.DataFrame) =
      StreamAccept.gate(
        StreamNb.score(df, col("t"), nb),
        col("doc_id"), col("score_e6"), cdf)
        .select(col("doc_id"), col("score_e6"), col("rank_ppm"), col("keep"))
    val holdout = docs.filter(col("doc_id") % 3 =!= 0)
    val expected = chain(holdout)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val sample = holdout.select(col("doc_id"), concat_ws(" ", col("t")))
      .as[(Long, String)].collect().toSeq
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = chain(input.toDF().toDF("doc_id", "text")
        .withColumn("t", Text.tokens(col("text"))))
      .writeStream.format("memory").queryName("chain_out")
      .outputMode("append").start()
    try {
      input.addData(sample); q.processAllAvailable()
      assert(spark.table("chain_out")
        .as[(Long, Long, Long, Boolean)].collect().toSet === expected)
    } finally q.stop()
  }

  test("DSIR-headed curated gate == quality gate over the kept subset") {
    import graft.ext.Dsir
    import graft.streaming.StreamDsir
    val base = Tables(spark, dir, "documents")
      .withColumn("t", Text.tokens(col("text")))
    // λ fit on the full corpus (target = en), τ at the median weight
    // so the head gate BINDS in both directions
    val feats = base.filter(size(col("t")) >= 2)
      .select(col("lang"), explode(Dsir.featureArray(col("t"))).as("f"))
      .withColumn("b", Dsir.bucket(col("f")))
    val lam = StreamDsir.freeze(Dsir.lambdaTable(feats, col("lang") === "en"))
    val ws = StreamDsir.weight(base, col("t"), lam, 0L)
      .select(col("w_e6")).as[Long].collect().sorted
    val tau = ws(ws.length / 2)
    val (model, consts) = NaiveBayes.train(
      base.filter(col("doc_id") % 3 === 0)
        .withColumn("label", (col("doc_id") % 2 === 0).cast("long")),
      "t", "label")
    val nb = StreamNb.freeze(model, consts)
    val cdf = StreamAccept.freeze(
      StreamNb.score(base.filter(col("doc_id") % 3 === 0), col("t"), nb),
      col("score_e6"))
    val bytes = graft.streaming.StreamBloom.filterBytes(
      Seq("nothing blocked").toDF("text"), md5(col("text")), 10L, 0.001)
    val rules = Seq("the" -> "a")
    val sample = base.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (b1, b2) = sample.splitAt(sample.length / 2)
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
      .withColumn("ts", col("doc_id").cast("timestamp"))
    // w_e6 rides through the whole chain (replayable keep decision —
    // ADVICE r12), so select it from the gate OUTPUT and pin it against
    // the batch-side weights below.
    val q = graft.streaming.StreamGate.transformCurated(
        stream, "doc_id", "text", "ts", "1 hour", lam, tau, nb, cdf,
        bytes, rules)
      .select(col("doc_id"), col("w_e6"),
        md5(array_join(col("toks"), " ")).as("m"))
      .writeStream.format("memory").queryName("cgate_out")
      .outputMode("append").start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
    } finally q.stop()
    // batch twin: the promised identity — quality gate over exactly
    // the DSIR-kept subset
    val kept = StreamDsir.weight(base, col("t"), lam, tau)
      .filter(col("keep")).select(col("doc_id"), col("text"))
    val accepted = StreamAccept.gate(
        StreamNb.score(kept.withColumn("t", Text.tokens(col("text"))),
          col("t"), nb),
        col("doc_id"), col("score_e6"), cdf)
      .filter(col("keep"))
    val wD = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val wMap = StreamDsir.weight(base, col("t"), lam, tau)
      .filter(col("keep")).select(col("doc_id"), col("w_e6"))
      .as[(Long, Long)].collect().toMap
    val expect = BpeHof.encode(
        accepted.withColumn("rn", row_number().over(wD))
          .filter(col("rn") === 1)
          .withColumn("toks", Text.tokens(col("text"))), rules)
      .select(col("doc_id"), md5(array_join(col("toks"), " ")).as("m"))
      .as[(Long, String)].collect()
      .map { case (id, m) => (id, wMap(id), m) }.toSet
    val got = spark.table("cgate_out")
      .as[(Long, Long, String)].collect().toSet
    assert(got === expect)
    // the DSIR head binds: fewer docs than the corpus reach the tail,
    // and fewer than the quality gate alone would keep
    assert(got.nonEmpty && got.size < sample.size)
    val keptN = kept.count()
    assert(keptN < sample.size && got.size <= keptN)
  }
}
