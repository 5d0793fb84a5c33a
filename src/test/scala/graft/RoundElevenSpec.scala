package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Text

/** Round-11 wave: x86 shard write-out, Bloom.test under duplicate
  * keys and the x89 histogram quantile sketch — properties the DuckDB
  * oracle can't state directly. (The round's BPE encode tests live in
  * BpeMergeSpec.)
  */
class RoundElevenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables(spark, dir, "documents")
    .select(col("doc_id"), Text.tokens(col("text")).as("toks"))

  // --- x86: deterministic shard write-out -----------------------------

  import graft.ext.Shards

  private def shardBase = docs.select(col("doc_id")).filter(col("doc_id") < 400)
  private def shardAppendBatch = docs.select(col("doc_id"))
    .filter(col("doc_id") >= 400)

  test("x86: assignment is deterministic and shards are dense fixed-size") {
    val a1 = Shards.assign(shardBase, col("doc_id"), 100, seed = 42)
      .select("doc_id", "shard", "position")
    val a2 = Shards.assign(shardBase, col("doc_id"), 100, seed = 42)
      .select("doc_id", "shard", "position")
    assert(a1.exceptAll(a2).count() === 0 && a2.exceptAll(a1).count() === 0)
    // every shard except the highest holds exactly 100 docs at dense
    // positions 0..99 (fixed-size shards, no gaps)
    val sizes = a1.groupBy("shard")
      .agg(count(lit(1)).as("n"), min("position").as("lo"),
        max("position").as("hi"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    sizes.dropRight(1).foreach { case (s, n, lo, hi) =>
      assert(n === 100L && lo === 0L && hi === 99L, s"shard $s")
    }
    val (_, nLast, loLast, hiLast) = sizes.last
    assert(loLast === 0L && hiLast === nLast - 1)
  }

  test("x86: appends land in fresh shards; shipped assignments immutable") {
    val base = Shards.assign(shardBase, col("doc_id"), 100, seed = 42)
    val maxShard = base.agg(max("shard")).as[Long].head()
    val appended = Shards.assign(shardAppendBatch, col("doc_id"), 100,
      seed = 42, rankOffset = (maxShard + 1) * 100)
    // no shard collision: the new batch starts past every shipped shard
    assert(appended.agg(min("shard")).as[Long].head() === maxShard + 1)
    // write base, append the batch, re-read: base rows byte-identical
    val out = java.nio.file.Files
      .createTempDirectory("shards").toString
    Shards.write(base, out)
    Shards.write(appended, out, append = true)
    val reread = spark.read.parquet(out)
      .select(col("doc_id"), col("shard").cast("long"), col("position"))
    val baseRows = base.select(col("doc_id"), col("shard"), col("position"))
    assert(reread.count() === base.count() + appended.count())
    assert(baseRows.exceptAll(reread).count() === 0,
      "every shipped (doc, shard, position) must survive the append")
  }

  // --- r10 advice: Bloom.test under duplicate key rows ----------------

  test("Bloom.test: duplicate key rows cannot produce false negatives") {
    import graft.ext.Bloom
    val ref = Seq("alpha", "beta", "gamma").toDF("gram")
    val bits = Bloom.build(ref, col("gram"), j = 4)
    // 'alpha' appears twice — the count-based verdict saw sum = 2j for
    // the collapsed group and reported a member as absent
    val keys = Seq("alpha", "alpha", "beta", "zeta").toDF("gram")
    val verdicts = Bloom.test(keys, col("gram"), bits, j = 4)
      .as[(String, Boolean)].collect().toMap
    assert(verdicts("alpha"), "duplicated member must still test positive")
    assert(verdicts("beta"))
  }

  // --- x89: histogram quantile sketch ---------------------------------

  test("x89: rank-exact, value error < binWidth, at every quantile") {
    val out = ExtQueriesAccess.run(spark, dir, "x89_quantile_histogram")
      .select(col("q_ppm"), col("est"), col("exact"), col("err"))
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length === 5)
    out.foreach { case (q, est, exact, err) =>
      assert(est >= exact && err === est - exact && err >= 0 && err < 64,
        s"q=$q est=$est exact=$exact")
    }
  }

  test("x89: shard histograms merge by addition into the whole") {
    import graft.ext.Quantiles
    val docs = Tables(spark, dir, "documents")
    val whole = Quantiles.histogram(docs, col("n_chars"), 64L)
    val a = Quantiles.histogram(
      docs.filter(col("doc_id") % 2 === 0), col("n_chars"), 64L)
    val b = Quantiles.histogram(
      docs.filter(col("doc_id") % 2 =!= 0), col("n_chars"), 64L)
    val merged = a.unionByName(b)
      .groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    assert(merged.exceptAll(whole).count() === 0 &&
      whole.exceptAll(merged).count() === 0,
      "sum of shard grids must equal the union grid cell for cell")
  }
}
