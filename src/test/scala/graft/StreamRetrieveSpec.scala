package graft

import org.apache.spark.grafttest.JobCount
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Similarity, Text}
import graft.streaming.StreamRetrieve

/** The streaming hybrid-retrieval serve (StreamRetrieve) must score a
  * query stream against the persisted index EXACTLY as one batch call
  * over the union of the micro-batches — the stream==batch law every
  * stateless gate in the repo pins — and its dense candidates must
  * come only from each query's probed cells (the partition-pruning
  * claim, asserted against the index's own cell assignment).
  */
class StreamRetrieveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("stream serve == batch serve; dense candidates cell-bounded") {
    implicit val ctx = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("stream_retrieve_idx").toString
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        Similarity.toDoubleArray(col("embedding")).as("v"))
    // frozen coarse quantizer: the first 4 vectors in id order (an
    // offline choice, like StreamKnn's)
    val cents: Seq[Seq[Double]] = vecs.filter(col("doc_id") < 4)
      .orderBy(col("doc_id")).select(col("v"))
      .as[Seq[Double]].collect().toSeq
    StreamRetrieve.buildIndex(docs, vecs, cents, dir)

    // 6 queries: each query doc's top-5 tokens by (tf desc, w) + its
    // own embedding
    val wQt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("tf").desc, col("w"))
    val qterms = docs.filter(col("doc_id") < 6)
      .select(col("doc_id").as("query_id"),
        explode(Text.tokens(col("text"))).as("w"))
      .groupBy(col("query_id"), col("w")).agg(count(lit(1)).as("tf"))
      .withColumn("trnk", row_number().over(wQt))
      .filter(col("trnk") <= 5)
      .groupBy(col("query_id")).agg(collect_list(col("w")).as("qterms"))
    val queries = qterms
      .join(vecs.select(col("doc_id").as("query_id"), col("v").as("qv")),
        "query_id")
      .select(col("query_id"), col("qterms"), col("qv"))
      .localCheckpoint()
    val qRows = queries.as[(Long, Seq[String], Seq[Double])]
      .collect().sortBy(_._1).toSeq

    // the index is read with its declared schemas: the ones inference
    // gives, and building the serve frame reads no parquet footer
    StreamRetrieve.IndexSchemas.foreach { case (name, declared) =>
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => f.name -> f.dataType.sql).toSeq // nullability aside
      assert(shape(spark.read.parquet(s"$dir/$name").schema) == shape(declared), name)
    }
    var served: org.apache.spark.sql.DataFrame = null
    assert(JobCount(spark.sparkContext) {
      served = StreamRetrieve.serveBatch(spark, queries, dir, cents,
        nProbe = 2, legK = 20, topK = 10)
    } == 0)
    val batchOut = served.as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(batchOut.nonEmpty)
    assert(batchOut.groupBy(_._1).size === 6)

    // stream the same queries in 3 micro-batches
    val out = java.nio.file.Files
      .createTempDirectory("stream_retrieve_out").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("stream_retrieve_ckpt").toString
    val input = MemoryStream[(Long, Seq[String], Seq[Double])]
    val q = StreamRetrieve.serve(
      input.toDF().toDF("query_id", "qterms", "qv"),
      dir, cents, nProbe = 2, legK = 20, topK = 10, out, ckpt)
    try {
      input.addData(qRows.take(2)); q.processAllAvailable()
      input.addData(qRows.slice(2, 3)); q.processAllAvailable()
      input.addData(qRows.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("rrf"),
        col("r_sparse"), col("r_dense"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed === batchOut)

    // dense candidates only from each query's 2 probed cells
    val cells = spark.read.parquet(s"$dir/vecs")
      .select(col("doc_id"), col("cell")).as[(Long, Int)]
      .collect().toMap
    val probed: Map[Long, Set[Int]] = qRows.map { case (qid, _, qv) =>
      val d2 = cents.map(c =>
        qv.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      qid -> d2.zipWithIndex.sortBy { case (d, i) => (d, i) }
        .take(2).map(_._2).toSet
    }.toMap
    batchOut.filter(_._6 > 0L).foreach { case (qid, _, docId, _, _, _) =>
      assert(probed(qid).contains(cells(docId)),
        s"query $qid: dense candidate $docId outside probed cells")
    }
  }

  test("incremental index maintenance == full rebuild; untouched df buckets preserved") {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val vecs = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        Similarity.toDoubleArray(col("embedding")).as("v"))
      .localCheckpoint()
    val cents: Seq[Seq[Double]] = vecs.filter(col("doc_id") < 4)
      .orderBy(col("doc_id")).select(col("v"))
      .as[Seq[Double]].collect().toSeq

    // incremental: seed on docs < 300, then fold in two batches
    val inc = java.nio.file.Files
      .createTempDirectory("retrieve_idx_inc").toString
    StreamRetrieve.buildIndex(
      docs.filter(col("doc_id") < 300), vecs.filter(col("doc_id") < 300),
      cents, inc)
    Seq((300L, 400L), (400L, 100000L)).foreach { case (lo, hi) =>
      StreamRetrieve.updateIndex(
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        vecs.filter(col("doc_id") >= lo && col("doc_id") < hi),
        cents, inc)
    }

    // full rebuild over everything
    val full = java.nio.file.Files
      .createTempDirectory("retrieve_idx_full").toString
    StreamRetrieve.buildIndex(docs, vecs, cents, full)

    // state equality table by table
    def tbl(dir: String, name: String, cols: Seq[String]) =
      spark.read.parquet(s"$dir/$name").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(tbl(inc, "postings", Seq("w", "doc_id", "tf"))
      === tbl(full, "postings", Seq("w", "doc_id", "tf")))
    assert(tbl(inc, "doclen", Seq("doc_id", "dl"))
      === tbl(full, "doclen", Seq("doc_id", "dl")))
    assert(tbl(inc, "stats", Seq("n_docs", "total_dl"))
      === tbl(full, "stats", Seq("n_docs", "total_dl")))
    assert(tbl(inc, "df", Seq("w", "df", "b"))
      === tbl(full, "df", Seq("w", "df", "b")))
    assert(tbl(inc, "vecs", Seq("doc_id", "cell"))
      === tbl(full, "vecs", Seq("doc_id", "cell")))

    // the serve output over the incrementally-maintained index is
    // identical to the rebuilt one
    val queries = Seq((0L, Seq("the", "of", "a"), cents(0)))
      .toDF("query_id", "qterms", "qv")
    val a = StreamRetrieve.serveBatch(spark, queries, inc, cents, 2, 20, 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val b = StreamRetrieve.serveBatch(spark, queries, full, cents, 2, 20, 10)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(a === b && a.nonEmpty)

    // touched-bucket surgery: a TINY update (one 3-term doc) must
    // rewrite only the ≤3 df buckets its terms hash to — every other
    // bucket's rows stay identical (the dynamic overwrite replaced
    // only touched partitions)
    val preDfRows = spark.read.parquet(s"$inc/df")
      .as[(String, Long, Int)].collect().toSet
    val tinyDocs = Seq((900000L, "zxq1 zxq2 zxq3")).toDF("doc_id", "text")
    val tinyVecs = Seq((900000L, cents(0))).toDF("doc_id", "v")
    StreamRetrieve.updateIndex(tinyDocs, tinyVecs, cents, inc)
    val touched = StreamRetrieve.dfBucketsOf(tinyDocs)
    assert(touched.size <= 3)
    val postDfRows = spark.read.parquet(s"$inc/df")
      .as[(String, Long, Int)].collect().toSet
    assert(postDfRows.filterNot(r => touched.contains(r._3))
      === preDfRows.filterNot(r => touched.contains(r._3)))
    // the touched buckets gained exactly the three new terms at df=1
    val newBuckets = Seq("zxq1", "zxq2", "zxq3").toDF("w")
      .select(col("w"), StreamRetrieve.dfBucket(col("w")).as("b"))
      .as[(String, Int)].collect().toMap
    assert((postDfRows -- preDfRows)
      === Set(("zxq1", 1L, newBuckets("zxq1")),
        ("zxq2", 1L, newBuckets("zxq2")),
        ("zxq3", 1L, newBuckets("zxq3"))))
  }
}
