package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{KMeansLite, Outliers}
import graft.queries.ExtQueries
import graft.streaming.StreamOutliers

/** Batch-fit / stream-apply outlier monitor: the threshold exported
  * from the batch ranking reproduces the batch flags row-for-row on
  * the same corpus, stream scoring is stateless and agrees with the
  * batch scorer, and the windowed rates equal the batch aggregation
  * of the same rows regardless of micro-batching.
  */
class StreamOutliersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def base = Tables(spark, dir, "embeddings")
    .select(col("vec_id"),
      graft.ext.Similarity.toDoubleArray(col("embedding")).as("v"))

  // same data-proportional cell count as x61 (round-16: the batch
  // query moved from a literal 16 to corpusK, so the monitor's
  // batch-fit must follow or the cross-check below compares different
  // cell structures)
  private lazy val cents = KMeansLite.fitQuantized(
    base, "vec_id", "v", ExtQueries.corpusK(base.count()), iters = 1)

  test("batch-derived thresholds reproduce the x61 rank flags exactly") {
    val thr = Outliers.thresholds(base, "vec_id", "v", cents)
    val viaThreshold = StreamOutliers.score(base, "v", cents, thr)
      .select($"vec_id", $"outlier").as[(Long, Boolean)].collect().toMap
    val viaRank = ExtQueries.queries("x61_embed_outliers")(spark, dir)
      .select($"vec_id", $"outlier").as[(Long, Boolean)].collect().toMap
    assert(viaThreshold.size == viaRank.size)
    viaRank.foreach { case (id, flagged) =>
      assert(viaThreshold(id) == flagged,
        s"vec $id: threshold says ${viaThreshold(id)}, rank says $flagged")
    }
    // independent count identity: absent boundary ties the rank rule
    // flags exactly ⌊pop/20⌋ per cell — recompute pops from the batch
    // output and pin the total
    val flagged = viaThreshold.count(_._2)
    val expected = ExtQueries.queries("x61_embed_outliers")(spark, dir)
      .groupBy($"cell").agg(max($"pop").as("pop"))
      .as[(Long, Long)].collect().map(_._2 / 20).sum
    assert(flagged == expected, s"flagged $flagged, expected $expected")
    assert(flagged > 0)
  }

  test("windowed rates equal the batch aggregation of the same rows") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val thr = Outliers.thresholds(base, "vec_id", "v", cents)

    // 6 corpus vectors across two windows + a watermark closer
    val vecs = base.limit(6)
      .as[(Long, Seq[Double])].collect()
    val rows = vecs.zipWithIndex.map { case ((id, v), i) =>
      val t = if (i < 4) ts("2024-05-01 10:10:00") else ts("2024-05-01 11:10:00")
      (t, id, v)
    }
    val input = MemoryStream[(Timestamp, Long, Seq[Double])]
    val stream = input.toDF().toDF("ts", "vec_id", "v")
    val q = StreamOutliers.windowedRates(
        StreamOutliers.score(stream, "v", cents, thr),
        "ts", "1 hour", "30 minutes")
      .writeStream.format("memory").queryName("outlier_rates")
      .outputMode("append").start()
    try {
      input.addData(rows.take(2): _*)
      q.processAllAvailable()
      input.addData(rows.drop(2): _*)
      q.processAllAvailable()
      input.addData((ts("2024-05-01 14:00:00"), 0L, vecs.head._2))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("outlier_rates")
      .filter($"window_start" < "2024-05-01 12:00:00")
      .select($"window_start".cast("string"), $"cell", $"n", $"n_outliers")
      .as[(String, Long, Long, Long)].collect().toSet
    val batch = StreamOutliers.score(
        rows.toSeq.toDF("ts", "vec_id", "v"), "v", cents, thr)
      .groupBy(window($"ts", "1 hour"), $"cell")
      .agg(count(lit(1)).as("n"),
        sum($"outlier".cast("long")).as("n_outliers"))
      .select($"window.start".cast("string"), $"cell", $"n", $"n_outliers")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
  }
}
