package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.KMeansLite

/** fitQuantizedSliced (round-17 job fusion for the x59/x72/x87
  * product-quantizer builds) must return BIT-IDENTICAL centroids to
  * one fitQuantized call per slice — same seeds (slicing commutes
  * with the first-k-by-id selection), same exact-integer quantized
  * update folds regrouped by fit tag.
  */
class KMeansSlicedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic 8-dim vectors, values in [-1, 1)
  private def vecs(n: Int) = (0 until n).map { i =>
    (i.toLong, (0 until 8).map(d =>
      (((i * 31 + d * 17) % 97) - 48) / 48.0).toSeq)
  }.toDF("vec_id", "v")

  test("sliced fits equal per-slice fitQuantized bit-for-bit") {
    val base = vecs(60).localCheckpoint()
    val fits = Seq((0, 0, 4), (1, 4, 3), (5, 4, 5))
    val fused = KMeansLite.fitQuantizedSliced(
      base, "vec_id", "v", fits, iters = 2)
    val solo = fits.map { case (start, len, k) =>
      val in = if (start == 0) base
      else base.select(col("vec_id"), slice(col("v"), start, len).as("v"))
      KMeansLite.fitQuantized(in, "vec_id", "v", k, iters = 2)
    }
    assert(fused === solo)
  }

  test("empty cells keep their previous centroid, as in fitQuantized") {
    // k=8 over 8 identical vectors: 7 cells go empty after round 1
    val one = (0 until 8).map(i => (i.toLong, Seq(0.5, -0.25, 0.125)))
      .toDF("vec_id", "v").localCheckpoint()
    val fused = KMeansLite.fitQuantizedSliced(
      one, "vec_id", "v", Seq((0, 0, 8)), iters = 1)
    val solo = KMeansLite.fitQuantized(one, "vec_id", "v", 8, iters = 1)
    assert(fused === Seq(solo))
  }

  test("an empty fit list is rejected before any job runs") {
    intercept[IllegalArgumentException] {
      KMeansLite.fitQuantizedSliced(vecs(4), "vec_id", "v", Seq.empty, iters = 1)
    }
  }
}
