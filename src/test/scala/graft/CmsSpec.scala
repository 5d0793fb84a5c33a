package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Cms

/** Count-min sketch invariants: estimates never undercount, are exact
  * when the grid is wide enough to avoid collisions, respect the εN
  * error bound, and the grid of a union equals the summed grids
  * (sketch mergeability — what lets per-shard sketches combine).
  */
class CmsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // skewed stream: item k appears k times, k = 1..40 → N = 820
  private lazy val occ = (1 to 40).flatMap(k => Seq.fill(k)(s"item-$k"))
    .toDF("item")

  test("estimate >= exact for every item, exact when the grid is wide") {
    val exact = occ.groupBy($"item").agg(count(lit(1)).as("exact"))
    val grid = Cms.counterGrid(occ, "item", depth = 4, width = 256)
    val est = Cms.estimate(exact, "item", grid, depth = 4, width = 256)
      .select($"item", $"exact", $"cms_est")
      .as[(String, Long, Long)].collect()
    assert(est.length === 40)
    est.foreach { case (item, ex, e) =>
      assert(e >= ex, s"$item undercounted: est $e < exact $ex")
    }
    // 40 distinct items in 256 buckets × 4 independent rows: the min
    // cell is collision-free for every item in this fixed dataset
    assert(est.forall { case (_, ex, e) => e === ex })
  }

  test("narrow grid overestimates but stays within the εN bound") {
    val exact = occ.groupBy($"item").agg(count(lit(1)).as("exact"))
    val grid = Cms.counterGrid(occ, "item", depth = 4, width = 8)
    val est = Cms.estimate(exact, "item", grid, depth = 4, width = 8)
      .select($"item", $"exact", $"cms_est")
      .as[(String, Long, Long)].collect()
    val n = 820L
    // ε = e/width; P(err > εN) < e^-depth ≈ 1.8% per item — with 40
    // items an outlier is possible in principle but this data is fixed
    // and deterministic, so the assertion is stable
    val bound = math.ceil(math.E / 8 * n).toLong
    assert(est.forall { case (_, ex, e) => e >= ex })
    assert(est.count { case (_, ex, e) => e - ex > bound } === 0,
      s"estimates beyond eN=$bound: ${est.filter(t => t._3 - t._2 > bound).toSeq}")
    // and the narrow grid genuinely collides on this data — the test
    // would be vacuous otherwise
    assert(est.exists { case (_, ex, e) => e > ex })
  }

  test("grids merge by summation: grid(a ∪ b) == grid(a) + grid(b)") {
    val a = occ.filter(md5($"item").startsWith("a") || $"item".endsWith("7"))
    val b = occ.exceptAll(a)
    val merged = Cms.counterGrid(a, "item", 4, 64)
      .unionByName(Cms.counterGrid(b, "item", 4, 64))
      .groupBy($"row", $"bucket").agg(sum($"cnt").as("cnt"))
    val direct = Cms.counterGrid(occ, "item", 4, 64)
    assert(merged.exceptAll(direct).isEmpty && direct.exceptAll(merged).isEmpty)
  }

  test("a non-positive depth throws when the grid or probe is built") {
    // sequence(0, -1) has no step and yields [0, -1], so an unchecked
    // depth 0 would silently sketch a row -1
    import graft.streaming.StreamCms
    val ts = Seq((new java.sql.Timestamp(0L), "a")).toDF("ts", "item")
    val grid = Cms.counterGrid(occ, "item", 4, 64)
    for (depth <- Seq(0, -1)) {
      intercept[IllegalArgumentException](Cms.counterGrid(occ, "item", depth, 64))
      intercept[IllegalArgumentException](
        Cms.estimate(occ, "item", grid, depth, 64))
      intercept[IllegalArgumentException](
        StreamCms.windowedGrid(ts, "ts", "item", "1 hour", "0 seconds", depth, 64))
    }
  }
}
