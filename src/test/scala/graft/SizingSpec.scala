package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sizing

/** The partitions-∝-data deploy recipe (round-13 verdict #6): pure
  * arithmetic pinned on its boundaries, plus the session wiring that
  * Bench/RunOne/PlanDump route through (the sf10 receipt that
  * motivated it is PLANS.md "SCALE-SF10").
  */
class SizingSpec extends AnyFunSuite {

  test("small inputs floor at the core count (every slot used, one wave)") {
    assert(Sizing.shufflePartitions(0L, 32) === 32)
    assert(Sizing.shufflePartitions(1L << 20, 32) === 32)
    // sf0.1 (~18 MB) and sf1 (~180 MB) both resolve to the floor, so
    // wiring the recipe into Bench left historical numbers comparable
    assert(Sizing.shufflePartitions(18L << 20, 32) === 32)
    assert(Sizing.shufflePartitions(180L << 20, 32) === 32)
  }

  test("large inputs scale partitions with bytes, in whole waves") {
    // 16 GiB at 4× amplification / 64 MiB target = 1024 needed → 32 waves
    assert(Sizing.shufflePartitions(16L << 30, 32) === 1024)
    // 17 GiB → 1088 needed → ceil to 34 waves = 1088
    assert(Sizing.shufflePartitions(17L << 30, 32) === 1088)
    // one byte past a wave boundary pays a whole extra wave, never a
    // fractional one
    val atBoundary = Sizing.shufflePartitions(16L << 30, 32)
    val pastBoundary = Sizing.shufflePartitions((16L << 30) + (1L << 30), 32)
    assert(pastBoundary > atBoundary && pastBoundary % 32 === 0)
  }

  test("amplification and target are levers, monotone in the right direction") {
    val base = Sizing.shufflePartitions(16L << 30, 32)
    assert(Sizing.shufflePartitions(16L << 30, 32, amplification = 16.0) ===
      4 * base)
    assert(Sizing.shufflePartitions(16L << 30, 32,
      targetBytes = 128L << 20) === base / 2)
  }

  test("configure() sets both the static conf and the AQE initial count") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("sizing").toString
    import spark.implicits._
    (1L to 100L).toDF("id").write.parquet(s"$dir/t")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val n = Sizing.configure(spark, Seq(s"$dir/t"))
      assert(n === spark.sparkContext.defaultParallelism) // tiny → floor
      assert(spark.conf.get("spark.sql.shuffle.partitions") === n.toString)
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") ===
        n.toString)
      assert(Sizing.bytesUnder(spark, Seq(s"$dir/t")) > 0L)
      assert(Sizing.bytesUnder(spark, Seq(s"$dir/absent")) === 0L)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.unset(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    }
  }
}
