package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shuffle-parallelism sizing — the SCALE-SF10 "partitions ∝ data"
  * lesson made executable (round-13 verdict #6).
  *
  * The probe found the failure mode empirically: 32 shuffle partitions
  * held fixed while the corpus grew 40× turned x67's in-memory
  * shuffles into spill — 10× wall for 4× data with exactly linear
  * output rows (PLANS.md SCALE-SF10 hygiene #3a). A fixed partition
  * count is a single-machine artifact, not a plan property: what must
  * stay constant as data grows is BYTES PER PARTITION, so the
  * partition count has to scale with the input.
  *
  * The deploy recipe, as code:
  *  - `partitions = ceil(inputBytes × amplification / targetBytes)`,
  *    where `amplification` covers parquet's encoding advantage over
  *    in-flight row data (dictionary/RLE-compressed columns fan out to
  *    ~4× their on-disk size as shuffle rows — conservative, and the
  *    penalty for overshooting is mild because AQE coalesces);
  *  - floored at the cluster's core count (small inputs still use
  *    every slot) and rounded UP to a whole number of waves (a 1.1-wave
  *    stage pays a whole second wave of stragglers);
  *  - the same value feeds BOTH `spark.sql.shuffle.partitions` (the
  *    non-AQE floor) and
  *    `spark.sql.adaptive.coalescePartitions.initialPartitionNum`, so
  *    AQE splits first and coalesces per-stage from runtime sizes —
  *    oversized stages stay spill-free, undersized ones collapse back.
  *
  * On a real cluster `inputBytes` comes from the catalog/table stats;
  * here it is the recursive on-disk size of the benched directories.
  * Bench, RunOne and PlanDump all route through [[configure]], so the
  * harness exercises the exact sizing a deployment would use.
  */
object Sizing {

  /** Post-amplification bytes a shuffle partition should hold: 64 MiB
    * — comfortably inside an executor task's working memory, large
    * enough that task-launch overhead stays amortized.
    */
  val DefaultTargetBytes: Long = 64L << 20

  /** On-disk parquet → in-flight row-bytes fan-out. */
  val DefaultAmplification: Double = 4.0

  /** Partition count for `inputBytes` of on-disk input on `cores`
    * execution slots (pure function — see object doc for the recipe).
    */
  def shufflePartitions(inputBytes: Long, cores: Int,
      targetBytes: Long = DefaultTargetBytes,
      amplification: Double = DefaultAmplification): Int = {
    require(cores > 0, "cores must be positive")
    require(targetBytes > 0, "targetBytes must be positive")
    require(amplification > 0, "amplification must be positive")
    val needed =
      math.ceil(math.max(0L, inputBytes) * amplification / targetBytes).toLong
    val waves = math.max(1L, (needed + cores - 1) / cores)
    // scheduler sanity cap — far above any single-job need; at this
    // point the answer is more executors, not more partitions
    math.min(waves * cores, 1L << 20).toInt
  }

  /** Recursive on-disk size of `dirs` (each a file or directory). */
  def bytesUnder(spark: SparkSession, dirs: Seq[String]): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    dirs.map { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }.sum
  }

  /** Size the session's shuffle parallelism from the data it is about
    * to process: sets `spark.sql.shuffle.partitions` AND the AQE
    * `initialPartitionNum` from the recursive size of `dirs`. Returns
    * the partition count chosen.
    */
  def configure(spark: SparkSession, dirs: Seq[String]): Int = {
    val n = shufflePartitions(bytesUnder(spark, dirs),
      spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum", n.toString)
    n
  }
}
