package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measurement probe (round-17, no registry surface): on a synthetic
  * HOT-KEY corpus — one key owning half the rows, the shape the r16
  * verdict flagged for the window-aggregate df/count paths — compare
  * the r16 `count(*) over (partition by key)` form against the
  * round-17 SaltedAgg two-level aggregate + join-back, reporting wall
  * time and the MAX single task duration (the skew symptom: the
  * window form must put the hot key's entire group in one task's
  * sort+buffer; the aggregate form's partial aggregation bounds
  * per-task state and the broadcast attach never concentrates the
  * key). Usage: runMain graft.SkewProbe [nRows] [hotShare%]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 8000000L
    val hotPct = if (args.length > 1) args(1).toInt else 50
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    // PROBE-ONLY threshold scaling: at 100 TB a hot key's join
    // partition dwarfs the default 256 MB skew threshold; a local
    // probe corpus cannot. Scale the thresholds with the probe data
    // (~160 MB hot partition vs 8 MB threshold ≈ a multi-GB key vs
    // 256 MB in production) so the run exercises the SAME AQE
    // skew-split path the production shape relies on. These configs
    // are NOT set anywhere in the engine or bench.
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      (1024 * 1024).toString)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      (512 * 1024).toString)
    val maxTask = new java.util.concurrent.atomic.AtomicLong(0)
    val sumTask = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val d = t.taskInfo.duration
        sumTask.addAndGet(d)
        var cur = maxTask.get()
        while (d > cur && !maxTask.compareAndSet(cur, d)) cur = maxTask.get()
      }
    })
    // one key owns hotPct% of the corpus; the rest is a uniform tail
    val base = spark.range(n).select(col("id"),
        when(pmod(col("id"), lit(100)) < hotPct, lit("HOT"))
          .otherwise(concat(lit("k"),
            pmod(col("id"), lit(100000)).cast("string"))).as("k"))
      .repartition(cpus).localCheckpoint()

    def run(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      // warm once, then measure
      (1 to 2).foreach { rep =>
        maxTask.set(0); sumTask.set(0)
        val t0 = System.nanoTime()
        val qe = df.queryExecution
        qe.toRdd.foreachPartition(it =>
          while (it.hasNext) it.next())
        val wall = (System.nanoTime() - t0) / 1e9
        if (rep == 2) {
          println(f"SKEWPROBE $name wall=$wall%6.2fs " +
            f"max_task=${maxTask.get() / 1e3}%6.2fs " +
            f"sum_task=${sumTask.get() / 1e3}%7.2fs")
          if (sys.env.contains("SPARK_GRAFT_SKEW_EXPLAIN"))
            println(qe.executedPlan.toString)
        }
      }
    }
    // the consumer groups by a DIFFERENT key than the attach (as the
    // real call sites do: x44/x98 re-aggregate per doc_id) — grouping
    // by the attach key itself would force the join's output
    // partitioning on the parent and legally disable AQE's skew split
    def consume(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(pmod(col("id"), lit(97)).as("g"))
        .agg(sum(col("c")).as("s"))
    run("window") {
      consume(base.withColumn("c",
        count(lit(1)).over(Window.partitionBy(col("k")))))
    }
    run("salted-two-level") {
      consume(graft.ext.SaltedAgg.attach(base, "k", Seq(col("id")),
        Seq(count(lit(1)).as("p_c")), Seq(sum(col("p_c")) -> "c")))
    }
    spark.stop()
  }
}
