package graft

/** Dev utility: run registered queries by name (comma-separated) with
  * bench-style full materialization and print wall times and output
  * row counts (and optionally the formatted physical plan) —
  * `runMain graft.RunOne <name>[,<name>...] [explain]`.
  * SF dir from SPARK_GRAFT_SF_DIR (default sf0.1), repeats from
  * SPARK_GRAFT_REPS (default 2: one warm, one measured).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val explain = args.length > 1 && args(1) == "explain"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // same data-proportional sizing as Bench (32-core floor at sf≤1)
    graft.ops.Sizing.configure(spark, Seq(sfDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (explain) fn(spark, sfDir).explain("formatted")
      (1 to reps).foreach { i =>
        // counted inside the materializing loop, so no extra job
        val rows = spark.sparkContext.longAccumulator
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.foreachPartition { it =>
          var n = 0L
          while (it.hasNext) { it.next(); n += 1 }
          rows.add(n)
        }
        println(f"RUNONE $name rep=$i ${(System.nanoTime() - t0) / 1e9}%.3f s" +
          s" rows=${rows.value}")
      }
    }
    spark.stop()
  }
}
