package graft

import java.nio.file.{Files, Paths}

/** Optimization-round measurement tool: write `.explain("formatted")`
  * for registered queries to files (`plans/<tag>/<query>_<suffix>.txt`)
  * so plan claims in OPTIMIZATION_r*.md are checkable against committed
  * artifacts. Usage:
  *   runMain graft.PlanDump <outDir> <suffix> [name[,name...]]
  * With no name list, dumps every registered query.
  * SF dir from SPARK_GRAFT_SF_DIR (default sf0.1) — plans are captured
  * against the same data layout the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    graft.ops.Sizing.configure(spark, Seq(sfDir))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
