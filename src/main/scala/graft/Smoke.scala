package graft

/** Local stand-in for the driver's t1 smoke: SparkEntry.entry must
  * return rows on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val df = SparkEntry.entry(spark)
    println(s"ENTRY_ROWS=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
