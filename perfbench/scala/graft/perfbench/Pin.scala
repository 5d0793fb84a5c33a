package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** `graft.perfbench.Pin <data dir> <dump dir> <names, comma-separated | all>`:
  * digests each named query twice in the benchmark's session and once
  * more from the result `graft.Verify` dumped under `<dump dir>/<name>`,
  * and writes `<name>\t<live 1>\t<live 2>\t<dumped>\t<s 1>\t<s 2>` per query
  * to `<dump dir>/pin.tsv`. `pin.py` pins the live digest of each query
  * whose three digests agree and whose dump matched its oracle.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, out, list) = args
    val names =
      if (list == "all") SparkEntry.queries.keys.toIndexedSeq.sorted
      else list.split(",").toIndexedSeq
    val spark = PerfBench.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, Paths.get(out), dataDir)
    def timed(name: String): (String, Double) = {
      val t0 = System.nanoTime()
      val d = Digest.of(SparkEntry.queries(name)(spark, dataDir))
      (d, (System.nanoTime() - t0) / 1e9)
    }
    val rows = names.map { name =>
      val (d1, t1) = timed(name)
      val (d2, t2) = timed(name)
      val dumped = Paths.get(out, name)
      val d3 = if (Files.isDirectory(dumped)) Digest.of(spark.read.parquet(dumped.toString)) else "-"
      System.err.println(f"[pin] $name%-36s $t1%.3f $t2%.3f")
      s"$name\t$d1\t$d2\t$d3\t$t1\t$t2"
    }
    Files.writeString(Paths.get(out, "pin.tsv"), rows.mkString("", "\n", "\n"))
    spark.stop()
  }
}
