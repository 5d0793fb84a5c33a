package graft.perfbench

import java.io.FileInputStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftExtensions}

/** A workload: set-up (including its untimed warm-up), one operation per
  * call, and the end-of-run output checks.
  */
trait Workload {
  def setup(): Unit
  /** Run operation `i`; false when its output is wrong. */
  def op(i: Int): Boolean
  /** Output checks after the loop: indices of ops found wrong. */
  def check(ops: Int): Set[Int]
  /** Per-layer metrics this workload adds to the traced run. */
  def layers(ops: Int): Map[String, Double] = Map.empty
  /** Metrics measured during set-up (e.g. the timed backfill). */
  def setupMetrics: Map[String, Double] = Map.empty
  /** Untimed hooks around each timed operation (traced-run accounting). */
  def beforeOp(i: Int): Unit = ()
  def afterOp(i: Int): Unit = ()
  /** Whether the loop may stop before operation `i` (after the deadline). */
  def boundary(i: Int): Boolean = true
  /** Switch listener-side recording on for the timed window only. */
  def record(on: Boolean): Unit = ()
  /** Span in which time without a running job counts as driver gap. */
  def gapSpan: String = "op"
}

/** JVM side of the benchmark: `graft.perfbench.PerfBench <run dir>`.
  *
  * Reads `<run dir>/params.properties` and the input files the launcher
  * generated from the seed, runs one workload in a closed loop (one
  * client thread) for the given number of seconds, and writes
  * `samples.tsv`, `metrics.properties` and, when traced, `spans.jsonl`
  * back into the run directory.
  */
object PerfBench {
  /** The session every workload runs in: `local[cpus]`, the engine's
    * extensions, and all scratch space under the run directory.
    */
  def session(cpus: Int, dir: Path, dataDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    graft.ops.Sizing.configure(spark, Seq(dataDir))
    spark
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val dir = Paths.get(args(0))
    val p = new Properties()
    val in = new FileInputStream(dir.resolve("params.properties").toFile)
    try p.load(in) finally in.close()
    val prm = p.asScala.toMap
    val cpus = prm("cpus").toInt
    val trace = prm("trace") == "1"
    val launchMs = prm("launch_ms").toLong
    val loadBefore = Bench.loadAvg()
    val spark = session(cpus, dir, prm("data_dir"))
    val sessionMs = System.currentTimeMillis()

    val tracer = new Tracer(trace)
    val exec = new ExecListener
    if (trace) spark.sparkContext.addSparkListener(exec)
    val inject = prm.get("inject").contains("1")
    val work: Workload = prm("workload") match {
      case "ingest" => new IngestWork(spark, prm("data_dir"), dir, tracer,
        prm("warm_events").toInt, inject)
      case _ => new QueryWork(spark, prm("data_dir"), dir, tracer, inject)
    }
    // page-cache warm: read every input file once before anything is timed
    Files.list(Paths.get(prm("data_dir"))).iterator().asScala.foreach(Files.readAllBytes)
    work.setup()

    val mx = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean
    val sc = spark.sparkContext
    System.gc() // every window starts from a collected heap
    BusDrain(sc)
    work.record(trace)

    val seconds = prm("seconds").toDouble
    val (cpu0, gc0, jit0) = (mx.getProcessCpuTime, gcMs, jit.getTotalCompilationTime)
    val setupJitMs = jit0
    val firstMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val lat = mutable.ArrayBuffer[Double]()
    val ok = mutable.ArrayBuffer[Boolean]()
    val leaked = mutable.ArrayBuffer[Int]()
    while (System.nanoTime() < deadline || !work.boundary(lat.size)) {
      val i = lat.size
      val persisted = if (trace) sc.getPersistentRDDs.size else 0
      work.beforeOp(i)
      tracer.op = i
      sc.setLocalProperty(ExecListener.OpKey, i.toString)
      val a = System.nanoTime()
      val good =
        try tracer.span("op")(work.op(i))
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] op $i failed: $e"); false
        }
      lat += (System.nanoTime() - a) / 1e9
      sc.setLocalProperty(ExecListener.OpKey, null)
      tracer.op = -1
      ok += good
      work.afterOp(i)
      if (trace) leaked += sc.getPersistentRDDs.size - persisted
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val cpuS = (mx.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    BusDrain(sc)
    work.record(false)

    val n = lat.size
    val bad = work.check(n)
    val failed = (0 until n).count(i => !ok(i) || bad(i)) +
      (if (bad.exists(_ >= n)) 1 else 0)

    val m = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (firstMs - launchMs) / 1e3,
      "setup.launch_s" -> (mainMs - launchMs) / 1e3,
      "setup.session_s" -> (sessionMs - mainMs) / 1e3,
      "setup.workload_s" -> (firstMs - sessionMs) / 1e3,
      "window_s" -> windowS,
      "cpu_s" -> cpuS,
      "ops" -> n.toDouble,
      "failed" -> failed.toDouble)
    m ++= work.setupMetrics
    if (trace) {
      m ++= Layers(tracer, exec, work, n, cpus, windowS)
      m("jvm.gc_s") = gcS / n
      m("jvm.jit_s") = jitS / n
      m("jvm.setup_jit_s") = setupJitMs / 1e3
      m("jvm.persisted_rdds_leaked") = leaked.sum.toDouble / n
      m ++= work.layers(n)
      tracer.write(dir.resolve("spans.jsonl"))
    }
    m("machine.cpu_anchor_s") = Bench.cpuAnchorSec()
    m("machine.peak_rss_mb") = peakRssMb()
    m("machine.heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    val machine = Map("loadavg_before" -> loadBefore, "loadavg_after" -> Bench.loadAvg(),
      "master" -> sc.master, "nproc" -> Runtime.getRuntime.availableProcessors.toString)
    Files.writeString(dir.resolve("samples.tsv"),
      lat.indices.map(i => s"${lat(i)}\t${if (ok(i) && !bad(i)) 1 else 0}")
        .mkString("", "\n", "\n"))
    Files.writeString(dir.resolve("metrics.properties"),
      (m.map { case (k, v) => s"$k=$v" } ++ machine.map { case (k, v) => s"$k=$v" })
        .mkString("", "\n", "\n"))
    spark.stop()
  }

  /** The process's highest resident set size (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def readLines(p: Path): IndexedSeq[String] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).toIndexedSeq
}
