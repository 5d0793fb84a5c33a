package graft.perfbench

import java.nio.file.{Files, Path}
import java.sql.Date
import java.time.LocalDate

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.Tables
import graft.ops.{CleanWeather, DailyRollup, DailyTable, Landing, Retention, Weatherize}
import graft.schema.WeatherSchema
import graft.sources.WeatherApi
import graft.streaming.Ingest

/** `ingest`: the reference's event path, one hourly API body per operation.
  *
  * Set-up times one `DailyTable.bootstrap` over the latest 30 days of the
  * weatherized lineitem table (the `sp_create` analogue), prefills the raw table to the
  * 15-day retention window from `prefill.ndjson`, bootstraps the daily
  * table from it and replays the first `warm` events of `events.tsv`
  * untimed (they cross one day boundary). Each operation then runs
  * fetch → clean → land → `Ingest.runOnce` and reads the daily row back
  * until it shows the event; an event that starts a new day first drops
  * the expired raw partitions.
  *
  * With `inject`, one touched day of the daily table is overwritten with a
  * wrong rollup before the final checks.
  */
final class IngestWork(spark: SparkSession, dataDir: String, dir: Path,
    tracer: Tracer, warm: Int, inject: Boolean) extends Workload {
  private val root = dir.resolve("ingest")
  private def at(name: String) = root.resolve(name).toString
  private val (raw, daily, backfill) = (at("raw"), at("daily"), at("daily_backfill"))
  private val (landing, ckpt, logs) = (at("landing"), at("checkpoint"), at("logs"))
  /** History the timed backfill rolls up: the latest 30 days of ship
    * dates (the whole sf0.1 span is 2499 days, and writing one daily
    * partition per day would dominate every run's set-up).
    */
  private val BackfillDays = 30
  /** Raw partitions written by the prefill carry this batch id. */
  private val PrefillBatch = 1000000L

  private val writes = new WriteListener(Seq("raw" -> raw, "daily" -> daily, "log" -> logs))
  if (tracer.enabled) spark.listenerManager.register(writes)

  private final case class Event(utcMs: Long, dt: String, till: String, body: String)
  private val events = PerfBench.readLines(dir.resolve("events.tsv")).map { l =>
    val a = l.split("\t", 4)
    Event(a(0).toLong, a(1), a(2), a(3))
  }
  private var prevDt: String = _
  private val opDay = mutable.ArrayBuffer[String]()
  private val eventsPerDay = mutable.Map[String, Long]().withDefaultValue(0L)
  private var prefillPerDay = Map.empty[String, Long]
  private val setupM = mutable.Map[String, Double]()
  private var dropped = 0
  private var files = 0L; private var bytes = 0L; private var landed = 0L
  private var before = Map.empty[Path, (Long, Long)]

  override def setupMetrics: Map[String, Double] = setupM.toMap

  override def record(on: Boolean): Unit = writes.recording = on

  def setup(): Unit = {
    val lineitem = Tables(spark, dataDir, "lineitem")
    val shipped = to_date(col("l_shipdate"))
    val last = lineitem.agg(max(shipped).cast("string")).head().getString(0)
    val hourly = Weatherize.lineitemAsHourly(lineitem.filter(
      shipped > date_sub(lit(Date.valueOf(last)), BackfillDays)))
    val t0 = System.nanoTime()
    DailyTable.bootstrap(hourly, backfill)
    setupM("daily.bootstrap_s") = (System.nanoTime() - t0) / 1e9
    setupM("daily.partitions_written") = Files.list(Path.of(backfill)).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(m => Files.list(m).iterator().asScala.count(_.getFileName.toString.startsWith("dt=")))
      .sum.toDouble

    val api = spark.read
      .schema(WeatherSchema.api.add("dt0", StringType).add("ct0", StringType))
      .json(dir.resolve("prefill.ndjson").toString)
    CleanWeather.clean(api, col("dt0"), col("ct0"))
      .withColumn("ingest_batch", lit(PrefillBatch))
      .write.partitionBy("dt", "ingest_batch").parquet(raw)
    prefillPerDay = spark.read.parquet(raw).groupBy(col("dt").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    DailyTable.bootstrap(spark.read.parquet(raw), daily)
    (0 until warm).foreach(k => event(events(k)))
  }

  private def event(e: Event): Boolean = {
    if (prevDt != null && e.dt != prevDt) tracer.span("retention") {
      val gone = Retention.dropExpiredPartitions(spark, raw, Date.valueOf(e.dt))
      if (tracer.op >= 0) dropped += gone.size
    }
    prevDt = e.dt
    val blob = tracer.span("land") {
      val api = tracer.span("fetch")(
        WeatherApi.fetchFrame(spark, new WeatherApi.ReplayFetcher(Seq(e.body))))
      val (d, ct) = CleanWeather.kolkataStamps(e.utcMs)
      val cleaned = tracer.span("clean")(CleanWeather.clean(api, d, ct))
      tracer.span("land.write")(Landing.land(cleaned, landing, e.utcMs))
    }
    tracer.span("ingest.run")(Ingest.runOnce(spark, landing, raw, daily, ckpt, Some(logs)))
    eventsPerDay(e.dt) += 1
    if (tracer.enabled && tracer.op >= 0) landed += Files.size(blob)
    tracer.span("visible")(visible(e.dt, e.till))
  }

  /** Reads the daily row of `dt` back until its `till_time` shows the
    * event (bounded at 5 s).
    */
  private def visible(dt: String, till: String): Boolean = {
    val d = Date.valueOf(dt)
    val end = System.nanoTime() + 5000000000L
    var seen = false
    while (!seen && System.nanoTime() < end)
      seen = DailyTable.read(spark, daily).filter(col("dt") === lit(d))
        .select("till_time").collect().exists(_.getString(0) == till)
    seen
  }

  private def snapshot(): Map[Path, (Long, Long)] =
    Seq(raw, daily, logs, ckpt).map(Path.of(_)).filter(Files.exists(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toList
      finally s.close()
    }.toMap

  def op(i: Int): Boolean = {
    val e = events(warm + i)
    opDay += e.dt
    event(e)
  }

  override def beforeOp(i: Int): Unit = if (tracer.enabled) before = snapshot()

  override def afterOp(i: Int): Unit = if (tracer.enabled) {
    val changed = snapshot().filter { case (p, v) => !before.get(p).contains(v) }
    files += changed.size
    bytes += changed.values.map(_._1).sum
  }

  def check(ops: Int): Set[Int] = {
    val rawDf = spark.read.parquet(raw)
    val last = LocalDate.parse(prevDt)
    val window = (0 until Retention.DefaultDays).map(k => last.minusDays(k).toString)
    val touched = eventsPerDay.keySet.filter(window.contains).toSeq
    if (inject) {
      DailyRollup.rollup(rawDf, Some(Date.valueOf(prevDt)))
        .withColumn("avg_temp", col("avg_temp") + 1)
        .withColumn(DailyTable.MonthCol, trunc(col("dt"), "month"))
        .write.partitionBy(DailyTable.MonthCol, "dt").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(daily)
    }
    // raw holds exactly the last 15 days, each with every row landed in it
    val counts = rawDf.groupBy(col("dt").cast("string")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val badRaw = (counts.keySet ++ window).filter { d =>
      !window.contains(d) ||
        counts.getOrElse(d, 0L) != prefillPerDay.getOrElse(d, 0L) + eventsPerDay(d)
    }
    // every touched daily row equals a fresh rollup of the surviving raw rows
    val fresh = DailyRollup.rollup(rawDf).filter(col("dt").cast("string").isin(touched: _*))
    val got = DailyTable.read(spark, daily)
      .filter(col("dt").cast("string").isin(touched: _*))
      .select(fresh.columns.toSeq.map(col): _*)
    val badDaily = fresh.exceptAll(got).union(got.exceptAll(fresh))
      .select(col("dt").cast("string")).distinct().collect().map(_.getString(0))
    val bad = badRaw ++ badDaily
    bad.foreach(d => System.err.println(s"[perfbench] ingest check failed for day $d"))
    val badOps = opDay.indices.filter(i => bad.contains(opDay(i))).toSet
    if (bad.nonEmpty && badOps.isEmpty) Set(ops) else badOps
  }

  override def layers(ops: Int): Map[String, Double] = {
    val self = tracer.selfTimes
    val overhead = tracer.all.filter(_.name == "ingest.run").map(r => self(r.id)).sum
    def w(layer: String) = writes.writes(layer) / 1e9 / ops
    val m = Map(
      "ingest.raw_write_s" -> w("raw"),
      "ingest.daily_write_s" -> w("daily"),
      "ingest.log_write_s" -> w("log"),
      "ingest.stream_overhead_s" -> overhead / 1e9 / ops,
      "ingest.files_written" -> files.toDouble / ops,
      "ingest.write_amp" -> (if (landed > 0) bytes.toDouble / landed else 0.0),
      "retention.dirs_dropped" -> dropped.toDouble / ops)
    require(m.keySet ++ setupM.keySet == IngestWork.Metrics.toSet)
    m
  }
}

object IngestWork {
  /** Per-layer metrics that only `ingest` measures; the query workloads
    * report them as 0.
    */
  val Metrics = Seq("ingest.raw_write_s", "ingest.daily_write_s", "ingest.log_write_s",
    "ingest.stream_overhead_s", "ingest.files_written", "ingest.write_amp",
    "retention.dirs_dropped", "daily.bootstrap_s", "daily.partitions_written")
}
