package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Date

import org.apache.spark.grafttest.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DailyTable, LogEvents, SingleWriter}
import graft.streaming.Ingest

/** E1 (SURVEY.md §3 / VERDICT.md #2): landing-dir drain →
  * raw append (K2) → daily sync, with exactly-once on re-run.
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ndjson(dt: String, time: String, temp: Double): String =
    s"""{"coord":{"lon":87.0,"lat":23.25},""" +
      s""""weather":[{"id":800,"main":"Clear","description":"clear sky"}],""" +
      s""""base":"stations",""" +
      s""""main":{"temp":$temp,"feels_like":${temp + 1},"pressure":1000,"humidity":50,""" +
      s""""temp_min":${temp - 1},"temp_max":${temp + 2}},""" +
      s""""visibility":10000,"wind":{"speed":3.0,"deg":120},"clouds":{"all":40},""" +
      s""""dt":"$dt","current_time":"$time",""" +
      s""""sys":{"country":"IN","sunrise":1,"sunset":2},"timezone":19800,"name":"Bankura"}"""

  // NOTE: the landing files carry the *canonical* record (CleanWeather
  // output) — in the reference, CF#1 uploads cleaned JSON to GCS and the
  // load path consumes that (Load-Data-From-API/main.py:179-189).

  private def writeLanding(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)

  private def batchOf(lines: String*) =
    spark.read.schema(graft.schema.WeatherSchema.raw).json(lines.toDS())

  test("ingest: file arrivals append raw (dt-partitioned) and sync daily") {
    val root = Files.createTempDirectory("graft-ingest")
    val landing = Files.createDirectories(root.resolve("landing"))
    val raw = root.resolve("raw").toString
    val daily = root.resolve("daily").toString
    val ckpt = root.resolve("ckpt").toString

    writeLanding(landing, "hourly-weather-data-json-20220829-100000.json", Seq(
      ndjson("2022-08-29", "10:00:00", 300.15),
      ndjson("2022-08-29", "11:00:00", 302.15)))
    writeLanding(landing, "hourly-weather-data-json-20220830-100000.json", Seq(
      ndjson("2022-08-30", "10:00:00", 280.15)))

    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)

    // K2: raw append landed, partitioned by dt (retention = partition drop)
    assert(spark.read.parquet(raw).count() == 3)
    val rawDirs = new java.io.File(raw).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(rawDirs == Set("dt=2022-08-29", "dt=2022-08-30"))

    // transform: daily rollup reflects both days
    val d = DailyTable.read(spark, daily)
      .select(col("dt").cast("string"), col("avg_temp"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(d == Map("2022-08-29" -> 28.0, "2022-08-30" -> 7.0))

    // exactly-once: re-running over the same landing dir ingests nothing
    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)
    assert(spark.read.parquet(raw).count() == 3)

    // a late file for an existing day + a new day: upsert path
    writeLanding(landing, "hourly-weather-data-json-20220830-120000.json", Seq(
      ndjson("2022-08-30", "12:00:00", 310.15),
      ndjson("2022-08-31", "09:00:00", 290.15)))
    Ingest.runOnce(spark, landing.toString, raw, daily, ckpt)
    assert(spark.read.parquet(raw).count() == 5)
    val d2 = DailyTable.read(spark, daily)
      .select(col("dt").cast("string"), col("avg_temp"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(d2 == Map(
      "2022-08-29" -> 28.0,
      "2022-08-30" -> 22.0, // avg(280.15, 310.15) - 273.15
      "2022-08-31" -> 17.0))
  }

  test("a replayed micro-batch overwrites itself instead of double-appending") {
    val root = Files.createTempDirectory("graft-ingest-replay")
    val raw = root.resolve("raw").toString
    val daily = root.resolve("daily").toString
    val batch = batchOf(ndjson("2022-08-29", "10:00:00", 300.15),
      ndjson("2022-08-29", "11:00:00", 302.15)) // one micro-batch
    // simulate the crash-retry: same batchId processed twice
    Ingest.ingestBatch(spark, batch, 7L, raw, daily)
    Ingest.ingestBatch(spark, batch, 7L, raw, daily)
    assert(spark.read.parquet(raw).count() == 2) // not 4
    // a different batchId with new data appends alongside
    val batch2 = batchOf(ndjson("2022-08-29", "12:00:00", 310.15))
    Ingest.ingestBatch(spark, batch2, 8L, raw, daily)
    assert(spark.read.parquet(raw).count() == 3)
  }

  test("ingest at volume: streamed daily table equals the batch rollup") {
    // 6k weatherized lineitem rows through the landing stream must yield
    // byte-for-byte the same daily table as the direct batch rollup.
    val root = Files.createTempDirectory("graft-ingest-vol")
    val landing = root.resolve("landing").toString
    val hourly = graft.ops.Weatherize.lineitemAsHourly(
      Tables(spark, "/root/testdata/sf0.001", "lineitem"))
    hourly.repartition(4).write.json(landing) // 4 "blobs"
    Ingest.runOnce(spark, landing, root.resolve("raw").toString,
      root.resolve("daily").toString, root.resolve("ckpt").toString)

    def key(df: org.apache.spark.sql.DataFrame) = df.select(
      col("dt").cast("string"), col("avg_temp"), col("max_temp"),
      col("min_temp"), col("avg_pressure"), col("max_rain_1h"),
      col("month"), col("till_time"))
      .collect().map(_.toSeq).toSet
    val streamed = key(DailyTable.read(spark, root.resolve("daily").toString))
    val direct = key(graft.ops.DailyRollup.rollup(hourly))
    assert(streamed.size == direct.size && streamed == direct)
  }

  test("malformed landing lines are quarantined, not ingested as null days") {
    val root = Files.createTempDirectory("graft-ingest-bad")
    val landing = Files.createDirectories(root.resolve("landing"))
    writeLanding(landing, "blob.json", Seq(
      ndjson("2022-08-30", "10:00:00", 280.15),
      ndjson("2022-08-29", "10:00:00", 300.15),
      """{"this is": not even json"""))
    Ingest.runOnce(spark, landing.toString, root.resolve("raw").toString,
      root.resolve("daily").toString, root.resolve("ckpt").toString,
      Some(root.resolve("logs").toString))
    val raw = spark.read.parquet(root.resolve("raw").toString)
    assert(raw.count() == 2) // only the good rows
    assert(raw.filter(col("dt").isNull).isEmpty)
    val msg = graft.ops.LogEvents.read(spark, root.resolve("logs").toString)
      .select("message").collect().head.getString(0)
    assert(msg.contains("malformed=1"))
    assert(msg.contains("days=2022-08-29,2022-08-30,")) // observed, sorted
  }

  test("ingesting one day into an existing daily table launches 2 jobs") {
    // the raw write and the daily write: the batch is observed rather
    // than cached and counted, both tables are read with their known
    // schemas, the one-day rollup plans no shuffle, and the log envelope
    // is written without a job.
    val root = Files.createTempDirectory("graft-ingest-jobs")
    val (raw, daily, logs) = (root.resolve("raw").toString,
      root.resolve("daily").toString, root.resolve("logs").toString)
    Ingest.ingestBatch(spark, batchOf(ndjson("2022-08-29", "10:00:00", 300.15)),
      1L, raw, daily, Some(logs)) // bootstraps the daily table
    val batch = batchOf(ndjson("2022-08-29", "11:00:00", 302.15))
    val jobs = JobCount(spark.sparkContext) {
      Ingest.ingestBatch(spark, batch, 2L, raw, daily, Some(logs))
    }
    assert(jobs == 2)
    assert(DailyTable.read(spark, daily).select("avg_temp").collect()
      .map(_.getDouble(0)).toSeq == Seq(28.0))
  }

  test("runOnce of one new landing file launches 2 jobs; nothing new launches 0") {
    // the drain lists the landing dir and reads its own log without a
    // job, and runs the batch on the caller's thread: what runOnce
    // launches is exactly ingestBatch's raw write and daily write, and
    // no streaming query
    val root = Files.createTempDirectory("graft-ingest-drain-jobs")
    val landing = Files.createDirectories(root.resolve("landing"))
    val (raw, daily, ckpt, logs) = (root.resolve("raw").toString,
      root.resolve("daily").toString, root.resolve("ckpt").toString,
      root.resolve("logs").toString)
    def run(): Unit = Ingest.runOnce(spark, landing.toString, raw, daily, ckpt, Some(logs))
    writeLanding(landing, "hourly-weather-data-json-20220829-100000.json",
      Seq(ndjson("2022-08-29", "10:00:00", 300.15)))
    run() // bootstraps the daily table
    writeLanding(landing, "hourly-weather-data-json-20220829-110000.json",
      Seq(ndjson("2022-08-29", "11:00:00", 302.15)))
    assert(JobCount(spark.sparkContext)(run()) == 2)
    val envelopes = LogEvents.read(spark, logs).count()
    assert(JobCount(spark.sparkContext)(run()) == 0)
    assert(LogEvents.read(spark, logs).count() == envelopes)
    assert(spark.streams.active.isEmpty)
    assert(DailyTable.read(spark, daily).select("avg_temp").collect()
      .map(_.getDouble(0)).toSeq == Seq(28.0))
  }

  test("a failed drain commits nothing; the retry ingests every file once") {
    val root = Files.createTempDirectory("graft-ingest-drain-retry")
    val landing = Files.createDirectories(root.resolve("landing"))
    val (daily, ckpt) = (root.resolve("daily").toString, root.resolve("ckpt"))
    writeLanding(landing, "hourly-weather-data-json-20220829-100000.json", Seq(
      ndjson("2022-08-29", "10:00:00", 300.15),
      ndjson("2022-08-29", "11:00:00", 302.15)))
    writeLanding(landing, "hourly-weather-data-json-20220830-100000.json", Seq(
      ndjson("2022-08-30", "10:00:00", 280.15)))
    // a blob still being written sits under a hidden name: never listed
    writeLanding(landing, ".hourly-weather-data-json-20220830-110000.json.tmp", Seq(
      ndjson("2022-08-30", "11:00:00", 281.15)))
    val raw = root.resolve("raw")
    Files.write(raw, "not a directory".getBytes) // blocks the raw write
    def run(): Unit =
      Ingest.runOnce(spark, landing.toString, raw.toString, daily, ckpt.toString)
    intercept[Exception](run())
    val log = ckpt.resolve("drained").toFile
    assert(!log.exists() || log.listFiles().isEmpty)

    Files.delete(raw)
    run()
    val ingested = spark.read.parquet(raw.toString)
    assert(ingested.count() == 3)
    assert(ingested.select(col("ingest_batch").cast("long")).distinct().as[Long]
      .collect().toSeq == Seq(0L))
    run()
    assert(spark.read.parquet(raw.toString).count() == 3)
  }

  test("a held checkpoint lock fails runOnce before it ingests anything") {
    val root = Files.createTempDirectory("graft-ingest-drain-lock")
    val landing = Files.createDirectories(root.resolve("landing"))
    writeLanding(landing, "blob.json", Seq(ndjson("2022-08-29", "10:00:00", 300.15)))
    val (raw, ckpt) = (root.resolve("raw"), root.resolve("ckpt").toString)
    val ckptPath = new org.apache.hadoop.fs.Path(ckpt)
    SingleWriter.withLock(
        ckptPath.getFileSystem(spark.sparkContext.hadoopConfiguration), ckptPath) {
      intercept[SingleWriter.ConcurrentWriteException] {
        Ingest.runOnce(spark, landing.toString, raw.toString,
          root.resolve("daily").toString, ckpt)
      }
    }
    assert(!Files.exists(raw))
  }

  test("a checkpoint dir holding a streaming query's offsets/ is refused") {
    val root = Files.createTempDirectory("graft-ingest-drain-old")
    val landing = Files.createDirectories(root.resolve("landing"))
    writeLanding(landing, "blob.json", Seq(ndjson("2022-08-29", "10:00:00", 300.15)))
    val ckpt = Files.createDirectories(root.resolve("ckpt"))
    Files.createDirectories(ckpt.resolve("offsets"))
    val e = intercept[IllegalStateException] {
      Ingest.runOnce(spark, landing.toString, root.resolve("raw").toString,
        root.resolve("daily").toString, ckpt.toString)
    }
    assert(e.getMessage.contains("Structured Streaming checkpoint"))
    assert(!Files.exists(root.resolve("raw")))
  }

  test("an empty micro-batch completes its observation and touches no table") {
    // e.g. an empty landing file: the observed counts must still arrive
    // (zero rows, no days) rather than leave the batch waiting
    val root = Files.createTempDirectory("graft-ingest-empty")
    val (daily, logs) = (root.resolve("daily").toString, root.resolve("logs").toString)
    Ingest.ingestBatch(spark, batchOf(), 3L, root.resolve("raw").toString, daily, Some(logs))
    assert(graft.ops.LogEvents.read(spark, logs).select("message").collect()
      .map(_.getString(0)).toSeq == Seq("batch 3 loaded, days=, malformed=0"))
    assert(!DailyTable.exists(spark, daily))
  }

  test("a failing batch publishes an error envelope and rethrows") {
    val root = Files.createTempDirectory("graft-ingest-err")
    val logs = root.resolve("logs").toString
    // rawPath points at an existing FILE → the parquet write must fail
    val blocked = root.resolve("raw")
    Files.write(blocked, "not a directory".getBytes)
    val batch = batchOf(ndjson("2022-08-29", "10:00:00", 300.15))
    intercept[Exception] {
      Ingest.ingestBatch(spark, batch, 1L, blocked.toString,
        root.resolve("daily").toString, Some(logs))
    }
    val logged = graft.ops.LogEvents.read(spark, logs)
      .filter(col("message_type") === "error")
    assert(logged.count() == 1)
    assert(logged.select("message").collect().head.getString(0)
      .startsWith("batch 1 failed"))
  }

  test("ingest keeps per-day scope pruned to the day's partition") {
    // The upsert's rollup filters dt == asOf over the dt-partitioned raw
    // store; the plan must show partition pruning, not a full scan.
    val root = Files.createTempDirectory("graft-ingest-prune")
    val raw = root.resolve("raw").toString
    val df = spark.range(2).select(
      (col("id") + 1).cast("double").as("value"),
      to_date(lit("2022-08-29")).as("dt"))
    df.write.partitionBy("dt").parquet(raw)
    val scan = spark.read.parquet(raw).filter(col("dt") === lit(Date.valueOf("2022-08-29")))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("dt") && !plan.toLowerCase.contains("partitionfilters: []"))
  }
}
