package graft

import java.nio.file.Files
import java.sql.Date

import org.apache.spark.grafttest.{ExecutedPlans, JobCount}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.DailyTable
import graft.schema.WeatherSchema

/** K3/K4/D1/D2: bootstrap-vs-upsert branch, sibling preservation,
  * run-twice idempotency (VERDICT.md #3 — these paths shipped untested
  * in round 1).
  */
class DailyTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Walks adaptive plans and their query stages. */
  private object Aqe extends AdaptiveSparkPlanHelper

  private def hourlyRow(dt: String, time: String, temp: Double): Row =
    Row(
      Row(87.0, 23.25), Row(800L, "Clear", "clear sky"), "stations",
      Row(temp, temp + 1.0, 1000L, 50L, temp - 1.0, temp + 2.0, null, null),
      10000L, Row(3.0, 120L, null), Row(40L),
      Row(null, null), Row(null, null),
      Date.valueOf(dt), time, Row("IN", 1L, 2L), 19800L, "Bankura")

  private def hourly(rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows), WeatherSchema.raw)

  private def tmp(): String =
    Files.createTempDirectory("graft-daily").toString + "/daily"

  private def snapshot(path: String): Set[(String, Int, Double)] =
    DailyTable.read(spark, path)
      .select(col("dt").cast("string"), col("month"), col("avg_temp"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSet

  private val augRows = Seq(
    hourlyRow("2022-08-29", "10:00:00", 300.15),
    hourlyRow("2022-08-29", "11:00:00", 302.15),
    hourlyRow("2022-08-30", "10:00:00", 280.15),
    hourlyRow("2022-09-01", "09:00:00", 290.15))

  test("bootstrap writes the full history, month+day partitioned") {
    val path = tmp()
    DailyTable.bootstrap(hourly(augRows: _*), path)
    assert(snapshot(path) == Set(
      ("2022-08-29", 8, 28.0), // avg(300.15, 302.15) - 273.15
      ("2022-08-30", 8, 7.0),
      ("2022-09-01", 9, 17.0)))
    // layout: month_part=…/dt=…  (month pruning contract + surgical upsert)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.toSet == Set("month_part=2022-08-01", "month_part=2022-09-01"))
  }

  test("upsert rewrites exactly one day; siblings and other months survive") {
    val path = tmp()
    DailyTable.bootstrap(hourly(augRows: _*), path)
    // New reading for 08-30 only (temp changed); upsert that day.
    val updated = augRows.filterNot(_.getDate(9) == Date.valueOf("2022-08-30")) :+
      hourlyRow("2022-08-30", "12:00:00", 310.15)
    DailyTable.upsert(hourly(updated: _*), path, Date.valueOf("2022-08-30"))
    assert(snapshot(path) == Set(
      ("2022-08-29", 8, 28.0), // sibling day of the same month: untouched
      ("2022-08-30", 8, 37.0), // the upserted day
      ("2022-09-01", 9, 17.0))) // other month: untouched
  }

  test("upsert is idempotent: re-running the same day converges") {
    val path = tmp()
    DailyTable.bootstrap(hourly(augRows: _*), path)
    DailyTable.upsert(hourly(augRows: _*), path, Date.valueOf("2022-08-29"))
    val once = snapshot(path)
    DailyTable.upsert(hourly(augRows: _*), path, Date.valueOf("2022-08-29"))
    assert(snapshot(path) == once)
    // and no row duplication (the reference's WRITE_APPEND bug)
    assert(DailyTable.read(spark, path).count() == 3)
  }

  test("sync branches on existence: create when absent, update when present") {
    val path = tmp()
    DailyTable.sync(spark, hourly(augRows.take(3): _*), path,
      Date.valueOf("2022-08-29")) // absent → bootstrap (all days land)
    assert(snapshot(path).map(_._1) == Set("2022-08-29", "2022-08-30"))
    DailyTable.sync(spark, hourly(augRows: _*), path,
      Date.valueOf("2022-09-01")) // present → upsert of just that day
    assert(snapshot(path).map(_._1) ==
      Set("2022-08-29", "2022-08-30", "2022-09-01"))
  }

  test("backfill repairs exactly the date range; outside days untouched") {
    val path = tmp()
    DailyTable.bootstrap(hourly(augRows: _*), path)
    // corrupt two august days with wrong readings, keep september intact
    DailyTable.upsert(hourly(
      hourlyRow("2022-08-29", "01:00:00", 999.15)), path, Date.valueOf("2022-08-29"))
    DailyTable.upsert(hourly(
      hourlyRow("2022-08-30", "01:00:00", 999.15)), path, Date.valueOf("2022-08-30"))
    assert(snapshot(path).exists(_._3 == 726.0)) // corruption visible

    // one write repairs the whole august range from the true source
    DailyTable.backfill(hourly(augRows: _*), path,
      Date.valueOf("2022-08-01"), Date.valueOf("2022-08-31"))

    assert(snapshot(path) == Set(
      ("2022-08-29", 8, 28.0),
      ("2022-08-30", 8, 7.0),
      ("2022-09-01", 9, 17.0))) // september was never rewritten
  }

  test("backfill rejects an empty range") {
    intercept[IllegalArgumentException] {
      DailyTable.backfill(hourly(augRows: _*), tmp(),
        Date.valueOf("2022-09-02"), Date.valueOf("2022-09-01"))
    }
  }

  test("read's fixed schema is the schema parquet inference gives") {
    val path = tmp()
    DailyTable.bootstrap(hourly(augRows: _*), path)
    DailyTable.upsert(hourly(augRows: _*), path, Date.valueOf("2022-08-30"))
    assert(DailyTable.read(spark, path).schema ==
      spark.read.parquet(path).schema) // names, types, nullability, order
  }

  test("the one-day upsert plans no exchange; bootstrap keeps its hash exchange") {
    val path = tmp()
    val bootstrapPlans = ExecutedPlans(spark)(DailyTable.bootstrap(hourly(augRows: _*), path))
    val hashed = bootstrapPlans.flatMap(p => Aqe.collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    })
    assert(hashed.nonEmpty, bootstrapPlans.mkString("\n"))

    var jobs = 0
    val upsertPlans = ExecutedPlans(spark) {
      jobs = JobCount(spark.sparkContext)(
        DailyTable.upsert(hourly(augRows: _*), path, Date.valueOf("2022-08-30")))
    }
    assert(upsertPlans.nonEmpty)
    assert(upsertPlans.forall(p => Aqe.collect(p) { case e: Exchange => e }.isEmpty),
      upsertPlans.mkString("\n"))
    assert(jobs == 1) // read, roll up and write the day in one job
  }

  test("upsert does not leak partitionOverwriteMode into the session") {
    val before = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    val path = tmp()
    DailyTable.bootstrap(hourly(augRows: _*), path)
    DailyTable.upsert(hourly(augRows: _*), path, Date.valueOf("2022-08-29"))
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == before)
  }
}
