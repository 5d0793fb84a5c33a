package graft.ops

import java.sql.Date

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

import graft.schema.WeatherSchema

/** K3/K4/D1/D2 of SURVEY.md §2: lifecycle of the daily rollup table.
  *
  * The reference keeps the daily table partitioned by month
  * (`PARTITION BY DATE_TRUNC(dt, MONTH)`, create sql:22-23) and maintains
  * it two ways, chosen by a table-existence probe
  * (/root/reference/Load-gcs-to-bq/main.py:87-91):
  *  - absent  → sp_create: CREATE OR REPLACE + full-history insert;
  *  - present → sp_update: DELETE today's row, re-INSERT today's rollup
  *    (update sql:2,4-36) — a delete-then-insert upsert of one date.
  *
  * Spark mapping: parquet partitioned by (month_part, dt) — month_part
  * preserves the reference's month-granular pruning contract for
  * readers, and the dt sub-partition makes the upsert a *write-only*
  * dynamic partition overwrite of exactly one day's directory:
  *  - no read-modify-write: sibling days live in sibling directories
  *    that the overwrite never touches, so there is nothing to carry
  *    over (round 1 read siblings through `localCheckpoint`, which
  *    loses data if an executor dies mid-write — VERDICT.md #3);
  *  - no session-global config: `partitionOverwriteMode` is set
  *    per-write on the DataFrameWriter, not on the SparkConf;
  *  - at scale the upsert cost is one day's rows regardless of table
  *    size, and replaying it converges (no WRITE_APPEND double-count,
  *    the reference bug of Load-gcs-to-bq/main.py:77).
  *
  * Semantics note: the reference's delete-then-insert would *remove* the
  * day when today's source is empty; dynamic overwrite with an empty
  * frame is a no-op instead. The reference only ever runs the update
  * after appending today's rows, so the case is unreachable in the
  * pipeline; documented here because it is the one observable difference.
  */
object DailyTable {
  val MonthCol = "month_part"

  /** The table as stored: [[WeatherSchema.daily]] plus the month partition. */
  private val Stored = WeatherSchema.daily.add(MonthCol, DateType)

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def withMonth(daily: DataFrame): DataFrame =
    daily.withColumn(MonthCol, trunc(col("dt"), "month"))

  private def write(daily: DataFrame, path: String, dynamic: Boolean): Unit = {
    // Single-writer contract ([[SingleWriter]]): overwrites of the same
    // day from two jobs would interleave file-by-file; the lock turns
    // that into an immediate, attributable failure instead.
    val p = new Path(path)
    val fs = p.getFileSystem(
      daily.sparkSession.sparkContext.hadoopConfiguration)
    SingleWriter.withLock(fs, p) {
      val w = withMonth(daily)
        .write.partitionBy(MonthCol, "dt").mode("overwrite")
      (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
        .parquet(path)
    }
  }

  /** Full rebuild (sp_create analogue): static overwrite of the table. */
  def bootstrap(hourly: DataFrame, path: String): Unit =
    write(DailyRollup.aggregate(hourly), path, dynamic = false)

  /** One-day delete-then-insert upsert (sp_update analogue): dynamic
    * partition overwrite that replaces exactly the (month, day)
    * directory the fresh rollup lands in. Idempotent — re-running for
    * the same `asOf` rewrites the same partition with the same rows.
    *
    * The input is the `dt=asOf` partition of one hourly feed: 24 rows a
    * day in the reference, a few files of them once each hourly batch
    * has landed its own. After the day filter every row shares one `dt`,
    * so the aggregate has one group; `coalesce(1)` hands it one input
    * partition, which already satisfies the aggregate's distribution.
    * Catalyst then plans no exchange: the day is read, rolled up and
    * written by one task in one job, with no shuffle-map stage and no
    * adaptive re-plan in front of the write. [[bootstrap]] and
    * [[backfill]] span many days and keep the parallel hash aggregate.
    */
  def upsert(hourly: DataFrame, path: String, asOf: Date): Unit =
    write(DailyRollup.aggregate(hourly.filter(col("dt") === lit(asOf)).coalesce(1)),
      path, dynamic = true)

  /** The existence branch of Load-gcs-to-bq/main.py:87-91. */
  def sync(spark: SparkSession, hourly: DataFrame, path: String, asOf: Date): Unit =
    if (exists(spark, path)) upsert(hourly, path, asOf)
    else bootstrap(hourly, path)

  /** Backfill a date RANGE (inclusive) — the repair operation the
    * reference lacks (its choices are rebuild-everything or
    * update-today only): recompute the rollup for `[from, to]` and
    * dynamic-overwrite exactly those day partitions in ONE write.
    * Days outside the range are untouched (their directories are never
    * listed in the written frame), and days inside the range with no
    * source rows keep their stale partition (dynamic overwrite only
    * replaces partitions present in the output) — same documented
    * empty-source caveat as [[upsert]]. Cost is one scan of the
    * range's source rows + one shuffle, independent of table size and
    * of the number of days repaired.
    */
  def backfill(hourly: DataFrame, path: String, from: Date, to: Date): Unit = {
    require(!to.before(from), s"backfill range is empty: $from..$to")
    write(DailyRollup.aggregate(
        hourly.filter(col("dt") >= lit(from) && col("dt") <= lit(to))),
      path, dynamic = true)
  }

  /** Read the daily table back with its known schema, so no job reads
    * parquet footers to infer one. The columns come back in the order
    * inference would give: the data columns, then the partition columns
    * (month_part, dt) in directory order.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Stored).parquet(path)
}
