package graft.ops

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's analytical heart: the 17-column daily rollup shared by
  * both stored procedures (/root/reference/Load-gcs-to-bq/
  * sp_raw_to_transformed_create_weather_data_query.sql:24-55 and
  * sp_raw_to_transformed_update_weather_data_query.sql:4-36 — identical
  * SELECT, differing only in the `WHERE dt = CURRENT_DATE()` scope).
  *
  * SURVEY.md §2d A1-A6 + §2c P8-P11 + §2f W1. Covered semantics:
  *  - Kelvin→Celsius `x - 273.15` inside the aggregate, then `ROUND(.., 2)`
  *    (create sql:27-30); zero-digit `ROUND` for pressure/humidity/clouds
  *    (create sql:31,34,37);
  *  - NULL-skipping MAX over the usually-all-NULL rain columns
  *    (create sql:40-41) — Spark max returns NULL on an all-NULL group,
  *    matching BigQuery;
  *  - lexicographic string MAX + strict-`>` EOD CASE over `"HH:MM:SS"`
  *    strings (create sql:45-49) — Spark string comparison is also
  *    binary-lexicographic;
  *  - `EXTRACT(MONTH FROM dt)` (create sql:43-44), `ORDER BY dt`
  *    (create sql:54-55).
  *
  * Scale notes: single hash aggregation keyed on `dt` → Catalyst plans
  * partial (map-side) + final HashAggregate, so the shuffle carries one
  * row per (input-partition × day), not per input row. The `scope` filter
  * lands on the partition column of the raw table and prunes to one day's
  * files before any scan. [[rollup]]'s `ORDER BY dt` is a global sort,
  * which costs a range-sampling job and an exchange even on a one-row
  * aggregate, so table writes take the unsorted [[aggregate]] instead:
  * the partitioned writer sorts each task's rows by its partition
  * columns on its own.
  */
object DailyRollup {

  /** `scope = None` ⇒ create-mode (full history); `Some(d)` ⇒ update-mode,
    * mirroring update sql:32's `WHERE dt = CURRENT_DATE()` with the date
    * injected for determinism.
    *
    * The time-of-day MAX is aggregated as seconds-since-midnight, not as
    * the raw string: for fixed-width `"HH:MM:SS"` the numeric order IS
    * the lexicographic order (so P11/A5 semantics are unchanged and the
    * string form is reformatted after the agg), but a string MAX buffer
    * forces Spark into SortAggregate — a per-partition SORT of the whole
    * raw table — while all-numeric buffers keep the single-pass
    * HashAggregate. At 100 TB that is the difference between one hash
    * pass and a full sort.
    */
  private val timeSecs: Column =
    substring(col("current_time"), 1, 2).cast("long") * 3600 +
      substring(col("current_time"), 4, 2).cast("long") * 60 +
      substring(col("current_time"), 7, 2).cast("long")

  /** The 16 aggregate expressions shared verbatim by the batch rollup
    * and [[rollupStream]] — create sql:27-49's SELECT list.
    */
  private val aggExprs: Seq[Column] = Seq(
    round(avg(col("main.temp") - 273.15), 2).as("avg_temp"),
    round(max(col("main.temp_max") - 273.15), 2).as("max_temp"),
    round(min(col("main.temp_min") - 273.15), 2).as("min_temp"),
    round(avg(col("main.feels_like") - 273.15), 2).as("feels_like"),
    round(avg(col("main.pressure")), 0).as("avg_pressure"),
    max(col("main.pressure")).cast("double").as("max_pressure"),
    min(col("main.pressure")).cast("double").as("min_pressure"),
    round(avg(col("main.humidity")), 0).as("avg_humidity"),
    max(col("main.humidity")).cast("double").as("max_humidity"),
    min(col("main.humidity")).cast("double").as("min_humidity"),
    round(avg(col("clouds.all")), 0).as("avg_cloud_coverage"),
    max(col("clouds.all")).cast("double").as("max_cloud_coverage"),
    min(col("clouds.all")).cast("double").as("min_cloud_coverage"),
    max(col("rain.rain_1h")).as("max_rain_1h"),
    max(col("rain.rain_3h")).as("max_rain_3h"),
    max(timeSecs).as("till_secs"))

  /** EOD CASE + final 18-column projection (`dt` must be present). */
  private def finish(grouped: DataFrame): DataFrame = grouped
    .withColumn("till_time",
      when(col("till_secs") > 23 * 3600, lit("EOD")) // strict >, create sql:46
        .otherwise(format_string("%02d:%02d:%02d",
          (col("till_secs") / 3600).cast("long"),
          ((col("till_secs") % 3600) / 60).cast("long"),
          col("till_secs") % 60)))
    .select(
      col("avg_temp"), col("max_temp"), col("min_temp"), col("feels_like"),
      col("avg_pressure"), col("max_pressure"), col("min_pressure"),
      col("avg_humidity"), col("max_humidity"), col("min_humidity"),
      col("avg_cloud_coverage"), col("max_cloud_coverage"), col("min_cloud_coverage"),
      col("max_rain_1h"), col("max_rain_3h"),
      col("dt"),
      month(col("dt")).as("month"),
      col("till_time"))

  def rollup(hourly: DataFrame, scope: Option[Date] = None): DataFrame =
    aggregate(hourly, scope).orderBy(col("dt"))

  /** [[rollup]] without the `ORDER BY dt`. Rows come hash-partitioned by
    * `dt`, so a writer partitioned by day still writes one file per day.
    */
  private[ops] def aggregate(hourly: DataFrame, scope: Option[Date] = None): DataFrame = {
    val scoped = scope.fold(hourly)(d => hourly.filter(col("dt") === lit(d)))
    finish(scoped.groupBy(col("dt")).agg(aggExprs.head, aggExprs.tail: _*))
  }

  /** Streaming (incremental) form of the same rollup — §2h beyond the
    * reference: instead of re-materializing the day per trigger (the
    * reference's update sql re-runs on every file event; Ingest stays
    * faithful to that), the aggregation state is MAINTAINED across
    * micro-batches in the state store and each day's row emits once,
    * when the watermark passes the end of its 1-day event-time window.
    * The aggregate expressions are [[aggExprs]] — shared with the batch
    * form, so the two paths cannot drift (StreamRollupSpec asserts
    * streaming output == batch rollup on the same rows).
    *
    * Event time = `dt + current_time` (the reference's ingestion-stamped
    * fields, SURVEY §2h: its late data is implicitly mis-dated; here a
    * row later than `lateness` past its day's end is dropped — an
    * explicit, bounded-state policy instead of silent mis-dating).
    *
    * Malformed-timestamp divergence from the batch path: a row whose
    * `dt`/`current_time` fails `to_timestamp` parsing has no event
    * time, so THIS path drops it (explicitly, via the filter below),
    * while the batch [[rollup]] still aggregates it under its `dt`.
    * The drop is OBSERVABLE, not silent: an `observe` block counts
    * input and malformed rows as a conditional aggregate inside the
    * same pass (no extra job), and every micro-batch surfaces
    * `rollup_stream.malformed_rows` through its StreamingQueryProgress
    * `observedMetrics` — alert on it, or route the raw stream through
    * a quarantine split upstream if the rows themselves matter
    * (StreamRollupSpec asserts the count on a bad-stamp fixture).
    */
  def rollupStream(hourly: DataFrame, lateness: String = "2 hours"): DataFrame =
    finish(hourly
      // try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4
      // default) to_timestamp THROWS on an unparseable stamp, which
      // would fail the whole stream on one bad row; try_ gives the
      // documented null→drop semantics under either ANSI setting.
      .withColumn("event_ts", try_to_timestamp(
        concat(col("dt").cast("string"), lit(" "), col("current_time"))))
      .observe("rollup_stream",
        count(lit(1)).as("input_rows"),
        count(when(col("event_ts").isNull, 1)).as("malformed_rows"))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", lateness)
      .groupBy(window(col("event_ts"), "1 day"))
      .agg(aggExprs.head, aggExprs.tail: _*)
      .withColumn("dt", to_date(col("window.start")))
      .drop("window"))
}
