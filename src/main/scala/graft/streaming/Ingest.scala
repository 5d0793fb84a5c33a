package graft.streaming

import java.sql.Date

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.{DailyTable, LogEvent, LogEvents}
import graft.schema.WeatherSchema

/** E1 — the reference's flagship event-driven path (SURVEY.md §3),
  * re-expressed as one batch drain per event:
  *
  * {{{
  * GCS bucket + object-finalize trigger   →  runOnce: every NDJSON file
  *   (Load-gcs-to-bq/main.py:56-64)          new in the landing dir since
  *                                           the last call = one batch
  *                                           ([[FileDrain]])
  * BQ load job, WRITE_APPEND (K2,         →  ingestBatch: append batch
  *   main.py:74-84)                          to dt-partitioned raw parquet
  * CALL sp_create / sp_update (D2/D3,     →  DailyTable.bootstrap when the
  *   main.py:87-92)                          table is absent, else
  *                                           DailyTable.upsert per affected
  *                                           day, AFTER the append lands
  * }}}
  *
  * Two reference bugs intentionally not reproduced (SURVEY.md §2 list):
  *  - CF#2 fires the transform without awaiting the load job
  *    (`load_job.result()` never called) — here the rollup runs strictly
  *    after the raw append within the same batch;
  *  - replayed GCS events double-append rows — the drain's committed-file
  *    log under the checkpoint dir processes each landing file exactly
  *    once, so re-running it re-ingests nothing.
  *
  * Scale posture: the raw table is written `partitionBy(dt)`, so (a) the
  * per-day rollup scan prunes to one day's files, (b) retention (K5) is
  * a pure partition drop, and (c) the batch is never cached or
  * recounted: the raw write observes its row counts and its set of days
  * in the same pass, so the driver receives one small row per batch,
  * bounded by days-per-batch and independent of batch row count.
  *
  * Per event (one new landing blob of one day, daily table present) a
  * call launches two Spark jobs: the raw write and the daily write.
  * The one-day upsert reads, rolls up and writes its day in one job
  * ([[DailyTable.upsert]]), and the log envelope is written through the
  * Hadoop FS without a job ([[LogEvents.append]]).
  *
  * Its file operations per event, each file with its `.crc`: the
  * checkpoint's and the daily table's writer locks
  * ([[graft.ops.SingleWriter]]); for each of the two writes, the staging
  * and `_temporary` dirs, the partition dirs, the part file and
  * `_SUCCESS`; the drain's log entry and the log envelope, each a temp
  * file renamed into place. Under `file:` these go through
  * [[graft.io.NioLocalFileSystem]], which sets modes in-process, so
  * none of them forks a process (Hadoop's own local filesystem forks
  * `chmod` for each, about 30 per event).
  */
object Ingest {

  private val BatchCol = "ingest_batch"

  /** The raw table as stored: [[WeatherSchema.raw]] plus the batch
    * partition. Reading with it skips the footer-inference job.
    */
  private val RawStored = WeatherSchema.raw.add(BatchCol, LongType)

  /** Bound on the wait for a batch's observed metrics, which the listener
    * bus delivers after the raw write returns. A listener that throws
    * never delivers them; the bound fails the batch instead of hanging
    * the caller.
    */
  private val ObservedWait = 2.minutes

  /** Ingest every file new in the landing dir since the last call as
    * one batch, and return once its daily rows are written. A call with
    * nothing new runs no job. Batches are numbered from 0 per
    * `checkpointDir`, which holds the drain's log ([[FileDrain]]); a dir
    * holding a Structured Streaming checkpoint is refused.
    */
  def runOnce(
      spark: SparkSession, landingDir: String, rawPath: String,
      dailyPath: String, checkpointDir: String,
      logRoot: Option[String] = None): Unit =
    FileDrain(spark, spark.read.schema(WeatherSchema.raw).format("json"),
        landingDir, checkpointDir) { (batch, batchId) =>
      ingestBatch(spark, batch, batchId, rawPath, dailyPath, logRoot)
    }

  /** §2j: the success/error envelope every reference function publishes
    * (Load-gcs-to-bq/main.py:96-110), emitted per batch as one JSON file
    * and no Spark job.
    */
  private def publishLog(
      spark: SparkSession, logRoot: Option[String], messageType: String,
      message: String): Unit =
    logRoot.foreach { root =>
      LogEvents.append(spark, Seq(LogEvent(
        project = "graft", service = "ingest", process = "ingest_batch",
        runtime = s"spark ${spark.version}", log_type = LogEvents.BqLoadLogging,
        file_name = None, gcs_uri = None, bq_uri = None,
        message_type = messageType, message = message)), root)
    }

  /** One batch: K2 append, then D2/D3 transform per affected day —
    * sequential within the batch (the ordering CF#2 gets wrong).
    *
    * The "append" is a dynamic overwrite of the batch's own
    * (dt, ingest_batch=<id>) partitions: a retried batch (crash after
    * the write, before the drain commit) rewrites the same
    * directories instead of appending duplicates, upgrading the path
    * from at-least-once to effectively-once. `dt` stays the leading
    * partition level, so day-pruning and retention partition drops see
    * the same top-level layout.
    */
  private[graft] def ingestBatch(
      spark: SparkSession, batch: DataFrame, batchId: Long, rawPath: String,
      dailyPath: String, logRoot: Option[String] = None): Unit =
    try {
      // A fresh Observation per call: one completes once, and a retried
      // batch id must observe its own write. `count(dt)` skips nulls.
      // `dt` is observed as a string because the listener converts the
      // metrics row, and converting a DateType value there needs the JVM
      // to open sun.util.calendar.
      val seen = Observation()
      // Malformed landing lines parse to all-null rows under the explicit
      // schema (PERMISSIVE mode); a null dt would land in the Hive
      // default partition and silently poison the rollup's null group —
      // quarantine them to a count instead of ingesting.
      batch
        .observe(seen, count(lit(1)).as("rows"), count(col("dt")).as("with_dt"),
          collect_set(col("dt").cast("string")).as("days"))
        .filter(col("dt").isNotNull)
        .withColumn(BatchCol, lit(batchId))
        .write.partitionBy("dt", BatchCol)
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(rawPath)
      val counts = Await.result(seen.future, ObservedWait)
      val malformed = counts.getLong(0) - counts.getLong(1)
      val days = counts.getSeq[String](2).sorted.map(Date.valueOf)
      if (days.nonEmpty) {
        // dt is now a partition column of the raw store; per-day scope
        // filters in DailyRollup prune to one day's directory.
        val raw = spark.read.schema(RawStored).parquet(rawPath)
        if (!DailyTable.exists(spark, dailyPath))
          DailyTable.bootstrap(raw, dailyPath) // covers every day at once
        else
          days.foreach(d => DailyTable.upsert(raw, dailyPath, d))
      }
      publishLog(spark, logRoot, "success",
        s"batch $batchId loaded, days=${days.mkString(",")}, malformed=$malformed")
    } catch {
      case e: Throwable =>
        publishLog(spark, logRoot, "error",
          s"batch $batchId failed: ${e.getMessage}")
        throw e
    }
}
