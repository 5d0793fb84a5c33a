package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

import graft.schema.WeatherSchema

/** §2j of SURVEY.md: the cross-cutting logging dataflow.
  *
  * Every reference function publishes a success- or error-typed JSON
  * envelope to Pub/Sub (K6) which a dedicated function lands as one file
  * per message under a two-level `log_type/message_type/` partition path
  * in GCS (K7, /root/reference/Load-logs/main.py:43-50). Envelope fields:
  * Load-Data-From-API/main.py:32-38,192-195.
  *
  * Spark mapping: the same directory contract, `log_type=…/message_type=…/`
  * with the partition columns left out of the file, so
  * `spark.read.json` discovers them. [[append]] writes one JSON file per
  * message, as the reference's sink uploads one blob per message, and
  * runs no Spark job; [[appendStream]] is the streaming form.
  * `message_type` is normalized to lowercase: the reference emits "Error"
  * from the cleanup job (Cleanup-job/main.py:60) and "error" everywhere
  * else — an inconsistency SURVEY.md §2j says to fix, not reproduce.
  */
final case class LogEvent(
    project: String,
    service: String,
    process: String,
    runtime: String,
    log_type: String,
    file_name: Option[String],
    gcs_uri: Option[String],
    bq_uri: Option[String],
    message_type: String,
    message: String)

object LogEvents {
  val ApiLogging = "api-logging"
  val BqLoadLogging = "bq-load-logging"
  val BqCleanupLogging = "bq-cleanup-logging"

  /** Column expression, not a typed map: `lower()` stays inside
    * whole-stage codegen, no case-class round-trip (VERDICT.md #7).
    */
  def normalize(events: Dataset[LogEvent]): Dataset[LogEvent] = {
    import events.sparkSession.implicits._
    events.withColumn("message_type", lower(col("message_type"))).as[LogEvent]
  }

  /** The partition columns of the sink, in directory order. */
  private val PartitionCols = Seq("log_type", "message_type")

  /** Land each event as its own file, the K7 contract
    * (Load-logs/main.py:23-32,48-50):
    * `<root>/log_type=<t>/message_type=<m>/hourly_weather_data_<m>_<ms>_<uuid>.json`.
    *
    * The line is [[normalize]] plus `to_json` over the events' local
    * relation, without the partition columns: the bytes Spark's JSON
    * writer would put in the file, computed on the driver with no job.
    * Each file is written through the Hadoop FS under a hidden
    * `.`-prefixed temp name, which readers skip, and renamed into place,
    * so a reader sees a whole message or none. Messages land one by one:
    * a failure part-way leaves the earlier ones in place.
    */
  def append(spark: SparkSession, events: Seq[LogEvent], root: String): Unit = {
    import spark.implicits._
    val dataCols = WeatherSchema.logEvent.fieldNames
      .filterNot(PartitionCols.contains).map(col).toSeq
    val rows = normalize(events.toDS())
      .select(PartitionCols.map(col) :+ to_json(struct(dataCols: _*)): _*)
      .collect()
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rows.foreach { r =>
      val (logType, messageType, line) = (r.getString(0), r.getString(1), r.getString(2))
      val dir = new Path(rootPath,
        ExternalCatalogUtils.getPartitionPathString("log_type", logType) + "/" +
          ExternalCatalogUtils.getPartitionPathString("message_type", messageType))
      val name = s"hourly_weather_data_${ExternalCatalogUtils.escapePathName(
        String.valueOf(messageType))}_${System.currentTimeMillis()}_${UUID.randomUUID()}.json"
      val tmp = new Path(dir, s".$name.tmp")
      try {
        val out = fs.create(tmp, /* overwrite = */ false)
        try out.write((line + "\n").getBytes(UTF_8))
        finally out.close()
        if (!fs.rename(tmp, new Path(dir, name)))
          throw new java.io.IOException(s"could not land log message $name under $dir")
      } finally fs.delete(tmp, false)
    }
  }

  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(WeatherSchema.logEvent).json(root)

  /** K6 envelope serialization — the `json.dumps(MESSAGE_DATA)` half of P7
    * (Load-Data-From-API/main.py:197): one JSON string per event, the shape
    * published to the log topic.
    */
  def toEnvelope(events: Dataset[LogEvent]): DataFrame =
    normalize(events).select(to_json(struct(col("*"))).as("value"))

  /** S4 envelope parse — the `ast.literal_eval` half (Load-logs/main.py:41). */
  def fromEnvelope(envelopes: DataFrame): Dataset[LogEvent] = {
    import envelopes.sparkSession.implicits._
    envelopes
      .select(from_json(col("value"), WeatherSchema.logEvent).as("e"))
      .select(col("e.*"))
      .as[LogEvent]
  }

  /** K6/K7 as a STREAM (the reference's CF#4 shape: per-message arrival →
    * partitioned log storage, Load-logs/main.py:34-53): a stream of
    * envelope JSON strings is parsed (S4), normalized, and continuously
    * appended to the partitioned layout. Returns the started query;
    * caller controls the trigger/await.
    */
  def appendStream(
      envelopes: DataFrame, root: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val parsed = fromEnvelope(envelopes)
    normalize(parsed).writeStream
      .partitionBy("log_type", "message_type")
      .format("json")
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(root)
  }
}
