package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.grafttest.JobCount
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{LogEvent, LogEvents}

/** §2j round trip (VERDICT.md #7/#10): envelope → partitioned sink →
  * read-back, with "Error"→"error" normalization and both P7 halves
  * (to_json serialize / from_json parse).
  */
class LogEventsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val events = Seq(
    LogEvent("p", "svc", "proc", "python 3.9", LogEvents.ApiLogging,
      Some("f.json"), Some("gs://b/f.json"), None, "success", "loaded"),
    // the reference's Cleanup-job inconsistency (main.py:60): "Error"
    LogEvent("p", "svc", "proc", "python 3.9", LogEvents.BqCleanupLogging,
      None, None, Some("bq://t"), "Error", "boom"))

  test("append partitions by (log_type, message_type) and lowercases the type") {
    val root = Files.createTempDirectory("graft-logs").toString + "/logs"
    LogEvents.append(spark, events, root)
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set(s"log_type=${LogEvents.ApiLogging}",
      s"log_type=${LogEvents.BqCleanupLogging}"))
    val sub = new java.io.File(s"$root/log_type=${LogEvents.BqCleanupLogging}")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(sub == Set("message_type=error")) // "Error" normalized

    val back = LogEvents.read(spark, root)
    assert(back.count() == 2)
    assert(back.filter(col("message_type") === "error")
      .select("message").as[String].head() == "boom")
  }

  test("append launches no job, leaves no temp file, and reads back the events") {
    val root = Files.createTempDirectory("graft-logs-jobless").toString + "/logs"
    assert(JobCount(spark.sparkContext)(LogEvents.append(spark, events, root)) == 0)
    val files = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
    assert(!files.exists(_.contains(".tmp")), files)
    assert(files.count(_.endsWith(".json")) == events.size) // one file per message
    val back = LogEvents.read(spark, root).as[LogEvent].collect().sortBy(_.log_type)
    val expected = events.map(e => e.copy(message_type = e.message_type.toLowerCase))
      .sortBy(_.log_type)
    assert(back.toSeq == expected)
  }

  test("envelope round trip preserves every field (P7 both halves)") {
    val back = LogEvents.fromEnvelope(LogEvents.toEnvelope(events.toDS()))
      .collect().sortBy(_.log_type)
    val expected = events.map(e => e.copy(message_type = e.message_type.toLowerCase))
      .sortBy(_.log_type)
    assert(back.toSeq == expected)
  }
}
