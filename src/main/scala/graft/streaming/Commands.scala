package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Dispatch

/** S2 + P13 of SURVEY.md §2: the Pub/Sub command fabric as a file drain.
  *
  * The reference's scheduler publishes base64 commands
  * (`"collect-weather-data"`, `"cleanup-older-data"`) that trigger
  * functions (Load-Data-From-API/main.py:163-168; Cleanup-job/
  * main.py:39-42). Here the command channel is a dir of message files
  * drained per call by [[FileDrain]] — one line per message, payload
  * base64 exactly like `event['data']` — gated per handler by
  * [[Dispatch.commandGate]] (P6 decode + P13 equality filter) and
  * dispatched once per matching message. Unknown commands are silently
  * ignored, like the reference's unmatched branch.
  */
object Commands {

  /** Drain the command files new since the last call, invoking
    * `handlers(cmd)` once per received matching message.
    */
  def runOnce(
      spark: SparkSession, commandDir: String, checkpointDir: String,
      handlers: Map[String, () => Unit]): Unit =
    FileDrain(spark, spark.read.format("text"), commandDir, checkpointDir) {
      (batch, _) => dispatchBatch(batch, handlers)
    }

  private[streaming] def dispatchBatch(
      batch: DataFrame, handlers: Map[String, () => Unit]): Unit = {
    batch.persist()
    try handlers.foreach { case (cmd, action) =>
      // P6+P13 as a relational filter; count is driver-sized (commands
      // are control-plane messages, a handful per call).
      val n = Dispatch.commandGate(batch, "value", cmd).count()
      (1L to n).foreach(_ => action())
    } finally batch.unpersist()
  }
}
