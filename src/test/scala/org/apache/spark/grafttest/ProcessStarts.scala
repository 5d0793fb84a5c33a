package org.apache.spark.grafttest

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

import org.apache.spark.executor.ProcfsMetricsGetter

/** The OS processes the JVM starts while `body` runs, on any thread,
  * from a JDK Flight Recorder `jdk.ProcessStart` recording around it:
  * each as its command line and the top frames of the stack that
  * started it.
  */
object ProcessStarts {
  private val StackDepth = 12

  // The local executor's first heartbeat, 10-20 s after the session
  // starts, forks `getconf PAGESIZE` once per JVM to size its
  // process-tree metrics. Doing that here keeps the one-off out of
  // whichever count it would land in.
  ProcfsMetricsGetter.pTreeInfo

  def apply(body: => Unit): Seq[String] = {
    val recording = new Recording
    try {
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      try body
      finally recording.stop()
      val dump = Files.createTempFile("process-starts", ".jfr")
      try {
        recording.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.toSeq.map { e =>
          val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
            .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
            .filterNot(_.startsWith("java.lang.Process"))
          (e.getString("command") +: frames.take(StackDepth)).mkString("\n  at ")
        }
      } finally Files.delete(dump)
    } finally recording.close()
  }
}
