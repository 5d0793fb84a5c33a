package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a layer call. Times are epoch nanoseconds on the
  * harness clock ([[Clock]]), so listener timestamps (epoch ms) land on
  * the same axis. `parent` is the id of the enclosing span, -1 for a root.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Epoch-nanosecond clock: the wall-clock epoch at start-up plus the
  * monotonic nanoTime delta since then.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** In-memory span recorder for the traced run. Every layer call is a
  * span with a parent; nothing is written until [[write]] at the end.
  * When disabled, [[span]] just runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** Operation index the current spans belong to; -1 outside timed ops. */
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled || op < 0) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, Clock.now())
      }
    }

  /** Record an interval measured elsewhere (job, Catalyst phase) under
    * the innermost recorded span of `op` that contains its start.
    */
  def add(name: String, op: Int, start: Long, end: Long): Unit = {
    val parent = spans.iterator
      .filter(s => s.op == op && s.start <= start && start <= s.end)
      .minByOption(_.dur).map(_.id).getOrElse(-1)
    spans += Span(nextId, parent, name, op, start, end)
    nextId += 1
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time of every span: its duration minus the union of its
    * children's intervals clipped to it.
    */
  def selfTimes: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - Layers.covered(
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq, s.start, s.end))
    }.toMap
  }

  def write(path: Path): Unit = {
    val self = selfTimes
    val sb = new StringBuilder
    spans.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}}""" + "\n"
    }
    Files.writeString(path, sb.toString)
  }
}

/** Scheduler-side view of the timed operations. Jobs carry the op index
  * in a local property ([[ExecListener.OpKey]]); stages and tasks are
  * attributed through their job. Read only after the bus is drained.
  */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, op: Int, start: Long, var end: Long)
  final class OpExec {
    var stages = 0; var tasks = 0
    var taskNs = 0L; var cpuNs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
    /** stage id -> (stage duration ns, task durations ms) */
    val stageTasks = mutable.Map[Int, (Long, mutable.ArrayBuffer[Long])]()
  }
  val jobs = mutable.ArrayBuffer[Job]()
  /** SQL execution id -> (start, end) on the harness clock. */
  val sqlExecs = mutable.Map[Long, (Long, Long)]()
  val ops = mutable.Map[Int, OpExec]()
  private val stageOp = mutable.Map[Int, Int]()

  private def opOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(ExecListener.OpKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    if (op >= 0) {
      jobs += Job(e.jobId, op, Clock.fromMs(e.time), -1L)
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = Clock.fromMs(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageOp.get(si.stageId).foreach { op =>
      val o = ops.getOrElseUpdate(op, new OpExec)
      o.stages += 1
      val dur = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a)
        .getOrElse(0L) * 1000000L
      val (_, ts) = o.stageTasks.getOrElse(si.stageId, (0L, mutable.ArrayBuffer[Long]()))
      o.stageTasks(si.stageId) = (dur, ts)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlExecs(s.executionId) = (Clock.fromMs(s.time), -1L)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlExecs.get(s.executionId).foreach { case (a, _) =>
        sqlExecs(s.executionId) = (a, Clock.fromMs(s.time))
      }
    }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val o = ops.getOrElseUpdate(op, new OpExec)
      o.tasks += 1
      o.taskNs += e.taskInfo.duration * 1000000L
      val (d, ts) = o.stageTasks.getOrElse(e.stageId, (0L, mutable.ArrayBuffer[Long]()))
      ts += e.taskInfo.duration
      o.stageTasks(e.stageId) = (d, ts)
      val m = e.taskMetrics
      if (m != null) {
        o.cpuNs += m.executorCpuTime
        o.shuffleW += m.shuffleWriteMetrics.bytesWritten
        o.shuffleR += m.shuffleReadMetrics.totalBytesRead
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

object ExecListener {
  val OpKey = "perfbench.op"
}

/** Times every successful write action and tells them apart by the
  * output path they land under. Recording is switched on only for the
  * timed window.
  */
final class WriteListener(roots: Seq[(String, String)]) extends QueryExecutionListener {
  @volatile var recording = false
  /** layer -> total ns */
  val writes = mutable.Map[String, Long]().withDefaultValue(0L)

  private def layerOf(qe: QueryExecution): Option[String] =
    qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
      c.outputPath.toUri.getPath
    }.flatMap(p => roots.collectFirst { case (layer, r) if p.startsWith(r) => layer })

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (recording) {
        layerOf(qe).foreach(l => writes(l) += durationNs)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}
