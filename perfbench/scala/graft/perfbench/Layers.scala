package graft.perfbench

/** Per-layer metrics of the traced run, each a mean per timed operation
  * unless its name says otherwise.
  */
object Layers {
  /** Length of the union of `iv` clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var s = Long.MinValue; var e = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (a > e) { if (e > s) total += e - s; s = a; e = b }
        else e = math.max(e, b)
      }
    if (e > s) total += e - s
    total
  }

  /** Span names reported as self time, in the order they are listed. */
  val SelfNames = Seq("op", "construct", "execute", "catalyst.analysis",
    "catalyst.optimizer", "catalyst.planning", "job", "land", "fetch", "clean",
    "land.write", "visible", "retention")

  /** Spans that only group calls into lower layers. Their self time is op
    * time that no layer span explains: Spark driver work outside jobs in
    * `execute`, Structured Streaming's own work in `ingest.run`.
    */
  val Wrappers = Set("op", "execute", "land", "ingest.run", "visible")

  def apply(t: Tracer, e: ExecListener, w: Workload, n: Int, cpus: Int,
      windowS: Double): Map[String, Double] = {
    val ops = t.all.filter(_.name == "op")
    e.sqlExecs.values.filter(_._2 > 0).foreach { case (a, b) =>
      ops.find(o => o.start <= a && a <= o.end).foreach(o => t.add("sql", o.op, a, b))
    }
    val jobs = e.jobs.filter(_.end > 0).toSeq
    jobs.foreach(j => t.add("job", j.op, j.start, j.end))
    val spans = t.all
    val self = t.selfTimes
    val byName = spans.groupBy(_.name)
    def sumS(xs: Iterable[Long]) = xs.sum / 1e9
    def meanDur(name: String) = sumS(byName.getOrElse(name, Nil).map(_.dur)) / n
    val jobsByOp = jobs.groupBy(_.op)
    def opJobs(op: Int) = jobsByOp.getOrElse(op, Nil)

    val constructJobs = byName.getOrElse("construct", Nil).map { s =>
      opJobs(s.op).count(j => j.start >= s.start && j.start <= s.end)
    }.sum
    val gap = byName.getOrElse(w.gapSpan, Nil).map { s =>
      s.dur - covered(opJobs(s.op).map(j => (j.start, j.end)), s.start, s.end)
    }
    val ex = e.ops.values
    val taskNs = ex.map(_.taskNs).sum
    val jobNs = jobs.map(j => j.end - j.start).sum
    val skews = e.ops.values.flatMap { o =>
      o.stageTasks.values.filter(_._2.nonEmpty).maxByOption(_._1).map { case (_, ts) =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }
    }
    val mb = 1048576.0
    val opSpans = byName.getOrElse("op", Nil)
    val base = Map(
      "queries.construct_s" -> meanDur("construct"),
      "queries.construct_jobs" -> constructJobs.toDouble / n,
      "catalyst.analysis_s" -> meanDur("catalyst.analysis"),
      "catalyst.optimizer_s" -> meanDur("catalyst.optimizer"),
      "catalyst.planning_s" -> meanDur("catalyst.planning"),
      "exec.jobs" -> jobs.size.toDouble / n,
      "exec.stages" -> ex.map(_.stages).sum.toDouble / n,
      "exec.tasks" -> ex.map(_.tasks).sum.toDouble / n,
      "exec.driver_gap_s" -> sumS(gap) / n,
      "exec.job_s" -> jobNs / 1e9 / n,
      "exec.task_s" -> taskNs / 1e9 / n,
      "exec.task_cpu_s" -> ex.map(_.cpuNs).sum / 1e9 / n,
      "exec.slot_util" -> (if (jobNs > 0) taskNs.toDouble / (jobNs.toDouble * cpus) else 0.0),
      "exec.task_skew" -> (if (skews.nonEmpty) skews.sum / skews.size else 0.0),
      "exec.shuffle_write_mb" -> ex.map(_.shuffleW).sum / mb / n,
      "exec.shuffle_read_mb" -> ex.map(_.shuffleR).sum / mb / n,
      "exec.spill_mb" -> ex.map(_.spill).sum / mb / n,
      "land.s" -> meanDur("land"),
      "ingest.run_s" -> meanDur("ingest.run"),
      "visible.s" -> meanDur("visible"),
      "retention.s" -> meanDur("retention"),
      "trace.throughput_ops_s" -> n / windowS,
      "trace.coverage" -> (1.0 - sumS(spans.filter(s => Wrappers(s.name)).map(s => self(s.id))) /
        math.max(sumS(opSpans.map(_.dur)), 1e-9)))
    base ++ SelfNames.map { name =>
      s"self.${name}_s" -> sumS(byName.getOrElse(name, Nil).map(s => self(s.id))) / n
    }
  }
}
