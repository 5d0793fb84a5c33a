package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `queries-short`: registry queries in the seeded order
  * of `order.txt`, in whole passes until the window has passed. Each
  * operation builds the query through `SparkEntry.queries(name)(spark, dir)` and materialises
  * it fully; its output digest must equal the pinned one in `expected.tsv`.
  *
  * With `inject`, the first timed operation returns its result plus one
  * duplicated row — a wrong result the check must catch.
  */
final class QueryWork(spark: SparkSession, dataDir: String, dir: Path,
    tracer: Tracer, inject: Boolean) extends Workload {
  private val order = PerfBench.readLines(dir.resolve("order.txt"))
  private val expected = PerfBench.readLines(dir.resolve("expected.tsv"))
    .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
  private val phaseNames = Map("analysis" -> "catalyst.analysis",
    "optimization" -> "catalyst.optimizer", "planning" -> "catalyst.planning")

  private def run(name: String, wrong: Boolean): Boolean = {
    val built = tracer.span("construct")(SparkEntry.queries(name)(spark, dataDir))
    val df = if (wrong) built.union(built.limit(1)) else built
    val got = tracer.span("execute")(Digest.of(df))
    if (tracer.enabled && tracer.op >= 0)
      df.queryExecution.tracker.phases.foreach { case (phase, s) =>
        phaseNames.get(phase).foreach(n => tracer.add(n, tracer.op,
          Clock.fromMs(s.startTimeMs), Clock.fromMs(s.endTimeMs)))
      }
    val good = expected.get(name).contains(got)
    if (!good)
      System.err.println(s"[perfbench] $name: digest $got, expected ${expected.get(name)}")
    good
  }

  /** Untimed warm-up: two passes over the list. After one pass the JIT is
    * still compiling, and a run's second half timed about 20% faster than
    * its first.
    */
  def setup(): Unit = (1 to 2).foreach(_ => order.foreach(run(_, wrong = false)))

  def op(i: Int): Boolean = run(order(i % order.size), inject && i == 0)

  /** Only whole passes over the list are measured, so every run times the
    * same multiset of queries whatever the seeded order.
    */
  override def boundary(i: Int): Boolean = i % order.size == 0

  def check(ops: Int): Set[Int] = Set.empty

  override def layers(ops: Int): Map[String, Double] = IngestWork.Metrics.map(_ -> 0.0).toMap

  override def gapSpan: String = "execute"
}
