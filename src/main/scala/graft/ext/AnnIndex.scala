package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameterized ANN index builders — the x72 (IVF+PQ search) and x73
  * (kNN graph) plans lifted out of the query registry so their index
  * constants are ARGUMENTS instead of literals (round-8 verdict task
  * #5). The registry entries call these with the frozen oracle
  * constants; specs re-call them at other settings to prove the
  * tuning knobs work on the SAME physical plan.
  *
  * Sizing rule at scale (the x58 adjudication, measured flat in the
  * SEMPQ/KNNG scaling curves, SURVEY.md §6): grow the cell count `kc`
  * (and `k` for the graph) PROPORTIONALLY to the corpus so the mean
  * cell population stays constant — candidates per query are then
  * O(cell × nProbe) regardless of corpus size, and the only growing
  * cost is the O(n · kc) assignment scan, which is embarrassingly parallel.
  * Recall tuning is `nProbe` (probe the p nearest coarse cells):
  * p× candidate rows on an unchanged plan — no refit, no reshuffle
  * of the codes table, because the probe side is the small one.
  * `m`/`kq` trade code width against ADC fidelity: bytes per vector
  * = m (kq ≤ 256), table memory = m · kq · (dims/m) doubles,
  * broadcast per query — all corpus-independent.
  */
object AnnIndex {

  /** IVF+PQ approximate top-k: coarse k-means shortlist (`kc` cells,
    * probe `nProbe`) × product-quantized ADC ranking (`m` subspaces of
    * width `sub`, `kq` codes each). Input `base` must carry
    * (`vec_id` LONG, `v` ARRAY<DOUBLE> of length m·sub); queries are
    * the vectors with `vec_id < nQ`. Output: (query_id, rnk,
    * neighbor_id, adc_d2) — `topK` rows per query, ranked by the
    * 6-digit-rounded ADC distance with ties to the lowest neighbor id.
    *
    * Determinism and scale shape are documented at the x72 call site
    * (ExtQueries): bit-exact quantized Lloyd fits, one equi-join on
    * the cell id, bounded broadcast probe spine.
    */
  def ivfPqTopK(base: DataFrame, m: Int, sub: Int, kc: Int, kq: Int,
      nProbe: Int, topK: Int, nQ: Int): DataFrame = {
    // the coarse fit and the m subspace fits are FUSED into one seed
    // collect + one unioned update job (round-17, guide §2.6 —
    // bit-identical centroids per KMeansSlicedSpec; the concurrent
    // per-fit jobs this replaces each paid their own launch + AQE
    // round-trips)
    val all = KMeansLite.fitQuantizedSliced(base, "vec_id", "v",
      (0, 0, kc) +: (0 until m).map(j => (j * sub + 1, sub, kq)),
      iters = 1)
    val coarse = all.head
    val cents = all.tail
    val codes = base.select(
      col("vec_id").as("neighbor_id") +:
        KMeansLite.assign(col("v"), coarse).as("cell") +:
        (0 until m).map(j => KMeansLite.assign(
          slice(col("v"), j * sub + 1, sub), cents(j)).as(s"code_$j")): _*)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("d2"), col("cell"))
    val probes = base.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        posexplode(KMeansLite.cellDistances(col("v"), coarse))
          .as(Seq("cell", "d2")))
      .withColumn("cr", row_number().over(wProbe))
      .filter(col("cr") <= nProbe)
      .select(col("query_id") +: col("cell") +:
        (0 until m).map(j => KMeansLite.cellDistances(
          slice(col("qv"), j * sub + 1, sub), cents(j)).as(s"lut_$j")): _*)
    val adc6 = round((0 until m)
      .map(j => element_at(col(s"lut_$j"), col(s"code_$j") + 1))
      .reduce(_ + _), 6)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("adc6"), col("neighbor_id"))
    probes.join(codes, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc6", adc6)
      .withColumn("rnk", row_number().over(wRank).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("adc6").as("adc_d2"))
  }

  /** Brute-force exact top-k membership flags for the same query set —
    * the recall-audit leg (query_id, neighbor_id, exact_hit=true).
    * O(n · nQ): present for audits, not the serving path.
    */
  def exactTopK(base: DataFrame, topK: Int, nQ: Int): DataFrame = {
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("ed6"), col("neighbor_id"))
    base.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .crossJoin(broadcast(base.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("ed6", round(KMeansLite.dist2(col("qv"), col("cv")), 6))
      .withColumn("ernk", row_number().over(wExact))
      .filter(col("ernk") <= topK)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("exact_hit"))
  }

  /** Approximate k-NN graph: every node's `topK` nearest neighbors,
    * candidates restricted to the node's `nProbe` nearest k-means
    * cells (neighbors live in their ONE primary cell, so a pair can
    * match in at most one shared cell — no dedup shuffle). Output:
    * (src_id, rnk, neighbor_id, d2_e6), integer micro-unit distances,
    * ties to the lowest neighbor id. `nProbe = 1` is the x73 oracle
    * shape (own-cell candidates only); raising it is the recall knob —
    * same plan, p× candidate rows on the src side only.
    */
  def knnGraph(corpus: DataFrame, k: Int, topK: Int,
      nProbe: Int = 1): DataFrame = {
    val cents = KMeansLite.fitQuantized(corpus, "vec_id", "v", k, iters = 1)
    val neighbors = corpus.select(
      KMeansLite.assign(col("v"), cents).as("cell"),
      col("vec_id").as("neighbor_id"), col("v").as("vb"))
    val srcs =
      if (nProbe <= 1)
        corpus.select(KMeansLite.assign(col("v"), cents).as("cell"),
          col("vec_id").as("src_id"), col("v").as("va"))
      else {
        val wProbe = Window.partitionBy(col("src_id"))
          .orderBy(col("d2"), col("cell"))
        corpus.select(col("vec_id").as("src_id"), col("v").as("va"),
          posexplode(KMeansLite.cellDistances(col("v"), cents))
            .as(Seq("cell", "d2")))
          .withColumn("cr", row_number().over(wProbe))
          .filter(col("cr") <= nProbe)
          .select(col("cell"), col("src_id"), col("va"))
      }
    rankWithinCell(srcs, neighbors, topK)
  }

  /** Shared rank stage: cell-equi-join candidates, micro-unit
    * distances, per-src top-k with ties to the lowest neighbor id.
    */
  private def rankWithinCell(srcs: DataFrame, neighbors: DataFrame,
      topK: Int): DataFrame = {
    val wSrc = Window.partitionBy(col("src_id"))
      .orderBy(col("d2_e6"), col("neighbor_id"))
    srcs.join(neighbors, "cell")
      .filter(col("src_id") =!= col("neighbor_id"))
      .withColumn("d2_e6",
        floor(KMeansLite.dist2(col("va"), col("vb")) * 1e6 + 0.5))
      .withColumn("rnk", row_number().over(wSrc).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("src_id"), col("rnk"), col("neighbor_id"), col("d2_e6"))
  }

  /** kNN graph over an ALREADY-ASSIGNED corpus (`vec_id`, `v`, `cell`)
    * — the persisted-index form: assignments computed once, stored,
    * and reused across maintenance cycles (the x42 discipline).
    */
  def knnGraphAssigned(assigned: DataFrame, topK: Int): DataFrame =
    rankWithinCell(
      assigned.select(col("cell"), col("vec_id").as("src_id"),
        col("v").as("va")),
      assigned.select(col("cell"), col("vec_id").as("neighbor_id"),
        col("v").as("vb")),
      topK)

  /** Incremental kNN-graph maintenance against a FROZEN index
    * (round-8 verdict task #7 — the x42 incremental pattern on x73's
    * plan): centroids are fit on the OLD corpus only; the new batch
    * probes its cells; and ONLY the batch-touched cells recompute.
    * Output = refreshed (src_id, rnk, neighbor_id, d2_e6) edges for
    * EVERY node (old or new) in a cell the batch touched — equal by
    * construction to the full frozen-index recompute restricted to
    * those cells (the x75 oracle proves it row-identical), because a
    * node's candidates never leave its own cell. Nodes in untouched
    * cells keep their persisted edges; nothing is emitted for them.
    *
    * Scale shape: the fit is the bounded KMeansLite driver state; the
    * touched-cell spine is ≤ min(batch, k) rows BROADCAST against the
    * persisted assignments, so per-batch work is O(touched-cell
    * population · mean cell size), independent of corpus size — the
    * maintenance cost a production index pays per micro-batch.
    */
  def incrementalNeighbors(oldCorpus: DataFrame, newBatch: DataFrame,
      k: Int, topK: Int): DataFrame = {
    val cents = KMeansLite.fitQuantized(oldCorpus, "vec_id", "v", k, iters = 1)
    incrementalNeighborsAssigned(
      oldCorpus.select(col("vec_id"), col("v"),
        KMeansLite.assign(col("v"), cents).as("cell")),
      newBatch.select(col("vec_id"), col("v"),
        KMeansLite.assign(col("v"), cents).as("cell")),
      topK)
  }

  /** Persisted-assignments form of [[incrementalNeighbors]] — both
    * sides already carry their frozen-index `cell`.
    */
  def incrementalNeighborsAssigned(oldAssigned: DataFrame,
      newAssigned: DataFrame, topK: Int): DataFrame = {
    val touched = newAssigned.select(col("cell")).distinct()
    val members = oldAssigned.unionByName(newAssigned)
      .join(broadcast(touched), "cell")
    knnGraphAssigned(members, topK)
  }
}
