package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Lloyd's k-means, a few iterations — a real learned
  * coarse quantizer for IVF-style ANN (upgrading x09's label-as-cell
  * stand-in to trained cells).
  *
  * Scale shape (the standard distributed k-means):
  *  - assignment is a narrow map over the vectors (distance to k
  *    centroid literals, codegen'd array ops);
  *  - the update step is one posexplode + hash aggregate keyed on
  *    (cell, dim) — k·d result rows, collected to the driver as the
  *    ONLY driver-side state (k·d doubles per iteration);
  *  - no randomness anywhere: init = first k vectors in id order, ties
  *    in argmin break to the lowest centroid index, so runs and retries
  *    agree (up to FP reduction order in the avg).
  */
object KMeansLite {

  /** Squared L2 distance between two vector columns via the native
    * codegen'd expression
    * ([[org.apache.spark.sql.graft.SquaredDistance]]): one fused loop,
    * no `zip_with` intermediate array — the hot inner op of every
    * assignment scan and kNN edge. Fold order (sequential left fold)
    * is identical to [[dist2Hof]] and the oracle's list comprehension;
    * ExtSpec asserts bit-equality, and the same-session sf1 A/B
    * (PLANS.md round-10 note) measured x75 41 → 7 s, x73 17 → 11 s.
    */
  def dist2(v: Column, c: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.graft.SquaredDistance(
        org.apache.spark.sql.GraftExpressionBridge.expression(v),
        org.apache.spark.sql.GraftExpressionBridge.expression(c)))

  /** HOF formulation — the pure-built-in reference implementation
    * [[dist2]] must match bit-for-bit.
    */
  def dist2Hof(v: Column, c: Column): Column =
    aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, d) => acc + d)

  /** Array of distances² to every centroid, in centroid-index order.
    *
    * The centroids enter the plan as ONE `typedlit` 2-D array iterated
    * with HOFs, not as k separate 64-literal expression trees: the
    * naive k×d-literal formulation made Catalyst analyze/optimize a
    * ~1500-node tree per assignment (seconds of PLANNING per k-means
    * iteration at k=8, d=64 — 6× the job's runtime). Arithmetic is
    * unchanged: same zip_with/aggregate fold per centroid.
    */
  def cellDistances(v: Column, centroids: Seq[Seq[Double]]): Column = {
    val cl = typedlit(centroids)
    transform(sequence(lit(0), lit(centroids.size - 1)), ci =>
      dist2(v, element_at(cl, ci + 1)))
  }

  /** Cell assignment: index of the nearest centroid (first minimum →
    * lowest index on ties — deterministic).
    */
  def assign(v: Column, centroids: Seq[Seq[Double]]): Column = {
    val d = cellDistances(v, centroids)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** The coordinate grid for [[fitQuantized]]: 2^24. Multiplying a
    * double by a power of two is EXACT, so `round(x * 2^24)` is
    * bit-identical across engines, and the resulting integers sum
    * exactly (|x| ≤ 1-ish and n ≤ millions keeps sums far below 2^53).
    */
  val QuantScale: Double = 16777216.0

  /** Lloyd iterations whose centroid update is reproducible bit-for-bit
    * by a SQL oracle. Plain `avg(double)` depends on partial-aggregate
    * merge order — nondeterministic even run-to-run — so the update
    * quantizes each coordinate to the 2^-24 grid (`round(x·2^24)` as
    * LONG), sums exactly (order-independent integer adds), takes
    * `floor(sum / n)` in double (IEEE division of identical operands),
    * and reconstructs `mean/2^24` (exact — division by a power of two).
    * Every step is deterministic and expressible in DuckDB, so a
    * trained quantizer can sit under the hash-compare oracle (x16).
    *
    * Same seed/tie rules as [[fit]]: init = first k vectors in id
    * order, argmin ties break to the lowest centroid index, empty
    * cells keep their previous centroid.
    */
  def fitQuantized(
      vectors: DataFrame, idCol: String, vCol: String,
      k: Int, iters: Int): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = vectors.orderBy(col(idCol)).limit(k)
      .select(col(vCol)).collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to iters) {
      val means = assignedOnce(vectors, vCol, cents)
        .select(col("cell"),
          posexplode(transform(col(vCol),
            x => round(x * QuantScale).cast("long"))).as(Seq("dim", "q")))
        .groupBy(col("cell"), col("dim"))
        .agg(floor(sum(col("q")).cast("double") /
          count(lit(1)).cast("double")).as("ms"))  // floor → LongType
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getLong(2) / QuantScale).toSeq
        }
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }

  /** Several [[fitQuantized]] fits over SLICES of ONE vector frame,
    * fused into the minimum number of Spark jobs (round-17, guide
    * §2.6: the x59/x72/x87 product-quantizer builds ran m+1
    * independent fits as m+1 seed-collect jobs plus m+1 update
    * jobs; concurrency overlapped them but each still paid its own
    * job launch + AQE round-trips). Here:
    *
    *  - ONE seed collect fetches the first max(k) vectors in id
    *    order; every fit's seed is a local slice of those rows —
    *    identical to each fit's own `orderBy(id).limit(k)` because
    *    slicing commutes with row selection;
    *  - per Lloyd iteration, ONE unioned job computes every fit's
    *    quantized update aggregate (legs tagged by fit index); the
    *    per-(fit, cell, dim) groups contain exactly the rows each
    *    individual fit would aggregate, and the quantized integer
    *    sums are order-independent, so the centroids are
    *    BIT-IDENTICAL to per-fit [[fitQuantized]] calls
    *    (KMeansSlicedSpec pins it).
    *
    * Each fit is (start, len, k): train k centroids on
    * `slice(vCol, start, len)`; start = 0 means the whole vector.
    *
    * Preconditions: `fits` is non-empty (checked), and `idCol` values
    * are unique. The seeds are the first max(k) rows in `idCol` order,
    * and duplicate ids make that order, and so the fit, depend on how
    * rows happen to be partitioned.
    */
  def fitQuantizedSliced(vectors: DataFrame, idCol: String, vCol: String,
      fits: Seq[(Int, Int, Int)], iters: Int): Seq[Seq[Seq[Double]]] = {
    require(fits.nonEmpty, "fitQuantizedSliced needs at least one fit")
    def sliced(f: (Int, Int, Int)): Column =
      if (f._1 == 0) col(vCol) else slice(col(vCol), f._1, f._2)
    val maxK = fits.map(_._3).max
    val seedRows = vectors.orderBy(col(idCol)).limit(maxK)
      .select(col(vCol)).collect().map(_.getSeq[Double](0).toSeq).toSeq
    var cents: Seq[Seq[Seq[Double]]] = fits.map { case (start, len, k) =>
      seedRows.take(k).map(v =>
        if (start == 0) v else v.slice(start - 1, start - 1 + len))
    }
    for (_ <- 1 to iters) {
      val legs = fits.zipWithIndex.map { case (f, j) =>
        vectors.select(lit(j).as("fit"),
          assign(sliced(f), cents(j)).as("cell"), sliced(f).as("v"))
      }
      // same assign-then-exchange barrier as [[assignedOnce]] (the
      // CollapseProject re-evaluation hazard), one union-wide
      val means = legs.reduce(_ unionByName _)
        .repartition(vectors.sparkSession.sparkContext.defaultParallelism)
        .select(col("fit"), col("cell"),
          posexplode(transform(col("v"),
            x => round(x * QuantScale).cast("long"))).as(Seq("dim", "q")))
        .groupBy(col("fit"), col("cell"), col("dim"))
        .agg(floor(sum(col("q")).cast("double") /
          count(lit(1)).cast("double")).as("ms"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (j, rows) =>
          j -> rows.groupBy(_.getInt(1)).map { case (cell, rs) =>
            cell -> rs.sortBy(_.getInt(2)).map(_.getLong(3) / QuantScale).toSeq
          }
        }
      cents = cents.zipWithIndex.map { case (cs, j) =>
        val m = means.getOrElse(j, Map.empty[Int, Seq[Double]])
        cs.indices.map(i => m.getOrElse(i, cs(i)))
      }
    }
    cents
  }

  /** Sum over points of distance² to the assigned centroid. */
  def inertia(vectors: DataFrame, vCol: String, centroids: Seq[Seq[Double]]): Double =
    vectors.select(
      array_min(cellDistances(col(vCol), centroids)).as("d"))
      .agg(sum(col("d"))).head().getDouble(0)

  /** Cell assignment materialized BEHIND an exchange before any
    * explode: without the barrier, CollapseProject merges the `assign`
    * projection into the post-Generate projection and the k×d distance
    * scan is re-evaluated once per EXPLODED row — a d-fold recompute
    * (measured 10× on the update step at d=64). The round-robin
    * repartition also spreads the update aggregate across cores (the
    * single-file embeddings scan is one partition).
    */
  private def assignedOnce(
      vectors: DataFrame, vCol: String, cents: Seq[Seq[Double]]): DataFrame =
    vectors
      .select(assign(col(vCol), cents).as("cell"), col(vCol))
      .repartition(vectors.sparkSession.sparkContext.defaultParallelism)

  /** `iters` Lloyd iterations from the deterministic seed (first k
    * vectors ordered by `idCol`). Empty cells keep their previous
    * centroid. Returns the k centroids.
    */
  def fit(
      vectors: DataFrame, idCol: String, vCol: String,
      k: Int, iters: Int): Seq[Seq[Double]] = {
    var cents: Seq[Seq[Double]] = vectors.orderBy(col(idCol)).limit(k)
      .select(col(vCol)).collect().map(_.getSeq[Double](0).toSeq).toSeq
    for (_ <- 1 to iters) {
      val means = assignedOnce(vectors, vCol, cents)
        .select(col("cell"), posexplode(col(vCol)).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }
      cents = cents.indices.map(i => means.getOrElse(i, cents(i)))
    }
    cents
  }
}
