package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch — fixed-size frequency estimation for heavy-hitter
  * detection over unbounded token/n-gram streams (north-star extension;
  * the classic Cormode–Muthukrishnan sketch from "An improved data
  * stream summary: the count-min sketch and its applications", 2005).
  *
  * The sketch is a `depth × width` counter grid; each item increments
  * one counter per row (bucket = hash_r(item)), and the estimate for an
  * item is the MIN of its `depth` counters — always an overestimate
  * (collisions only add), with error ≤ εN at probability 1−δ for
  * width = e/ε, depth = ln(1/δ).
  *
  * Relational formulation (no custom state): the counter grid IS a
  * `groupBy(row, bucket).count()` — partial aggregation compresses each
  * partition to ≤ depth·width rows before the exchange, exactly the
  * map-side-combine shape a 100 TB scan needs, and the final grid is
  * depth·width rows total regardless of corpus size. Estimation is an
  * equi-join of (candidate × depth) against the grid + a `min` — a
  * broadcast probe when the candidate set is bounded. Merging sketches
  * of two corpora is a union + re-aggregate of the grids: counters add.
  *
  * Determinism: buckets come from the first two hex chars of
  * md5(item + '#' + row) — the [[Sampling.hashBucket256]] convention —
  * so the DuckDB oracle reproduces the grid bit-identically; counters
  * are integers, immune to summation order.
  */
object Cms {

  /** Row-`r` bucket of an item, in [0, width); width ≤ 256 (buckets are
    * drawn from one md5 byte, keeping the oracle SQL exact).
    */
  private def bucket(item: Column, row: Column, width: Int): Column = {
    require(width > 0 && width <= 256, "need 0 < width <= 256")
    pmod(conv(substring(md5(concat(item, lit("#"), row.cast("string"))), 1, 2),
      16, 10).cast("long"), lit(width.toLong))
  }

  /** The counter grid of `itemCol` occurrences: one row per non-empty
    * (keys…, sketch row, bucket) cell. At most depth·width rows per key,
    * built by one hash aggregate with map-side partial combine. `keys`
    * group the grid (a stream passes its event-time window,
    * [[graft.streaming.StreamCms]]); none gives one grid.
    */
  def counterGrid(
      occurrences: DataFrame, itemCol: String,
      depth: Int, width: Int, keys: Column*): DataFrame =
    occurrences
      .withColumn("__cms_row", sketchRows(depth))
      .groupBy(keys ++ Seq(col("__cms_row").as("row"),
        bucket(col(itemCol), col("__cms_row"), width).as("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for a bounded candidate set: each candidate probes
    * its `depth` cells and takes the min. Candidates are expanded
    * ×depth and equi-joined against the (tiny) grid — Catalyst
    * broadcasts the grid side.
    *
    * `keys` name the grid's key columns (a stream's emitted grid is
    * keyed by `window_start`): each candidate is then probed once per
    * key value the grid holds, and the result is (keys…, candidate
    * columns…, cms_est). The key names are the probe's output columns,
    * so a candidate frame must not carry them.
    */
  def estimate(
      candidates: DataFrame, itemCol: String, grid: DataFrame,
      depth: Int, width: Int, keys: String*): DataFrame = {
    // internal prefix: a candidate frame carrying its own row/bucket/
    // cnt columns must not collide with the probe's join keys
    require(!candidates.columns.exists(_.startsWith("__cms_")),
      "probe candidates must not carry __cms_-prefixed columns")
    keys.foreach(k => require(!candidates.columns.contains(k),
      s"probe candidates must not carry a $k column — rename it before " +
        "probing (it is the probe's output key)"))
    // the key list and the grid share lineage: RENAME every column on
    // both derivations (an alias alone keeps ambiguous attribute ids)
    val keyCols = keys.indices.map(i => s"__cms_k$i")
    val keyed = keys.zip(keyCols).map { case (k, c) => col(k).as(c) }
    val g = grid.select(keyed ++ Seq(col("row").as("__cms_row"),
      col("bucket").as("__cms_bucket"), col("cnt").as("__cms_cnt")): _*)
    val probes = candidates
      .withColumn("__cms_row", sketchRows(depth))
      .withColumn("__cms_bucket",
        bucket(col(itemCol), col("__cms_row"), width))
    (if (keys.isEmpty) probes
     else probes.crossJoin(grid.select(keyed: _*).distinct()))
      .join(broadcast(g), keyCols ++ Seq("__cms_row", "__cms_bucket"), "left")
      .groupBy(keyCols.zip(keys).map { case (c, k) => col(c).as(k) } ++
        candidates.columns.toIndexedSeq.map(col): _*)
      // a missing cell means zero occurrences hashed there → estimate 0
      .agg(min(coalesce(col("__cms_cnt"), lit(0L))).as("cms_est"))
  }

  /** The sketch rows 0 until depth, exploded: one copy of each
    * occurrence (or candidate) per row.
    */
  private def sketchRows(depth: Int): Column = {
    require(depth > 0, "depth must be positive")
    explode(sequence(lit(0), lit(depth - 1)))
  }
}
