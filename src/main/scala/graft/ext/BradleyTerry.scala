package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bradley–Terry preference aggregation via Hunter (2004)'s MM
  * iteration — the aggregation step of RLHF / preference-data
  * curation: turn noisy pairwise "A beats B" judgments into per-item
  * strengths s_i with p(i beats j) = s_i / (s_i + s_j).
  *
  * MM update (Hunter 2004, eq. 3): s_i' = W_i / Σ_j n_ij/(s_i + s_j),
  * here in EXACT integer e6/e12 units — each pair's denominator
  * contribution is one integer division and the per-item denominator
  * is an order-free integer sum, so every round's strengths are
  * bit-identical across engines and partitionings with NO libm call
  * anywhere (stronger than the round(·,6) quantization discipline the
  * float operators use). Two standard regularizations keep the
  * iteration total: a +1-win ghost game against a strength-1 opponent
  * (the MAP prior keeping zero-win items finite) and a strength floor
  * of 1 micro-unit (making the e12 divisions total even in degenerate
  * tournaments).
  *
  * Scale shape: callers aggregate the corpus-sized judgment stream
  * into the items²-bounded pair table ONCE (map-side combined); every
  * MM round then touches only that pair table plus item-sized
  * broadcasts — the corpus is never re-read. BT is invariant to scaling all (n_ij, W_i) by a
  * common factor, so when judgment counts approach the e12 overflow
  * guard the pair table is divided down, never re-derived.
  */
object BradleyTerry {

  /** MM-fit strengths from a canonical pair table
    * `(lo, hi, n, w_lo)` with lo < hi, n = games, w_lo = lo's wins.
    * Returns `(item, games, wins, s_e6)` — one row per item appearing
    * in any pair.
    */
  def fit(pairs0: DataFrame, iters: Int): DataFrame = {
    val pairs = pairs0
      // overflow guard (the x78/x91 discipline): the e12 lift needs
      // n ≤ Long.Max/1e12 per pair — both engines refuse together
      .filter(coalesce(assert_true(col("n") <= 9000000L,
        lit("BradleyTerry: per-pair game count overflows the e12 " +
          "integer lift — divide the pair table down first")),
        lit(true)))
      .localCheckpoint()
    val items = pairs.select(explode(array(
        struct(col("lo").as("item"), col("w_lo").as("w"), col("n")),
        struct(col("hi").as("item"), (col("n") - col("w_lo")).as("w"),
          col("n")))).as("e"))
      .select(col("e.item").as("item"), col("e.w").as("w"),
        col("e.n").as("n"))
      .groupBy(col("item"))
      .agg(sum(col("w")).as("wins"), sum(col("n")).as("games"))
      .localCheckpoint()
    var strengths = items.select(col("item"), lit(1000000L).as("s_e6"))
    for (_ <- 1 to iters) {
      val sb = broadcast(strengths)
      val dsum = pairs
        .join(sb.select(col("item").as("lo"), col("s_e6").as("s_lo")),
          "lo")
        .join(sb.select(col("item").as("hi"), col("s_e6").as("s_hi")),
          "hi")
        .withColumn("d", expr("(n * 1000000000000) div (s_lo + s_hi)"))
        .select(explode(array(
          struct(col("lo").as("item"), col("d")),
          struct(col("hi").as("item"), col("d")))).as("e"))
        .select(col("e.item").as("item"), col("e.d").as("d"))
        .groupBy(col("item")).agg(sum(col("d")).as("dsum"))
      strengths = items
        .join(dsum, Seq("item"), "left")
        .join(sb, "item")
        .select(col("item"),
          expr("greatest(((wins + 1) * 1000000000000) div " +
            "(coalesce(dsum, CAST(0 AS BIGINT)) + " +
            "(2000000000000 div (s_e6 + 1000000))), " +
            "CAST(1 AS BIGINT))").as("s_e6"))
        .localCheckpoint()
    }
    items.join(strengths, "item")
      .select(col("item"), col("games"), col("wins"), col("s_e6"))
  }
}
