package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Retrieval

/** The shared retrieval arithmetic (ext/Retrieval) against the textbook
  * formulas it replaces with exact-integer forms.
  */
class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (tf, df, dl, n_docs, total_dl): short and long docs against average
  // lengths 5..1000, rare to half-corpus terms, tf up to 100
  private val grid: Seq[(Long, Long, Long, Long, Long)] = for {
    tf <- Seq(1L, 2L, 3L, 5L, 8L, 20L, 100L)
    df <- Seq(1L, 2L, 10L, 99L, 500L)
    dl <- Seq(1L, 10L, 40L, 1000L)
    n <- Seq(1000L, 100000L)
    avgDl <- Seq(5L, 40L, 1000L)
    if df <= n
  } yield (tf, df, dl, n, avgDl * n)

  /** Lucene-form BM25, all doubles: k1 = 1.2, b = 0.75,
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)); returns (idf, tf part).
    */
  private def textbook(tf: Long, df: Long, dl: Long, n: Long,
      totalDl: Long): (Double, Double) = {
    val (k1, b) = (1.2, 0.75)
    val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    val avgDl = totalDl.toDouble / n
    (idf, tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgDl)))
  }

  test("bm25TermE6 matches the textbook double BM25 in micro-units") {
    val scored = grid.toDF("tf", "df", "dl", "n_docs", "total_dl")
      .withColumn("sc_e6", Retrieval.bm25TermE6)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(scored.length === grid.length)
    scored.foreach { case (tf, df, dl, n, tot, sc) =>
      val (idf, part) = textbook(tf, df, dl, n, tot)
      val clue = s"tf=$tf df=$df dl=$dl N=$n T=$tot sc_e6=$sc"
      // with idf quantized the same way, the exact-integer rational
      // equals the double tf part up to the final rounding
      val idf6 = BigDecimal(idf).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      assert(math.abs(sc - idf6 * part * 1e6) <= 1.0, clue)
      // against the unquantized idf: round(idf, 6) moves it by ≤ 5e-7,
      // scaled by the tf part (< k1 + 1), plus the final rounding
      assert(math.abs(sc - idf * part * 1e6) <= 0.5 + 0.5 * part + 1e-6, clue)
    }
  }

  test("rrfTerm is 10^9 div (60 + rank); a null rank adds 0") {
    val ranks = Seq[Option[Long]](Some(1L), Some(2L), Some(7L), Some(50L),
      Some(940L), Some(999999L), None)
    val got = ranks.toDF("r")
      .select(col("r"), Retrieval.rrfTerm("r").as("rrf"))
      .as[(Option[Long], Long)].collect().toSeq
    assert(got === ranks.map(r => (r, r.fold(0L)(k => 1000000000L / (60L + k)))))
    assert(got.head._2 === 16393442L) // 10^9 div 61
    val fused = Seq[(Option[Long], Option[Long])](
        (Some(1L), Some(3L)), (Some(4L), None), (None, Some(2L)))
      .toDF("r_sparse", "r_dense")
      .select(Retrieval.rrfTerm("r_sparse") + Retrieval.rrfTerm("r_dense"))
      .as[Long].collect().toSeq
    assert(fused === Seq(1000000000L / 61 + 1000000000L / 63,
      1000000000L / 64, 1000000000L / 62))
  }
}
