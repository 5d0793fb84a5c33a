package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Retrieval scoring shared by the batch rankers (x94 BM25, x97 hybrid
  * RRF, x108 retrieval eval) and [[graft.streaming.StreamRetrieve]] —
  * one definition, so the serving path scores bit for bit like the
  * batch queries (the sharing [[Drift]] does for x54/StreamDrift).
  * Each caller keeps its own postings joins and ranking windows; only
  * the per-row arithmetic lives here.
  */
object Retrieval {

  /** BM25 term score (Robertson/Sparck Jones weighting, Lucene "+1"
    * idf; k1 = 1.2, b = 0.75) in integer micro-units, engineered for
    * cross-engine bit-identity:
    *  - idf = round(ln((N−df+0.5)/(df+0.5)+1), 6) — the one libm call,
    *    quantized BEFORE use (the x32 discipline);
    *  - the tf/length part is an EXACT INTEGER rational — with
    *    k1 = 6/5, b = 3/4: tf·(k1+1)/(tf + k1·(1−b+b·dl·N/T)) ==
    *    44·tf·T / (20·tf·T + 6·T + 18·dl·N);
    *  - so the only doubles are one IEEE division of exact int64s and
    *    the idf product, and per-term scores land as integer
    *    micro-units that SUM ASSOCIATIVELY.
    * The idf quantization bounds the distance to the unquantized double
    * form at 0.5·(1 + tf part) micro-units, under 1.6 (RetrievalSpec).
    * int64 headroom: 44·tf·T needs tf·T < 2^57 — at 100 TB split the
    * corpus or drop to the log-sum form (the x78 note).
    *
    * Reads the scoring frame's long columns: `tf` (occurrences of the
    * term in the document), `df` (documents containing the term), `dl`
    * (document length in tokens), `n_docs` (N) and `total_dl` (T).
    */
  def bm25TermE6: Column = {
    val (tf, df, dl) = (col("tf"), col("df"), col("dl"))
    val (nDocs, totalDl) = (col("n_docs"), col("total_dl"))
    val idf6 = round(log((nDocs - df + 0.5) / (df + 0.5) + 1.0), 6)
    val num = tf * 44L * totalDl
    val den = tf * 20L * totalDl + totalDl * 6L + dl * 18L * nDocs
    floor(idf6 * (num.cast("double") / den.cast("double")) * 1e6 + 0.5)
      .cast("long")
  }

  /** One leg's Reciprocal Rank Fusion term (Cormack/Clarke/Buettcher
    * 2009) in exact integer units: 10^9 div (60 + rank), integer
    * division in both engines, so the fused ordering never touches a
    * float. A null rank (the leg did not return the document) adds 0.
    */
  def rrfTerm(rankCol: String): Column =
    coalesce(expr(s"1000000000 div (60 + $rankCol)"), lit(0L))
}
