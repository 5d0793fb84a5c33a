package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{BpeMerge, Text}

/** Streaming BPE encode — the x124 tokenizer hot path made continuous:
  * documents arriving on a stream are tokenized with a FROZEN merge
  * table, the `Seq[(String, String)]` any [[BpeMerge]] trainer returns
  * (train once offline, freeze).
  *
  * The StreamBloom discipline: the trained state is k (a, b) string
  * pairs of driver state regardless of training-corpus size, and the
  * per-row work is [[BpeMerge.encode]], the same single native
  * expression the batch queries use — a PURE NARROW MAP with no join,
  * no shuffle, no watermark and no state store, whatever the rule
  * count. So the encode gate composes with any downstream streaming op
  * without adding a stateful stage, and stream output is row-identical
  * to the batch encode of the same rows no matter how arrival is
  * micro-batched (StreamBpeSpec pins it, md5 of the full token stream
  * included).
  */
object StreamBpe {

  /** Tokenize + encode `textCol` under the frozen rules; adds `toks`,
    * `n_tokens`, and `tokens_md5` (the x124 fingerprint columns).
    */
  def encoded(df: DataFrame, textCol: String,
      rules: Seq[(String, String)]): DataFrame =
    BpeMerge.encode(
      df.withColumn("toks", Text.tokens(col(textCol))), rules)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("tokens_md5", md5(array_join(col("toks"), " ")))
}
