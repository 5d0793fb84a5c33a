package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtQueries

/** The planted near-dup corpus drops each document's last 3 tokens.
  * A document of 2 tokens or fewer must truncate to nothing instead of
  * failing the query (Spark's slice throws on a negative length), and,
  * having no trigrams, must leave the near-dup results as they were.
  */
class ShortDocumentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 40 documents of 12 tokens over a 50-word vocabulary: each shares
  // token runs with its neighbours, and its truncated copy keeps 7 of
  // its 10 trigrams, so both planted and cross-document pairs exist
  private val docs = (0L until 40L).map { i =>
    val text = (0 until 12).map(k => s"w${(i * 7 + k) % 50}").mkString(" ")
    (i, text, "en", s"src_${i % 4}", text.length.toLong)
  }

  private def tablesDir(rows: Seq[(Long, String, String, String, Long)]) = {
    val dir = java.nio.file.Files.createTempDirectory("short_doc").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("a 2-token document leaves x02 and x122 unchanged instead of failing") {
    val plain = tablesDir(docs)
    val withShort = tablesDir(docs :+ ((900L, "tiny doc", "en", "src_0", 8L)))
    for (name <- Seq("x02_minhash_pairs", "x122_split_leakage")) {
      val q = ExtQueries.queries(name)
      val expected = q(spark, plain).collect().toSeq
      assert(q(spark, withShort).collect().toSeq === expected, name)
    }
    assert(ExtQueries.queries("x02_minhash_pairs")(spark, plain).count() > 0)
  }
}
