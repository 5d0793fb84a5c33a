package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, Text}

/** SQL function surface: graft's native expressions registered through
  * [[GraftExtensions]] (builder-time, via TestSpark's withExtensions)
  * and [[org.apache.spark.sql.GraftFunctions]] (post-hoc) must resolve
  * from SQL text and agree with the Column-API formulations.
  */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine_similarity resolves from SQL and matches known values") {
    val r = spark.sql(
      """SELECT
        |  cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same,
        |  cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth,
        |  cosine_similarity(array(1.0D, 0.0D), array(-2.0D, 0.0D)) AS anti
        |""".stripMargin).head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === -1.0)
  }

  test("squared_distance and dot_product resolve from SQL, known values") {
    val r = spark.sql(
      """SELECT
        |  squared_distance(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d2,
        |  dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS dp,
        |  squared_distance(array(1.0D), array(1.0D, 2.0D)) AS mismatch
        |""".stripMargin).head()
    assert(r.getDouble(0) === 25.0) // 3^2 + 4^2
    assert(r.getDouble(1) === 32.0) // 4 + 10 + 18
    assert(r.isNullAt(2))
  }

  test("word_shingles and minhash_signature from SQL match the Column API") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "sphinx of black quartz judge my vow")
    ).toDF("id", "text")
    docs.createOrReplaceTempView("ext_docs")

    val viaSql = spark.sql(
      """SELECT id,
        |  minhash_signature(word_shingles(split(text, '\\s+'), 3), 12) AS sig
        |FROM ext_docs ORDER BY id""".stripMargin)
    val viaApi = docs
      .select(col("id"),
        Dedup.minhashSignature(
          Text.wordShingles(split(col("text"), "\\s+")), 12).as("sig"))
      .orderBy(col("id"))
    assert(viaSql.collect().toSeq === viaApi.collect().toSeq)
  }

  test("DESCRIBE FUNCTION knows the injected functions") {
    val desc = spark.sql("DESCRIBE FUNCTION cosine_similarity")
      .as[String].collect().mkString("\n")
    assert(desc.contains("cosine_similarity"))
  }

  test("sized arguments reject non-literal values") {
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_signature(array('a'), CAST(rand() * 4 AS INT))")
        .collect()
    }
    assert(e.getMessage.contains("INT literal"))
  }

  test("ensureRegistered is idempotent and covers bare sessions") {
    // the shared session already has the functions via withExtensions;
    // a second ensureRegistered must not throw or double-register
    org.apache.spark.sql.GraftFunctions.ensureRegistered(spark)
    org.apache.spark.sql.GraftFunctions.ensureRegistered(spark)
    assert(spark.sql("SELECT cosine_similarity(array(3.0D), array(2.0D))")
      .head().getDouble(0) === 1.0)
  }

  // source-text guards (the CodecContractSpec pattern) read the main
  // tree as text
  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil
  private def text(f: java.io.File): String = {
    val s = scala.io.Source.fromFile(f, "UTF-8")
    try s.mkString finally s.close()
  }

  test("every tool session is built by GraftSession, with the extensions") {
    // a main that builds its own session drifts from the shared recipe
    val builders = sources(new java.io.File("src/main"))
      .filter(f => text(f).contains("SparkSession.builder")).map(_.getName)
    assert(builders === Seq("GraftSession.scala"))
    assert(text(new java.io.File("src/main/scala/graft/GraftSession.scala"))
      .contains("withExtensions(new GraftExtensions)"))
  }

  /** "File.scala:line" for every line under src/main matching `pattern`. */
  private def hits(pattern: scala.util.matching.Regex): Seq[String] =
    sources(new java.io.File("src/main")).flatMap { f =>
      text(f).linesIterator.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined =>
          s"${f.getName}:${i + 1}"
      }
    }

  test("BM25 and RRF live only in ext/Retrieval; no truncation is unclamped") {
    // a second copy of a scoring formula drifts from the first, and the
    // batch/stream row identity StreamRetrieveSpec pins goes with it
    val bm25 = hits("""\* 44L \*""".r)
    val rrf = hits("""1000000000 div \(60 \+""".r)
    // slice(toks, 1, size(toks) - 3) throws on a ≤2-token document and
    // slice(tk, 1, size(tk) - 1) on an empty one; every truncation
    // clamps the length at 0
    val unclamped = hits(
      """(?<!greatest\()size\(\w+\) - 3|slice\(\w+, lit\(\d\), size\(\w+\) - 1""".r)
    assert(bm25.nonEmpty && rrf.nonEmpty)
    val strays = (bm25 ++ rrf).filterNot(_.startsWith("Retrieval.scala:")) ++
      unclamped
    assert(strays.isEmpty, strays.mkString(", "))
  }

  test("window bounds, the CMS cell explode and the binning live once") {
    // a stream module that projects its own window, or a second copy of
    // a sketch technique, drifts from the batch form, and with it the
    // stream ≡ batch identity PropertySpec pins
    val windowBounds = hits("""window\.start""".r)
      .filterNot(h => h.startsWith("Windowed.scala:") ||
        h.startsWith("DailyRollup.scala:"))
    val cmsExplode = hits("""explode\(sequence\(lit\(0\), lit\(depth - 1\)\)\)""".r)
    val binning = hits("""div \$binWidth""".r)
    val strays = windowBounds.map("window bounds outside the driver: " + _) ++
      (if (cmsExplode.size == 1) Nil
       else Seq(s"CMS cell explode ×${cmsExplode.size}: ${cmsExplode.mkString(", ")}")) ++
      (if (binning.size == 1) Nil
       else Seq(s"binning ×${binning.size}: ${binning.mkString(", ")}"))
    assert(strays.isEmpty, strays.mkString("; "))
  }

  test("a BPE merge rule is applied only by BpeMerge.encode") {
    // a second rewrite of a merge rule drifts from the first, and the
    // stream ≡ batch identity StreamBpeSpec pins goes with it: rules are
    // (a, b) data, never a frame joined into the corpus
    val builders = hits("""BpeEncodeRules\(""".r)
      .filterNot(h => h.startsWith("BpeMerge.scala:") ||
        h.startsWith("BpeEncodeRules.scala:"))
    val ruleFrames = hits("""col\("m[ab]"\)|lit\(true\), "left"""".r)
    // a merged symbol a_b assembled by a Spark expression
    val sparkMerges = hits("""lit\("_"\)""".r)
    val strays = builders.map("BpeEncodeRules built outside BpeMerge: " + _) ++
      ruleFrames.map("rule frame: " + _) ++
      sparkMerges.map("Spark-side merge: " + _)
    assert(strays.isEmpty, strays.mkString("; "))
  }

  test("hand-partitioned RDD loops live only in ext/GraphRounds") {
    // a second graph-round loop drifts from the first's unpersist
    // discipline — x70's inline copy leaked its adjacency
    val strays = sources(new java.io.File("src/main"))
      .filter(f => "HashPartitioner|zipPartitions|reduceByKey".r
        .findFirstIn(text(f)).isDefined)
      .map(_.getName)
    assert(strays === Seq("GraphRounds.scala"))
  }

  test("registry queries read tables only through Tables") {
    // a direct read would skip the declared schema and start a
    // footer-inference job while the query is being built
    val strays = sources(new java.io.File("src/main/scala/graft/queries"))
      .filter(f => """\.read\b""".r.findFirstIn(text(f)).isDefined)
      .map(_.getName)
    assert(strays.isEmpty, strays.mkString(", "))
  }
}
