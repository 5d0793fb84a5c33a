package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{BpeMerge, Text}

/** BPE merge rules as data: the three trainers (recount, fast, one-pass
  * ranking) and the one encoder, checked against each other, against
  * the higher-order-function reference rewrite [[BpeHof]], and on
  * hand-computed fixtures — the properties the DuckDB oracles of
  * x74/x92/x103/x124 cannot state directly.
  */
class BpeMergeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables(spark, dir, "documents")
    .select(col("doc_id"), Text.tokens(col("text")).as("toks"))

  private def toksById(df: DataFrame): Map[Long, Seq[String]] =
    df.select($"doc_id", $"toks").as[(Long, Seq[String])].collect().toMap

  // ---- merge policies: allowIdentical=true merges (a, a) pairs with
  // real BPE's deterministic left-greedy rule ---------------------------

  private def runs = Seq(
    (1L, Seq("x", "x", "x", "x", "x")),
    (2L, Seq("x", "x", "x", "x")),
    (3L, Seq("y", "x", "x", "y", "x"))).toDF("doc_id", "toks")

  test("BpeMerge allowIdentical=true: left-greedy rewrite inside runs") {
    // adjacency counts (overlaps included): (x,x) = 4 + 3 + 1 = 8 wins
    val rules = BpeMerge.trainPairs(runs, rounds = 1, allowIdentical = true)
    assert(rules === Seq(("x", "x")))
    val out = toksById(BpeMerge.encode(runs, rules))
    // L=5: floor(5/2)=2 merges + lone trailing x
    assert(out(1L) == Seq("x_x", "x_x", "x"))
    // L=4: clean pairing
    assert(out(2L) == Seq("x_x", "x_x"))
    // runs bounded by non-a tokens; the lone final x stays single
    assert(out(3L) == Seq("y", "x_x", "y", "x"))
  }

  test("BpeMerge allowIdentical=false on the same corpus picks an a!=b pair") {
    // with (x,x) excluded the winner is (y,x): doc3 positions (1,2),(4,5)
    val rules = BpeMerge.trainPairs(runs, rounds = 1, allowIdentical = false)
    assert(rules === Seq(("y", "x")))
    val out = toksById(BpeMerge.encode(runs, rules))
    assert(out(1L) == Seq("x", "x", "x", "x", "x"), "no (y,x) in doc 1")
    assert(out(3L) == Seq("y_x", "x", "y_x"))
  }

  // ---- encode: training order, any corpus -----------------------------

  test("x85 round trip: encode(train corpus) == training's own rewrites") {
    val train = docs.filter(col("doc_id") % 10 === 0)
    val rules = BpeMerge.trainPairs(train, rounds = 3)
    assert(rules.size === 3)
    val enc = BpeMerge.encode(train, rules)
      .select(col("doc_id"), col("toks").as("e"))
    // training's rewrites, one round at a time, in the reference form
    val trained = rules.foldLeft(train)((d, r) => BpeHof.encode(d, Seq(r)))
      .select(col("doc_id"), col("toks").as("t"))
    val joined = enc.join(trained, "doc_id").cache()
    assert(joined.count() === train.count())
    assert(joined.filter(col("e") =!= col("t")).count() === 0,
      "applying the trained rules in training order must reproduce " +
        "the trained corpus row for row")
    joined.unpersist()
  }

  test("encode covers the full corpus, not just the training subset") {
    // the retired-x85 form; x124 is the registered depth anchor
    val rules = BpeMerge.trainPairs(
      docs.filter(col("doc_id") % 10 === 0), rounds = 3)
    val out = BpeMerge.encode(docs, rules)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens")).cache()
    assert(out.count() === docs.count())
    // encoding can only shorten (each merge fuses two tokens into one)
    val before = docs.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_before"))
    assert(out.join(before, "doc_id")
      .filter(col("n_tokens") > col("n_before")).count() === 0)
    out.unpersist()
  }

  test("encode applies the left-greedy run rule to documents training never saw") {
    val train = Seq((1L, "b a a a a a b"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    // adjacency counts: (a,a)=4 beats (b,a)=1 and (a,b)=1
    val rules = BpeMerge.trainPairs(train, rounds = 1, allowIdentical = true)
    val unseen = Seq((2L, "a a a"), (3L, "c a a a a c"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val got = toksById(BpeMerge.encode(unseen, rules))
    assert(got(2L) === Seq("a_a", "a"))
    assert(got(3L) === Seq("c", "a_a", "a_a", "c"))
  }

  test("native encode == the HOF reference rewrite bit for bit") {
    // real corpus, trained rules — both merge policies
    val corpus = docs.localCheckpoint()
    for (allowIdentical <- Seq(false, true)) {
      val rules = BpeMerge.trainPairs(corpus, rounds = 3, allowIdentical)
      assert(rules.size === 3)
      val hof = toksById(BpeHof.encode(corpus, rules, allowIdentical))
      val native = toksById(BpeMerge.encode(corpus, rules))
      assert(native === hof, s"allowIdentical=$allowIdentical")
    }
    // deeper one-pass rule table (the serve-form vocabulary)
    val deep = BpeMerge.topPairs(corpus, 25)
    assert(deep.size === 25)
    assert(toksById(BpeMerge.encode(corpus, deep)) ===
      toksById(BpeHof.encode(corpus, deep)))
    // identical-halves left-greedy run rule, hand-computed, and the
    // reference's run form agrees
    val fixture = Seq((1L, Seq("a", "a", "a", "a", "a")),
      (2L, Seq("x", "a", "a", "x", "a"))).toDF("doc_id", "toks")
    val want = Map(1L -> Seq("a_a", "a_a", "a"),
      2L -> Seq("x", "a_a", "x", "a"))
    assert(toksById(BpeMerge.encode(fixture, Seq("a" -> "a"))) === want)
    assert(toksById(BpeHof.encode(fixture, Seq("a" -> "a"),
      allowIdentical = true)) === want)
  }

  test("encode with an empty rule list is the identity") {
    val df = Seq(
      (1L, Seq("a", "b", "a", "b")),
      (2L, Seq("x"))).toDF("doc_id", "toks")
    assert(toksById(BpeMerge.encode(df, Nil)) ===
      Map(1L -> Seq("a", "b", "a", "b"), 2L -> Seq("x")))
    // a corpus with no adjacent pairs at all trains no rule, and
    // encode() under that survives end to end
    val singles = Seq((1L, Seq("x")), (2L, Seq("y"))).toDF("doc_id", "toks")
    for (allowIdentical <- Seq(false, true)) {
      val rules = BpeMerge.trainPairs(singles, rounds = 1, allowIdentical)
      assert(rules.isEmpty)
      assert(toksById(BpeMerge.encode(singles, rules)) ===
        Map(1L -> Seq("x"), 2L -> Seq("y")))
    }
  }

  test("every trainer and encode accept an empty token array and a null row") {
    val df = Seq[(Long, Option[Seq[String]])](
      (1L, Some(Seq("a", "b", "a", "b"))), (2L, Some(Nil)), (3L, None))
      .toDF("doc_id", "toks")
    val types = BpeMerge.typeTable(df.select($"toks"))
    // under a ≠ b the corpus runs out after (a,b): "a_b a_b" pairs
    // identical halves only
    assert(BpeMerge.trainPairs(df, rounds = 3) === Seq(("a", "b")))
    assert(BpeMerge.trainFast(types, rounds = 3) === Seq(("a", "b")))
    val deeper = Seq(("a", "b"), ("a_b", "a_b"))
    assert(BpeMerge.trainPairs(df, rounds = 3, allowIdentical = true) === deeper)
    assert(BpeMerge.trainFast(types, rounds = 3, allowIdentical = true) === deeper)
    // (a,b) twice, (b,a) once
    assert(BpeMerge.topPairs(df, 3) === Seq(("a", "b"), ("b", "a")))
    val got = BpeMerge.encode(df, deeper)
      .select($"doc_id", $"toks").as[(Long, Option[Seq[String]])]
      .collect().toMap
    assert(got === Map(1L -> Some(Seq("a_b_a_b")), 2L -> Some(Nil), 3L -> None))
    assert(toksById(BpeHof.encode(df.filter($"doc_id" === 2L), deeper)) ===
      Map(2L -> Nil))
  }

  // ---- the fast trainer ----------------------------------------------

  test("trainFast rule sequence == recount trainPairs (both policies)") {
    val corpus = docs.localCheckpoint()
    for (allowIdentical <- Seq(false, true)) {
      val slow = BpeMerge.trainPairs(corpus, rounds = 8, allowIdentical)
      val fast = BpeMerge.trainFast(BpeMerge.typeTable(corpus.select($"toks")),
        rounds = 8, allowIdentical)
      assert(slow.size === 8)
      assert(fast === slow, s"allowIdentical=$allowIdentical")
    }
  }

  test("trainFast: counts invariant, tie order, weights, exhaustion") {
    // maintained counts == a fresh recount of the maintained types,
    // after enough rounds for several delta folds
    val corpus = Seq(
      Seq("a", "b", "c", "a", "b"), Seq("b", "c", "a", "b", "c"),
      Seq("a", "a", "a", "b"), Seq("c", "c", "b", "a", "b", "c"),
      Seq("a", "b"), Seq("a", "b"), Seq("b", "c", "b", "c"))
      .toDF("toks")
    for (allowIdentical <- Seq(false, true)) {
      val (_, types, counts) = BpeMerge.trainFastState(
        BpeMerge.typeTable(corpus), rounds = 5, allowIdentical)
      val maintained = counts.as[(String, Long)].collect().toMap
      val recounted = BpeMerge.pairCounts(types, allowIdentical)
        .as[(String, Long)].collect().toMap
      assert(maintained === recounted, s"allowIdentical=$allowIdentical")
    }

    // count ties break to the packed-string minimum in BOTH trainers:
    // (a,b) and (b,a) each occur twice; "ab" < "ba"
    val tied = Seq(Seq("a", "b"), Seq("a", "b"),
      Seq("b", "a"), Seq("b", "a")).toDF("toks")
    val tiedDocs = tied.withColumn("doc_id", monotonically_increasing_id())
    val slowTied = BpeMerge.trainPairs(tiedDocs, rounds = 1)
    val fastTied = BpeMerge.trainFast(BpeMerge.typeTable(tied), rounds = 1)
    assert(slowTied === Seq(("a", "b")))
    assert(fastTied === slowTied)

    // the type table carries multiplicities, not copies
    val tt = BpeMerge.typeTable(
      Seq(Seq("x", "y"), Seq("x", "y"), Seq("x", "y"), Seq("y", "x"))
        .toDF("toks")).as[(Seq[String], Long)].collect().toMap
    assert(tt === Map(Seq("x", "y") -> 3L, Seq("y", "x") -> 1L))

    // an exhausting corpus: both trainers stop at the available merges
    // and encode() under them is exact
    val tiny = Seq(Seq("p", "q")).toDF("toks")
    val tinyDocs = tiny.withColumn("doc_id", lit(1L))
    val fastRules = BpeMerge.trainFast(BpeMerge.typeTable(tiny), rounds = 3)
    val slowRules = BpeMerge.trainPairs(tinyDocs, rounds = 3)
    assert(fastRules === Seq(("p", "q")))
    assert(slowRules === fastRules)
    val enc2 = BpeMerge.encode(tinyDocs, fastRules)
      .select($"toks").as[Seq[String]].collect().toSeq
    assert(enc2 === Seq(Seq("p_q")))
  }
}
