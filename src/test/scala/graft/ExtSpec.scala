package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Dedup, MultiModal, Similarity, Text}

class ExtSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- Text primitives ----

  test("wordShingles: trigrams of a known sentence, distinct, empty under 3 tokens") {
    val df = Seq("a b c d", "x y").toDF("text")
      .select(Text.wordShingles(Text.tokens(col("text"))).as("s"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq.empty)
  }

  test("stopwordRatio and typeTokenRatio on a known doc") {
    val df = Seq("the cat the cat runs").toDF("text")
      .select(
        Text.stopwordRatio(Text.tokens(col("text"))).as("sr"),
        Text.typeTokenRatio(Text.tokens(col("text"))).as("ttr"))
    val r = df.head()
    assert(r.getDouble(0) == 0.4) // "the" twice of 5 tokens
    assert(r.getDouble(1) == 0.6) // {the, cat, runs} of 5
  }

  test("rollingFingerprint is order-sensitive; simhash16 is order-insensitive") {
    val df = Seq("alpha beta gamma", "gamma beta alpha").toDF("text")
      .withColumn("toks", Text.tokens(col("text")))
      .withColumn("dtoks", array_distinct(col("toks")))
      .withColumn("ms", Text.md5Array("dtoks"))
      .select(Text.rollingFingerprint("toks").as("fp"),
        Text.simhash16("ms").as("sh"))
    val rows = df.collect()
    assert(rows(0).getLong(0) != rows(1).getLong(0)) // rolling: order matters
    assert(rows(0).getLong(1) == rows(1).getLong(1)) // simhash: set semantics
    assert(rows(0).getLong(1) >= 0 && rows(0).getLong(1) < 65536)
  }

  // ---- Dedup ----

  test("exactDedup keeps the lowest id per identical text") {
    val df = Seq((1L, "same text"), (5L, "same text"), (3L, "other"))
      .toDF("id", "text")
    val kept = Dedup.exactDedup(df, "text", "id")
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("nearDupPairs surfaces identical shingle sets, never self-pairs") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"), // identical → all bands collide
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")) // disjoint → no collision
      .toDF("doc_id", "text")
      .select(col("doc_id"), Text.wordShingles(Text.tokens(col("text"))).as("s"))
    val pairs = Dedup.nearDupPairs(df, "doc_id", "s")
      .select(col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("native WordShingles equals the HOF reference formulation") {
    val t = Tables(spark, "/root/testdata/sf0.001", "documents").limit(200)
      .select(Text.tokens(col("text")).as("t"))
    val both = t.select(
      Text.wordShingles(col("t")).as("native"),
      Text.wordShinglesHof(col("t")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
  }

  test("native MinHashSignature equals the HOF reference formulation") {
    val sh = Tables(spark, "/root/testdata/sf0.001", "documents").limit(100)
      .select(Text.wordShingles(Text.tokens(col("text"))).as("s"))
    val both = sh.select(
      Dedup.minhashSignature(col("s"), 12).as("native"),
      Dedup.minhashSignatureHof(col("s"), 12).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).isEmpty)
    val sig = both.select(col("native")).head().getSeq[String](0)
    assert(sig.length == 12 && sig.forall(_.length == 8))
  }

  test("jaccard: known overlap") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(df.head().getDouble(0) == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  // ---- Similarity ----

  test("cosine: orthogonal → 0, parallel → 1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(2.0, 4.0)))
      .toDF("a", "b")
      .select(round(Similarity.cosine(col("a"), col("b")), 9).as("c"))
    val c = df.as[Double].collect()
    assert(c(0) == 0.0 && c(1) == 1.0)
  }

  test("native CosineSimilarity: bit-identical to the HOF fold, null-safe") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
      .select(Similarity.toDoubleArray(col("embedding")).as("v"), col("vec_id"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.v"), col("b.v")).as("native"),
        Similarity.cosineHof(col("a.v"), col("b.v")).as("hof"))
    // exact double equality — the generated loop must reproduce the
    // HOF fold bit for bit, or the oracle would drift
    assert(pairs.filter(col("native") =!= col("hof")).isEmpty)

    val edge: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)), // length mismatch
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0))) // null element
    val df = edge.toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("native DotProduct: bit-identical to the HOF fold, null-safe") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
      .select(Similarity.toDoubleArray(col("embedding")).as("v"), col("vec_id"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("native"),
        Similarity.dotHof(col("a.v"), col("b.v")).as("hof"))
    assert(pairs.filter(col("native") =!= col("hof")).isEmpty)

    val edge: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)), // length mismatch
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0))) // null element
    val df = edge.toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("c"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("native SquaredDistance: bit-identical to the HOF fold, null-safe") {
    import graft.ext.KMeansLite
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
      .select(Similarity.toDoubleArray(col("embedding")).as("v"), col("vec_id"))
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        KMeansLite.dist2(col("a.v"), col("b.v")).as("native"),
        KMeansLite.dist2Hof(col("a.v"), col("b.v")).as("hof"))
    // exact double equality — same sequential left fold, or the
    // k-means/kNN oracles would drift
    assert(pairs.filter(col("native") =!= col("hof")).isEmpty)

    val edge: Seq[(Seq[java.lang.Double], Seq[java.lang.Double])] = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)), // length mismatch
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0))) // null element
    val df = edge.toDF("a", "b")
      .select(KMeansLite.dist2(col("a"), col("b")).as("c"))
    assert(df.collect().forall(_.isNullAt(0)))
  }

  test("signBucket: positively-scaled copies share a bucket") {
    val v = (0 until 64).map(i => math.sin(i + 1.0))
    val df = Seq(v, v.map(_ * 1.02)).toDF("v")
      .select(Similarity.signBucket(col("v"), 8, 64).as("b"))
    val buckets = df.as[Long].collect()
    assert(buckets(0) == buckets(1))
    assert(buckets(0) >= 0 && buckets(0) < 256)
  }

  test("k-means-lite: inertia is monotone non-increasing, cells well-formed") {
    import graft.ext.KMeansLite
    val vecs = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("v"))
    val seed = KMeansLite.fit(vecs, "vec_id", "v", k = 8, iters = 0)
    val i0 = KMeansLite.inertia(vecs, "v", seed)
    val trained = KMeansLite.fit(vecs, "vec_id", "v", k = 8, iters = 3)
    val i3 = KMeansLite.inertia(vecs, "v", trained)
    assert(i3 <= i0 * (1 + 1e-9), s"inertia rose: $i0 -> $i3") // Lloyd's never worsens
    assert(i3 < i0, "three iterations should actually improve the seed")
    val cells = vecs.select(KMeansLite.assign(col("v"), trained).as("c"))
      .distinct().as[Int].collect().toSet
    assert(cells.forall(c => c >= 0 && c < 8))
  }

  test("fitQuantized: run-to-run identical, improves the seed, decent recall") {
    import graft.ext.KMeansLite
    val vecs = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), Similarity.toDoubleArray(col("embedding")).as("v"))
    val c1 = KMeansLite.fitQuantized(vecs, "vec_id", "v", k = 8, iters = 2)
    val c2 = KMeansLite.fitQuantized(vecs, "vec_id", "v", k = 8, iters = 2)
    // bit-identical, not approximately equal — the whole point of the
    // quantized update is that no FP summation order can perturb it
    assert(c1 == c2)
    val seed = KMeansLite.fit(vecs, "vec_id", "v", k = 8, iters = 0)
    assert(KMeansLite.inertia(vecs, "v", c1) < KMeansLite.inertia(vecs, "v", seed))

    // recall@3 of the 2-probe IVF search (x16) vs brute force
    val ivf = graft.queries.ExtQueries.queries("x16_ann_kmeans")(
      spark, "/root/testdata/sf0.001")
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val e = vecs.select(col("vec_id"), col("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val brute = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .crossJoin(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(Similarity.cosine(col("qv"), col("cv")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val hits = brute.map { case (q, truth) =>
      (ivf.getOrElse(q, Set.empty) & truth).size.toDouble / truth.size
    }
    val recall = hits.sum / hits.size
    assert(recall >= 0.5, f"2-probe recall@3 too low: $recall%.2f")
  }

  test("TopK aggregator: bounded buffer, ties break to the lowest id") {
    import graft.ext.TopK
    val top2 = TopK.topK(2)
    val df = Seq(
      ("g", 0.5, 7L), ("g", 0.9, 3L), ("g", 0.9, 1L), ("g", 0.1, 2L),
      ("h", 0.2, 9L))
      .toDF("grp", "score", "id")
      .groupBy(col("grp"))
      .agg(top2(col("score"), col("id")).as("top"))
      .select(col("grp"), col("top").cast("string").as("s"))
      .orderBy(col("grp"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    // 0.9 twice → ids 1 then 3; 0.5 dropped (k=2)
    assert(rows(0) === ("g", "[{0.9, 1}, {0.9, 3}]"))
    assert(rows(1) === ("h", "[{0.2, 9}]"))
  }

  test("int8 quantization: values bounded, error within the grid, cosine held") {
    import graft.ext.Quantize
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(Similarity.toDoubleArray(col("embedding")).as("v"))
      .withColumn("scale", Quantize.int8Scale(col("v")))
      .withColumn("q", Quantize.quantize(col("v"), col("scale")))
      .withColumn("deq", Quantize.dequantize(col("q"), col("scale")))
      .select(
        array_max(transform(col("q"), x => abs(x))).as("q_max"),
        (Quantize.maxError(col("v"), col("deq")) * col("scale")).as("grid_err"),
        Similarity.cosine(col("v"), col("deq")).as("cos"))
    val rows = e.collect()
    assert(rows.forall(_.getInt(0) <= 127), "quantized values must fit int8")
    assert(rows.exists(_.getInt(0) == 127), "max element must hit full range")
    assert(rows.forall(_.getDouble(1) <= 0.5 + 1e-9),
      "error must stay within half a quantization step")
    assert(rows.forall(_.getDouble(2) >= 0.999),
      "reconstruction cosine must be ~1 for 64-dim unit-scale vectors")
  }

  test("contextSpans: chunk spans tile each shard's token stream") {
    import graft.ext.Pack
    val docs = Seq(
      (1L, "s", "en", 100L), (2L, "s", "en", 500L), (3L, "s", "en", 20L),
      (10L, "t", "en", 600L))
      .toDF("doc_id", "source", "lang", "toks")
    val out = Pack.contextSpans(docs, col("toks"), col("doc_id"),
        chunkTokens = 256, col("source"), col("lang"))
      .select("doc_id", "tok_offset", "first_chunk", "last_chunk", "n_chunks")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) === ((0L, 0L, 0L, 1L)))    // tokens 0..99 → chunk 0
    assert(out(2L) === ((100L, 0L, 2L, 3L)))  // 100..599 straddles 0,1,2
    assert(out(3L) === ((600L, 2L, 2L, 1L)))  // 600..619 → chunk 2
    assert(out(10L) === ((0L, 0L, 2L, 3L)))   // own shard restarts at 0
  }

  test("deterministic sampling: stable across runs, monotone in the keep rate") {
    import graft.ext.Sampling
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    def ids(buckets: Int): Set[Long] =
      Sampling.deterministicSample(docs, col("doc_id"), buckets)
        .select("doc_id").as[Long].collect().toSet
    val s64a, s64b = ids(64)
    assert(s64a == s64b, "same keep rate must select the same rows")
    assert(s64a.subsetOf(ids(128)), "growing the rate must only add rows")
    // ~64/256 = 25% within loose tolerance
    assert(s64a.size > 500 * 0.15 && s64a.size < 500 * 0.35)
    // split covers everything exactly once
    val split = docs.withColumn("s", Sampling.holdoutSplit(col("doc_id"), 230))
    assert(split.count() == 500)
    assert(split.filter(col("s") === "train").count() +
      split.filter(col("s") === "holdout").count() == 500)
  }

  test("approx_count_distinct (HLL sketch) within 5% of exact") {
    // Sketch aggregates can't be oracle-checked (engine-specific HLL),
    // so the accuracy contract is pinned here instead.
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val r = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      .as[(Long, Long)].head()
    assert(math.abs(r._2 - r._1).toDouble / r._1 < 0.05)
  }

  // ---- MultiModal ----

  test("featurize: deterministic stub features with correct byte math") {
    val docs = Seq((7L, "abc", 3L)).toDF("doc_id", "text", "n_chars")
    val f = MultiModal.featurize(MultiModal.packFromText(docs)).head()
    assert(f.doc_id == 7L)
    assert(f.byte_len == 3L)
    // rolling checksum of bytes 97,98,99: ((97*31)+98)*31+99
    assert(f.checksum == ((97L * 31 + 98) * 31 + 99) % 1000000007L)
    assert(f.brightness == (97 + 98 + 99).toDouble / 3 / 255.0)
    assert(f.n_frames == 4) // 1 + 3 % 4
    assert(new String(f.thumb, "UTF-8") == "a") // every 4th byte of "abc"
  }

  test("resizeStub keeps every Nth byte in order") {
    val r = MultiModal.resizeStub("abcdefghij".getBytes("UTF-8"), 3)
    assert(new String(r, "UTF-8") == "adgj")
  }

  test("featurize runs partition-batched over a real corpus slice") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents").limit(50)
    val out = MultiModal.featurize(MultiModal.packFromText(docs))
    assert(out.count() == 50)
    assert(out.filter(col("byte_len") <= 0).isEmpty)
  }
}
