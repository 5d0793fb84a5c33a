package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Shards
import graft.streaming.StreamShards

/** Round-12 hardening pins:
  *  - Shards prefix-length invariance: the 2-level bucketed rank
  *    slices ONE total order, so 16^k bucket fan-outs at k = 1/2/3
  *    produce bit-identical (shard, position) assignments — the claim
  *    Shards.scala made for 100 TB fan-out, previously untested.
  *  - StreamShards manifest commit: a batch is committed only by its
  *    post-data manifest; a PARTIAL batch (data on disk, no manifest —
  *    a crash mid-write) is cleaned and rewritten on retry instead of
  *    being mistaken for a committed one (round-12 advice, medium).
  *  - GraftCheckpoint.unpersistCheckpoint frees what
  *    Dataset.unpersist cannot.
  * (The round's BPE tests live in BpeMergeSpec.)
  */
class RoundTwelveSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Shards.assign is prefixLen-invariant (k=1,2,3 bit-identical)") {
    val docs = (1L to 977L).toDF("doc_id")
    def m(k: Int) = Shards.assign(docs, col("doc_id"),
        docsPerShard = 37, seed = 11, prefixLen = k)
      .select($"doc_id", $"skey", $"shard", $"position")
      .as[(Long, String, Long, Long)].collect().toSet
    val k2 = m(2)
    assert(k2.size === 977)
    assert(m(1) === k2)
    assert(m(3) === k2)
    // dense fixed-size shards under every k
    assert(k2.map(_._3).max === 977 / 37)
  }

  test("StreamShards: partial batch (no manifest) is cleaned and rewritten") {
    val out = java.nio.file.Files
      .createTempDirectory("shards_manifest").toString
    // batch 0 commits normally
    val n0 = StreamShards.appendBatch(
      (1L to 25L).toDF("doc_id"), 0L, "doc_id", out,
      docsPerShard = 10, seed = 7)
    assert(n0 === 25L)
    assert(StreamShards.committedMaxShard(out) === 2L)
    val committed = spark.read.parquet(out)
      .select($"doc_id", $"shard".cast("long"), $"position")
      .as[(Long, Long, Long)].collect().toSet

    // simulate a crash mid-batch-1: data landed, manifest did NOT —
    // write batch-1 shards directly through Shards, bypassing the
    // manifest protocol (this is what a died foreachBatch leaves)
    val partial = Shards.assign(
      (26L to 31L).toDF("doc_id").withColumn("_batch_id", lit(1L)),
      col("doc_id"), 10, 7, rankOffset = 30L)
    Shards.write(partial, out, append = true)
    assert(spark.read.parquet(out).count() === 31)

    // retry of batch 1 with DIFFERENT (full) content: the partial
    // shard dirs are garbage-collected, the full batch lands fresh
    val n1 = StreamShards.appendBatch(
      (26L to 40L).toDF("doc_id"), 1L, "doc_id", out,
      docsPerShard = 10, seed = 7)
    assert(n1 === 15L)
    val all = spark.read.parquet(out)
      .select($"doc_id", $"shard".cast("long"), $"position")
      .as[(Long, Long, Long)].collect().toSet
    assert(all.size === 40)               // no partial leftovers
    assert(committed.subsetOf(all))       // shipped rows immutable
    assert((all -- committed).map(_._2).min === 3L) // fresh shards only

    // replay of the now-committed batch 1 is a no-op
    val n1r = StreamShards.appendBatch(
      (26L to 40L).toDF("doc_id"), 1L, "doc_id", out,
      docsPerShard = 10, seed = 7)
    assert(n1r === 0L)
    assert(spark.read.parquet(out).count() === 40)
  }

  test("unpersistCheckpoint frees a localCheckpoint; Dataset.unpersist does not") {
    // BpeMerge.trainFast's failure path frees an orphaned round frame
    // this way
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    // ids only: the context cleaner may drop older RDDs meanwhile
    def added = sc.getPersistentRDDs.keySet -- baseline
    val ck = (1 to 100).toDF("v").localCheckpoint()
    assert(added.size === 1)
    ck.unpersist() // the cache manager never saw this RDD
    assert(added.size === 1)
    org.apache.spark.sql.GraftCheckpoint.unpersistCheckpoint(ck)
    assert(added.isEmpty)
  }

  test("native ArrayIntersectSize == size(array_intersect) bit for bit") {
    import graft.ext.{Dedup, Text}
    // real shingle arrays, every cross pair of 60 docs
    val sh = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60)
      .withColumn("t", Text.tokens(col("text")))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), Text.wordShingles(col("t")).as("s"))
      .localCheckpoint()
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        Dedup.intersectSize(col("a.s"), col("b.s")).as("native"),
        size(array_intersect(col("a.s"), col("b.s"))).cast("long")
          .as("builtin"))
    assert(pairs.filter(col("native") =!= col("builtin")).count() === 0)
    assert(pairs.count() > 1000)

    // edge fixtures: duplicates in either side count once; a null
    // element present in BOTH sides counts once; empty and disjoint
    val f = Seq(
      (Seq("a", "b", "b", "c"), Seq("b", "b", "a", "z")),
      (Seq[String]("a", null, "c"), Seq[String](null, "c", null)),
      (Seq[String](null, "x"), Seq("y", "z")),
      (Seq.empty[String], Seq("a")),
      (Seq("a", "a"), Seq("a", "a", "a")),
      (Seq("p", "q"), Seq("r", "s"))).toDF("x", "y")
    val got = f.select(
        Dedup.intersectSize($"x", $"y").as("native"),
        size(array_intersect($"x", $"y")).cast("long").as("builtin"))
      .as[(Long, Long)].collect()
    got.foreach { case (n, b) => assert(n === b) }
    // null ARRAY input -> null, matching size(array_intersect) under
    // the non-legacy sizeOfNull default
    val nn = Seq((Some(Seq("a")), Option.empty[Seq[String]]))
      .toDF("x", "y")
      .select(Dedup.intersectSize($"x", $"y").as("n"),
        size(array_intersect($"x", $"y")).cast("long").as("b"))
      .collect()(0)
    assert(nn.isNullAt(0) && nn.isNullAt(1))
  }

  test("x97 hybrid RRF: exact-integer fusion invariants") {
    val out = graft.queries.ExtQueries
      .queries("x97_hybrid_rrf")(spark, "/root/testdata/sf0.001")
      .collect()
    // 8 queries × top-10, every query fully served
    assert(out.length === 80)
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size === 8 && byQ.values.forall(_.length === 10))
    out.foreach { r =>
      val (rrf, rs, rd) = (r.getLong(3), r.getLong(4), r.getLong(5))
      // the emitted rrf is exactly the integer-division formula over
      // the emitted leg ranks (0 = absent from that leg's top-50)
      val expect = (if (rs > 0) 1000000000L / (60 + rs) else 0L) +
        (if (rd > 0) 1000000000L / (60 + rd) else 0L)
      assert(rrf === expect, s"row $r")
      assert(rs >= 0 && rs <= 50 && rd >= 0 && rd <= 50)
      assert(rs > 0 || rd > 0)
    }
    // per query: rnk follows (rrf desc, doc_id asc); the query doc
    // itself is its own dense rank 1 (cosine 1.0) and fuses into the
    // top-10. NOT asserted: self tops the SPARSE leg — BM25 length
    // normalization can rank a shorter doc above the query doc for
    // the query's own terms, which is correct behavior.
    byQ.foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to 10L))
      sorted.sliding(2).foreach { case Array(a, b) =>
        assert(a.getLong(3) > b.getLong(3) ||
          (a.getLong(3) == b.getLong(3) && a.getLong(2) < b.getLong(2)))
      }
      val self = sorted.filter(_.getLong(2) == q)
      assert(self.length === 1, s"query $q: self doc not in top-10")
      assert(self.head.getLong(5) === 1L,
        s"query $q: self doc not dense rank 1")
    }
  }
}
