package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructType}

import graft.ext.{KMeansLite, Retrieval, Similarity, Text}

/** Streaming hybrid retrieval — the serving form of x97: a continuous
  * stream of queries (sparse terms + a dense vector per query) scored
  * against a PERSISTED corpus index, fused with the same exact-integer
  * Reciprocal Rank Fusion. This is the topology retrieval actually
  * deploys: the corpus is indexed once offline; what arrives forever
  * after is queries.
  *
  * Index layout (built once by [[buildIndex]], all plain parquet):
  *  - postings (w, doc_id, tf) — the sparse leg's equi-join side;
  *  - doclen (doc_id, dl) and stats (n_docs, total_dl) — BM25's
  *    normalization, corpus-frozen like every serving index's;
  *  - df (w, df) — per-term document frequency;
  *  - vecs (doc_id, v, cell) partitioned by `cell` under a FROZEN
  *    coarse quantizer (the StreamKnn discipline: refitting online
  *    would move cell boundaries and invalidate the layout).
  *
  * Per micro-batch the work is BATCH-SHAPED, never corpus-shaped:
  * the batch's term set broadcasts into one postings equi-join
  * (matched postings rows only), the dense probe reads exactly the
  * nProbe cell partitions each query hashes to (partition-pruned by
  * the `cell` equi-join), and both legs truncate to legK per query
  * BEFORE the fusion join. Scoring goes through the operator x97
  * uses, [[graft.ext.Retrieval]]: its exact-integer BM25 term score
  * and its RRF term 10^9 div (60+rank), with cosine in floor(·1e6+0.5)
  * units — so StreamRetrieveSpec can assert micro-batched output ==
  * one-shot batch output as row identity, not approximately.
  *
  * Output contract: foreachBatch APPENDS (query_id, rnk, doc_id, rrf,
  * r_sparse, r_dense, _batch_id). The append is at-least-once on
  * failure replay — a retried batch re-appends its rows. Results are
  * deterministic per query, so downstream either dedupes on
  * (query_id, rnk) or routes through the manifest-committed sink
  * (StreamShards.start) when exactly-once materialization matters;
  * this operator's law is the scoring, and it deliberately does NOT
  * claim sink exactly-once.
  */
object StreamRetrieve {

  /** The df table is hash-bucketed on the term so [[updateIndex]] can
    * rewrite exactly the buckets a batch touches (the StreamKnn /
    * K4 dynamic-overwrite discipline) instead of the whole
    * vocabulary.
    */
  val DfBuckets = 64

  /** The five index tables as [[buildIndex]] and [[updateIndex]] write
    * them, partition columns last. Every read goes through [[table]]
    * with these, so no read starts a job to infer a schema from parquet
    * footers; the writers cast `doc_id` and `v` to the declared types.
    */
  private[graft] val IndexSchemas: Map[String, StructType] = Map(
    "postings" -> "w STRING, doc_id BIGINT, tf BIGINT",
    "doclen" -> "doc_id BIGINT, dl BIGINT",
    "df" -> "w STRING, df BIGINT, b INT",
    "stats" -> "n_docs BIGINT, total_dl BIGINT",
    "vecs" -> "doc_id BIGINT, v ARRAY<DOUBLE>, cell INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(IndexSchemas(name)).parquet(s"$dir/$name")

  /** The index's doc ids and vectors in their declared types. */
  private def docId = col("doc_id").cast(LongType).as("doc_id")
  private def vector = col("v").cast(ArrayType(DoubleType)).as("v")

  private[graft] def dfBucket(w: org.apache.spark.sql.Column) =
    pmod(xxhash64(w), lit(DfBuckets.toLong)).cast("int")

  /** The df buckets a document batch would touch (≤ [[DfBuckets]]
    * values — the bounded-collect class).
    */
  private[graft] def dfBucketsOf(docs: DataFrame): Set[Int] =
    docs.select(explode(Text.tokens(col("text"))).as("w"))
      .select(dfBucket(col("w")).as("b")).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Build the serving index once, offline. `docs` = (doc_id, text);
    * `vecs` = (doc_id, v: array&lt;double&gt;).
    */
  def buildIndex(docs: DataFrame, vecs: DataFrame,
      cents: Seq[Seq[Double]], dir: String): Unit = {
    val spark = docs.sparkSession
    val toks = docs
      .select(docId, Text.tokens(col("text")).as("toks"))
      .localCheckpoint() // tokenize once: postings + doclen
    toks.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").parquet(s"$dir/postings")
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$dir/doclen")
    table(spark, dir, "postings")
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .withColumn("b", dfBucket(col("w")))
      .write.partitionBy("b").mode("overwrite").parquet(s"$dir/df")
    table(spark, dir, "doclen")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .write.mode("overwrite").parquet(s"$dir/stats")
    vecs.select(docId, vector,
        KMeansLite.assign(col("v"), cents).as("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$dir/vecs")
  }

  /** Fold a batch of NEW documents into the persisted index — the
    * freshness path a real deployment needs between full rebuilds.
    * Per-batch work is batch-shaped everywhere:
    *  - postings / doclen / vecs APPEND (vecs into their frozen-cell
    *    partitions — multiple files per partition is the normal
    *    parquet layout);
    *  - stats is maintained incrementally: the old 1-row table plus
    *    the batch's (count, token-sum) delta — never a corpus re-agg;
    *  - df merges the batch's per-term deltas into EXACTLY the hash
    *    buckets the batch touches, via dynamic partition overwrite;
    *    untouched buckets keep their files (at most [[DfBuckets]]
    *    partitions rewritten, each vocabulary/64-bounded).
    *
    * Doc ids must be NEW (appending a doc_id twice double-counts it,
    * as in any postings index — upstream dedup is x01/StreamDedup's
    * job). This is an OFFLINE maintenance step like DailyTable's
    * backfill: it is NOT replay-idempotent on its own, so a streaming
    * caller wraps it behind a committed-batch manifest (the X124
    * StreamShards discipline) rather than calling it from a bare
    * foreachBatch.
    */
  def updateIndex(docs: DataFrame, vecs: DataFrame,
      cents: Seq[Seq[Double]], dir: String): Unit = {
    val spark = docs.sparkSession
    val toks = docs
      .select(docId, Text.tokens(col("text")).as("toks"))
      .localCheckpoint()
    val newPost = toks
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // read 2×: append + df delta
    // stats delta BEFORE the appends (exact: batch docs are new)
    val old = table(spark, dir, "stats").head()
    // coalesce: an empty update batch is a no-op, not a null sum
    val add = toks.agg(count(lit(1)),
      coalesce(sum(size(col("toks")).cast("long")), lit(0L))).head()
    newPost.write.mode("append").parquet(s"$dir/postings")
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
      .write.mode("append").parquet(s"$dir/doclen")
    import spark.implicits._
    Seq((old.getLong(0) + add.getLong(0),
        old.getLong(1) + add.getLong(1)))
      .toDF("n_docs", "total_dl")
      .write.mode("overwrite").parquet(s"$dir/stats")
    val delta = newPost.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .withColumn("b", dfBucket(col("w")))
      .localCheckpoint()
    val touched = delta.select(col("b")).distinct()
      .collect().map(_.getInt(0)).toSeq // ≤ DfBuckets rows
    table(spark, dir, "df")
      .filter(col("b").isin(touched: _*))
      .unionByName(delta)
      .groupBy(col("w"), col("b")).agg(sum(col("df")).as("df"))
      .select(col("w"), col("df"), col("b"))
      // materialize BEFORE the write: the merge reads the same path
      // the dynamic overwrite replaces (touched-bucket state, ≤ 1/64
      // of the vocabulary — bounded like every checkpoint in the repo)
      .localCheckpoint()
      .write.partitionBy("b")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$dir/df")
    vecs.select(docId, vector,
        KMeansLite.assign(col("v"), cents).as("cell"))
      .write.partitionBy("cell").mode("append").parquet(s"$dir/vecs")
  }

  /** Score one batch of queries — (query_id, qterms: array&lt;string&gt;,
    * qv: array&lt;double&gt;) — against the persisted index. Works on a
    * batch frame; [[serve]] calls it per micro-batch.
    *
    * Null convention: a null/empty qterms (or a qv that is null)
    * degrades that LEG to zero candidates — explode/posexplode of
    * null emits no rows — so the query scores single-leg; a query
    * null on both legs is absent from the output. The degradation is
    * a pure function of the row, so it is identical in batch and
    * stream (the law StreamRetrieveSpec pins).
    */
  def serveBatch(spark: SparkSession, queries: DataFrame, dir: String,
      cents: Seq[Seq[Double]], nProbe: Int, legK: Int,
      topK: Int): DataFrame = {
    val postings = table(spark, dir, "postings")
    val dfTbl = table(spark, dir, "df")
    val doclen = table(spark, dir, "doclen")
    val stats = table(spark, dir, "stats")

    // sparse leg: batch terms (distinct per query) + their df, one
    // broadcast into the postings equi-join
    val qt = queries
      .select(col("query_id"), explode(col("qterms")).as("w")).distinct()
      .join(dfTbl, "w") // terms absent from the corpus drop out (df=0 scores nothing)
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("score_e6").desc, col("doc_id"))
    val sparse = postings.join(broadcast(qt), "w")
      .join(doclen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("sc_e6", Retrieval.bm25TermE6)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("sc_e6")).as("score_e6"))
      .withColumn("r_sparse", row_number().over(wS).cast("long"))
      .filter(col("r_sparse") <= legK)
      .select(col("query_id"), col("doc_id"), col("r_sparse"))

    // dense leg: nProbe nearest frozen cells per query (d2 asc, cell
    // asc — deterministic), then ONLY those cell partitions join
    val wP = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("cell"))
    val probes = queries.select(col("query_id"), col("qv"),
        posexplode(KMeansLite.cellDistances(col("qv"), cents))
          .as(Seq("cell", "d2")))
      .withColumn("pr", row_number().over(wP))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell").cast("int").as("cell"))
    val vecs = table(spark, dir, "vecs")
    val wD = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_e6").desc, col("doc_id"))
    val dense = vecs.join(broadcast(probes), "cell")
      .withColumn("cos_e6",
        floor(Similarity.cosine(col("qv"), col("v")) * 1000000 + 0.5))
      .withColumn("r_dense", row_number().over(wD).cast("long"))
      .filter(col("r_dense") <= legK)
      .select(col("query_id"), col("doc_id"), col("r_dense"))

    // exact-integer RRF fuse, top-K per query — x97's fusion
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    sparse.join(dense, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        Retrieval.rrfTerm("r_sparse") + Retrieval.rrfTerm("r_dense"))
      .withColumn("rnk", row_number().over(wF).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("rrf"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
  }

  /** Attach serving to a streaming query frame; appends scored top-K
    * rows (plus `_batch_id`) to `outPath` per micro-batch.
    */
  def serve(queries: DataFrame, dir: String, cents: Seq[Seq[Double]],
      nProbe: Int, legK: Int, topK: Int, outPath: String,
      checkpointDir: String): StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        serveBatch(b.sparkSession, b, dir, cents, nProbe, legK, topK)
          .withColumn("_batch_id", lit(id))
          .write.mode("append").parquet(outPath)
      }
      .start()
}
