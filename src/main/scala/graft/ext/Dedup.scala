package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large document corpora (north-star
  * extension; the reference has no dedup — its raw table double-counts on
  * replay, SURVEY.md §2 bug list).
  *
  * Scale posture: every flavor here avoids the O(n²) all-pairs trap.
  *  - exact dedup: one hash-partitioned window over md5(text) — one
  *    shuffle keyed on the content hash, no joins;
  *  - MinHash/LSH: candidate pairs come from an equi-join on
  *    (band index, band hash) — only docs agreeing on a full band ever
  *    meet, so the join output is ~(true near-dups + tiny noise), not
  *    n²/2. Exact Jaccard is then computed only on those candidates;
  *  - SimHash: constant-size fingerprint per doc; grouping identical
  *    fingerprints (or banded prefixes) again replaces all-pairs.
  */
object Dedup {

  /** Exact dedup: keep one survivor per identical text (lowest id —
    * deterministic, mirrors "keep first seen"). The window shuffles on
    * the content hash, so each group lands in one partition regardless
    * of corpus size; no join, no collect.
    */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Canonical form for normalization-insensitive dedup: lowercase,
    * whitespace runs collapsed, trimmed — catches the trivial near-dups
    * (case / spacing variants) exact hashing misses, at exact-dedup
    * cost. Hash THIS instead of the raw text.
    */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** [[exactDedup]] keyed on [[normalizedText]]. */
  def normalizedDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(normalizedText(col(textCol))))
      .orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** MinHash signature via the single-pass native expression
    * ([[org.apache.spark.sql.graft.MinHashSignature]]): hash h = the
    * 8-hex chunk h%4 of md5(shingle + '#' + h/4), minimized over the
    * shingle set as strings — total order, identical in the DuckDB
    * oracle, no hex→int parsing anywhere. The signature pass is a
    * narrow per-row computation — callers must ensure the input is
    * spread across partitions (compute-bound, embarrassingly parallel).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      org.apache.spark.sql.graft.MinHashSignature(
        org.apache.spark.sql.GraftExpressionBridge.expression(shingles), numHashes))

  /** Pure-HOF reference formulation of the same signature (numHashes
    * interpreted passes) — kept for the ExtSpec equivalence assertion.
    */
  def minhashSignatureHof(shingles: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h => {
      val seed = floor(h / 4).cast("int").cast("string")
      array_min(transform(shingles, s =>
        md5(concat(s, lit("#"), seed)).substr(lit(1) + (h % 4) * 8, lit(8))))
    })

  /** LSH band hashes: the signature split into `bands` runs of
    * `rowsPerBand`, each run collapsed to one md5. Two docs collide on a
    * band iff that band of their signatures matches exactly — P ≈ J^rows
    * per band, the classic S-curve.
    */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      md5(concat((0 until rowsPerBand).map(r =>
        element_at(sig, b * lit(rowsPerBand) + lit(r) + 1)): _*)))

  /** 64-bit band keys for the candidate equi-join: xxhash64 over the
    * band's signature chunks (fixed-width 8-hex strings, so the plain
    * concat is injective). Band-key equality ⇔ band-signature equality
    * either way — the md5-hex form and this long form induce the same
    * candidate set (modulo ~2⁻⁶⁴ hash collisions, which only ADD a
    * candidate that the exact-Jaccard threshold then re-filters) — but
    * the join shuffles and compares 8 bytes per (doc, band) instead of
    * a 32-char string (guide §2.3: narrower types through the
    * exchange). [[bandHashes]] stays as the oracle-mirrored hex form.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      xxhash64(concat((0 until rowsPerBand).map(r =>
        element_at(sig, b * lit(rowsPerBand) + lit(r) + 1)): _*)))

  /** Exact Jaccard over two (distinct) shingle arrays. |A∪B| is computed
    * as |A|+|B|−|A∩B| — one hash probe pass instead of also
    * materializing the union array.
    *
    * Round-12: |A∩B| comes from the native ArrayIntersectSize
    * expression (9th native) — size(array_intersect(a, b)) builds a
    * per-pair hash set, ALLOCATES the intersection ArrayData, then
    * takes its length and throws the array away; at millions of
    * candidate pairs (x12 blocked all-pairs, the LSH verifiers) the
    * discarded allocation is the cost. Same distinct-common count,
    * bit-equal (RoundTwelveSpec pins it against the built-in on real
    * shingles and null/dup fixtures).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = intersectSize(a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Native distinct-common-element count of two array<string>
    * columns — `size(array_intersect(a, b))` without the discarded
    * intersection array.
    */
  def intersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(
      org.apache.spark.sql.graft.ArrayIntersectSize(
        GraftExpressionBridge.expression(a),
        GraftExpressionBridge.expression(b)))
  }

  /** Shingle set hashed to a SORTED int64 array — the verification-
    * loop representation for candidate counts in the millions (x67):
    * 8 bytes/element through the candidate-join shuffles instead of
    * ~25-byte strings, and [[sortedIntersectSize]]'s two-pointer merge
    * instead of a per-pair HashSet of UTF8Strings. Hash once per
    * DOCUMENT, verify per PAIR.
    */
  def sortedHashedShingles(s: Column): Column =
    sort_array(transform(s, t => xxhash64(t)))

  /** Distinct-common-element count of two SORTED array<long> columns
    * (11th native expression, two-pointer merge). Equal to
    * [[intersectSize]] of the underlying string sets except on 64-bit
    * collisions within one pair's sets (≈|a|·|b|/2⁶⁴ — immaterial;
    * RoundThirteenCSpec pins equality corpus-wide).
    */
  def sortedIntersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(
      org.apache.spark.sql.graft.SortedLongIntersectSize(
        GraftExpressionBridge.expression(a),
        GraftExpressionBridge.expression(b)))
  }

  /** The persisted LSH index of a corpus: one row per (doc, band) with
    * the band hash AND the doc's shingle set (the verification
    * payload). Computing this once and STORING it is what makes dedup
    * incremental: each day's new batch computes only its own
    * signatures and probes the index with an equi-join — the indexed
    * corpus is never re-read, re-tokenized, or re-hashed.
    */
  def bandIndex(
      docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 12, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // The stored index rides the narrow representation end-to-end
    // (round-16): 8-byte band keys and the sorted-int64 shingle hash
    // as the verification payload — a ~3× smaller persisted index,
    // and probes verify with the two-pointer merge. Probe and index
    // agree on the format because both are built by this function.
    docs.withColumn("sig", minhashSignature(col(shinglesCol), numHashes))
      .select(col(idCol).as("id"),
        sortedHashedShingles(col(shinglesCol)).as("s"),
        posexplode(bandKeys(col("sig"), bands, numHashes / bands))
          .as(Seq("band_idx", "band_hash")))
  }

  /** Incremental near-dup detection: a new `batch` against a stored
    * [[bandIndex]], plus within the batch itself. index↔index pairs
    * are NOT re-derived — they are the already-resolved history — so
    * the result equals the full-corpus [[nearDupPairs]] restricted to
    * pairs with at least one batch member (IncrementalLshSpec and
    * x42's oracle both assert exactly that; on an internally dup-free
    * index the restriction is vacuous). The probe shuffle is
    * O(batch bands + index bands), independent of how the pairs are
    * distributed; pairs come out as (lower id, higher id) regardless
    * of side.
    */
  def incrementalPairs(
      index: DataFrame, batch: DataFrame, idCol: String,
      shinglesCol: String, numHashes: Int = 12, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    // Stored-format guard (r16 ADVICE): round 16 changed the
    // PERSISTED index schema (band_hash md5-hex string → xxhash64
    // long; s array<string> → sorted array<long>). A stale index
    // written by an older build must fail LOUDLY here — a silent
    // bigint/string coercion would null the probe join and drop all
    // cross pairs.
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def isLongArray(dt: org.apache.spark.sql.types.DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    require(index.schema("band_hash").dataType == LongType &&
        isLongArray(index.schema("s").dataType),
      "stored band index predates the round-16 narrow format " +
        "(band_hash LONG, s sorted ARRAY<LONG>) — rebuild it with " +
        "Dedup.bandIndex before probing")
    val bk = bandIndex(batch, idCol, shinglesCol, numHashes, bands)
    val cross = index.as("a")
      .join(bk.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") =!= col("b.id"))
      .select(
        least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        sortedJaccard(col("a.s"), col("b.s")).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= threshold)
    // in-batch pairs come from self-joining the SAME band index the
    // probe just built — re-running nearDupPairs(batch) would tokenize
    // and hash the batch a second time for identical signatures (and
    // the identical bk subtrees here dedup through ReuseExchange)
    cross.unionByName(bandSelfJoin(bk, threshold)).distinct()
  }

  /** Banded-LSH near-dup pairs: each doc's (band_idx, band_hash) keys
    * ([[bandIndex]]) equi-join, so only same-band docs are ever
    * compared — the non-negotiable property at 100 TB — and exact
    * Jaccard confirms every candidate in the same pass. Returns
    * distinct (id_a &lt; id_b, jaccard) pairs at or above `threshold`.
    * The shingle arrays ride along through the band explode, so the
    * pair join emits (id_a, id_b, jaccard) directly instead of
    * re-joining the corpus twice to fetch shingles back (which would
    * re-run the whole tokenize→shingle→signature pipeline per
    * reference — the self-join already costs two pipeline passes;
    * re-joins made it four).
    * Tradeoff: the band shuffle carries each shingle set `bands` times —
    * the standard LSH space/recompute trade, the right default when the
    * shingle sets are much smaller than the documents.
    */
  def nearDupPairs(
      docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 12, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    // Round-16 (guide §2.3, §8): the band shuffle used to carry the raw
    // STRING shingle set (~25 B/shingle) keyed by a 32-char md5 hex —
    // the heavy opaque payload moved `bands` times so a few bytes of
    // key could be compared. Both are now narrow proxies: the band key
    // is an 8-byte xxhash64 ([[bandKeys]] — same candidate set), and
    // the verification payload is the sorted-int64 shingle hash
    // ([[sortedHashedShingles]], 8 B/shingle), verified by the
    // two-pointer [[sortedIntersectSize]] merge instead of a per-pair
    // HashSet of UTF8Strings — the exact x67 representation, with the
    // same RoundThirteenCSpec-pinned equality to the string-set
    // Jaccard (64-bit collisions within one pair's sets ≈ |a|·|b|/2⁶⁴
    // — immaterial). Same output pairs, same jaccard values, ~3×
    // fewer shuffle bytes and a cheaper per-candidate verify.
    bandSelfJoin(
      bandIndex(docs, idCol, shinglesCol, numHashes, bands), threshold)
  }

  /** The one band self-join of a [[bandIndex]] frame: (id_a &lt; id_b)
    * pairs sharing a band, verified at sorted-hash Jaccard ≥
    * `threshold`. The merge hint forces a shuffle join on BOTH sides —
    * the only feasible shape at corpus scale (broadcasting the keyed
    * corpus is not) — and makes the two sides' shuffle subtrees
    * identical, so Catalyst's ReuseExchange computes the
    * tokenize→shingle→signature pipeline ONCE and replays it for the
    * other side (~2× faster than letting the planner broadcast one
    * side at test scale).
    */
  private def bandSelfJoin(keyed: DataFrame, threshold: Double): DataFrame =
    keyed.as("a").hint("merge")
      .join(keyed.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        sortedJaccard(col("a.s"), col("b.s")).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= threshold)

  /** [[jaccard]] over two sorted-int64 shingle-hash arrays
    * ([[sortedHashedShingles]]): same |A∩B| / |A∪B| arithmetic with
    * the two-pointer [[sortedIntersectSize]] in place of the string
    * hash-probe — equal to the string-set Jaccard except on 64-bit
    * collisions within one pair's sets (≈|a|·|b|/2⁶⁴).
    */
  def sortedJaccard(a: Column, b: Column): Column = {
    val inter = sortedIntersectSize(a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** Integer idf weight ladder for weighted MinHash: rare shingles
    * count more, ubiquitous (boilerplate) shingles count ZERO. The
    * ladder is exact-integer on the corpus df, so both engines derive
    * identical weights — no float idf anywhere.
    *
    * The 0 tier (df &gt; ubiquityCap) is load-bearing for the BANDING,
    * not just the verdict. Measured finding (PLANS.md round-12
    * SCALE-WMH): demoting a corpus-wide footer to weight 1 does NOT
    * fix LSH candidate generation — the footer's element hashes are
    * GLOBAL CONSTANTS, so whichever hash draws a small footer minimum
    * captures the signature entry of most stamped docs simultaneously;
    * collision events correlate across the corpus and the per-pair
    * J^rows analysis fails (both directions: one probe run measured
    * the weight-1 leg 6× WORSE than raw, pure hash-luck). Weight 0
    * removes the shared subset from the signature entirely, so
    * footer-only pairs share nothing, their band-collision probability
    * is exactly the md5 collision rate, and the correlation argument
    * is moot.
    */
  def idfWeight(df: Column, ubiquityCap: Long = 64L): Column =
    when(df === 1, 4).when(df <= 3, 3).when(df <= 8, 2)
      .when(df <= ubiquityCap, 1).otherwise(0)

  /** Per-doc weighted shingle expansion (integer-weight consistent
    * sampling, the classic reduction of weighted MinHash: replicate
    * each element w times — Gollapudi &amp; Chitrapura 2006): element s
    * with weight w becomes s~1 … s~w, so plain MinHash over the
    * expanded set IS weighted MinHash, and plain set intersection of
    * two expanded sets has size Σ min(w_a(s), w_b(s)) — exact weighted
    * overlap through the same native [[intersectSize]] probe.
    *
    * Weights come from the corpus df of each shingle via
    * [[idfWeight]]: one corpus-shaped aggregate (vocabulary-bounded
    * output, partial-agg friendly) + one equi-join keyed on the
    * shingle — both shapes that scale; expansion is ≤4× the shingle
    * mass. Returns (id, s, exp).
    */
  def weightedShingles(docs: DataFrame, idCol: String,
      shinglesCol: String, ubiquityCap: Long = 64L): DataFrame = {
    // df keyed on the 8-byte xxhash64 of the shingle (the x44/x55
    // grouping-only-key rule: the shingle string itself never leaves
    // the stream side, so the count table and the attach join carry
    // longs; a 64-bit collision would merge two shingles' df — ≈2⁻⁶⁴
    // per vocabulary pair, and the string-df oracle pins it green)
    val ex = docs.select(col(idCol).as("id"), explode(col(shinglesCol)).as("sh"))
      .withColumn("shh", xxhash64(col("sh")))
    // df as a TWO-LEVEL salted aggregate + join-back (round-17; was a
    // window aggregate in round 16, which made the documented
    // boilerplate shingle — df far above ubiquityCap — a single-task
    // sort+buffer hot key at scale, the r16 ADVICE finding). The plan
    // is one (shh, salt) exchange of the expanded shingles, the
    // aggregate on top of it, and a shuffled-hash attach of the df
    // table on (shh, salt) — no broadcast: a hot shingle stays spread
    // over its salt buckets (SaltedAgg docs). Shingles are distinct
    // per doc, so the attached count IS the document frequency,
    // exactly as before.
    val expanded = SaltedAgg.attach(ex, "shh", Seq(col("id")),
        Seq(count(lit(1)).as("p_df")), Seq(sum(col("p_df")) -> "df"))
      .withColumn("w", idfWeight(col("df"), ubiquityCap))
      // the df-cut: ubiquitous shingles leave the expanded set (and a
      // doc that is ALL boilerplate leaves the weighted universe — it
      // has nothing rare to match on, documented inner-join semantics)
      .filter(col("w") > 0)
      .withColumn("e", transform(sequence(lit(1), col("w")),
        i => concat(col("sh"), lit("~"), i.cast("string"))))
      .groupBy(col("id")).agg(flatten(collect_list(col("e"))).as("exp"))
    docs.select(col(idCol).as("id"), col(shinglesCol).as("s"))
      .join(expanded, "id")
  }

  /** idf-weighted near-dup pairs: banded LSH over the weighted
    * signature, then exact weighted AND unweighted Jaccard on the
    * candidates, in integer ppm (`1000000·Σmin div Σmax` — integer
    * division in both engines, hash-provable).
    *
    * Why weight: with unweighted MinHash, a boilerplate footer shared
    * by every document both inflates the verified Jaccard of unrelated
    * pairs and — worse at scale — captures signature minima corpus-wide
    * (the constants correlate; see [[idfWeight]]), so boilerplate-only
    * pairs band-collide at QUADRATIC candidate mass in the number of
    * stamped docs. The df-cut removes the shared subset from the
    * signature (spurious candidates → md5-collision rate, measured 0
    * in SCALE-WMH) and the graded ladder weights the verified Jaccard
    * toward rare content.
    */
  def weightedNearDupPairs(
      docs: DataFrame, idCol: String, shinglesCol: String,
      numHashes: Int = 16, bands: Int = 4,
      thresholdPpm: Long = 250000L, ubiquityCap: Long = 64L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // Same narrow-proxy treatment as [[nearDupPairs]] (round-16, guide
    // §2.3): the signature is computed from the STRING expanded set,
    // then both verification payloads ride the band shuffle as
    // sorted-int64 hashes and the band key as one xxhash64 long —
    // identical intersect counts (and so identical ppm outputs) with
    // ~3× fewer shuffled bytes and two-pointer verifies.
    val keyed = weightedShingles(docs, idCol, shinglesCol, ubiquityCap)
      .withColumn("sig", minhashSignature(col("exp"), numHashes))
      .select(col("id"),
        sortedHashedShingles(col("s")).as("s"),
        sortedHashedShingles(col("exp")).as("exp"),
        posexplode(bandKeys(col("sig"), bands, numHashes / bands))
          .as(Seq("band_idx", "band_hash")))
    val wmin = sortedIntersectSize(col("a.exp"), col("b.exp")).cast("long")
    val inter = sortedIntersectSize(col("a.s"), col("b.s")).cast("long")
    keyed.as("a").hint("merge")
      .join(keyed.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        wmin.as("wmin"),
        (size(col("a.exp")) + size(col("b.exp"))).cast("long")
          .minus(wmin).as("wuni"),
        inter.as("inter"),
        (size(col("a.s")) + size(col("b.s"))).cast("long")
          .minus(inter).as("uni"))
      .distinct()
      .withColumn("jw_ppm", expr("1000000 * wmin div wuni"))
      .withColumn("j_ppm", expr("1000000 * inter div uni"))
      .filter(col("jw_ppm") >= thresholdPpm)
  }
}
