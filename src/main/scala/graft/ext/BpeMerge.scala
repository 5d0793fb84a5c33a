package graft.ext

import org.apache.spark.sql.{Column, DataFrame, GraftCheckpoint}
import org.apache.spark.sql.functions._

/** Corpus-wide BPE pair merges (Sennrich et al. 2016): the training and
  * encoding halves of a tokenizer over a (…, toks ARRAY<STRING>) frame.
  *
  * A merge rule is plain data, an (a, b) string pair, and a vocabulary
  * is a `Seq[(String, String)]` in training order. Every trainer
  * returns one; [[encode]] applies one.
  *
  *  - TRAIN: find the most frequent adjacent pair corpus-wide, fuse it,
  *    repeat. [[trainPairs]] recounts the rewritten corpus every round
  *    (x74's form, and the reference the fast trainer is tested
  *    against); [[trainFast]] maintains the pair counts of a
  *    [[typeTable]] incrementally (x124); [[topPairs]] ranks the base
  *    corpus's pairs in one pass (the serve-form vocabulary of x92 and
  *    x103). All three rank by (count desc, packed pair asc), and an
  *    exhausted corpus (no adjacent pair left) yields a shorter list.
  *  - ENCODE: apply the rules in training order to any corpus, through
  *    ONE native expression ([[org.apache.spark.sql.graft.BpeEncodeRules]])
  *    whatever the rule count: a narrow per-document map with no join,
  *    no shuffle and no state, so a stream encodes exactly as its batch
  *    (StreamBpe). Training rewrites its own corpus through the same
  *    expression, so encode(training corpus) reproduces training's
  *    rewrites row for row.
  *
  * Merge policies change only which pairs are COUNTED:
  *  - `allowIdentical = false` (x74's oracle shape): candidate pairs
  *    are restricted to a ≠ b. Occurrences of such a pair cannot
  *    overlap, so merging all of them is position-independent.
  *  - `allowIdentical = true` (real BPE): identical-half pairs (a, a)
  *    compete too, counted at every adjacent position (overlaps
  *    included). The encoder's left-greedy pass gives such a rule real
  *    BPE's run rule: floor(L/2) merges per maximal run of L a's, then
  *    a lone trailing a when L is odd ("a a a a a" → "a_a a_a a").
  * Encoding needs no flag: the left-greedy pass equals the match-all
  * rewrite on every a ≠ b rule, and the a = a rule only exists under
  * the second policy.
  *
  * Pairs are packed a + U+0001 + b (U+0001 sorts below every token
  * char, so packed-string order IS (a, b) tuple order in both engines).
  *
  * TRAINING AT PRODUCTION DEPTH: a full recount per round makes a
  * 30k-merge vocabulary 30k corpus scans. Merging (a, b) → ab changes
  * only the adjacencies of the documents containing (a, b), so
  * [[trainFast]] runs every round on bounded state: the corpus type
  * table (distinct token arrays with multiplicities, bounded by the
  * content vocabulary under Heaps' law) and its pair-count table, kept
  * exact by each round's per-type old-minus-new adjacency diff. Its rule
  * sequence equals [[trainPairs]]' under both policies, ties included
  * (BpeMergeSpec); x124 checks it corpus-wide against the DuckDB
  * recount oracle, and SCALE-BPEFAST in PLANS.md carries the
  * corpus-independence receipt.
  */
object BpeMerge {
  private val sep = "\u0001"

  /** Packed adjacent pairs of the `toks` column: element i is
    * toks(i) ++ U+0001 ++ toks(i+1) (null where the a ≠ b policy
    * excludes an identical-half pair). The slice length is clamped at
    * 0, so an empty token array has no pairs.
    */
  private def packedAdjacent(allowIdentical: Boolean): Column = {
    val tk = col("toks")
    val len = greatest(size(tk) - 1, lit(0))
    zip_with(
      slice(tk, lit(1), len), slice(tk, lit(2), len),
      (x, y) =>
        if (allowIdentical) concat(x, lit(sep), y)
        else when(x =!= y, concat(x, lit(sep), y)))
  }

  /** Pair counts (ab, c) of the packed `pairs` of `df`, each occurrence
    * weighted by `weight`. */
  private def counted(df: DataFrame, pairs: Column,
      weight: Column): DataFrame =
    df.select(explode(pairs).as("ab"), weight.as("w"))
      .filter(col("ab").isNotNull)
      .groupBy(col("ab")).agg(sum(col("w")).as("c"))

  /** The top `k` rules of an (ab, c) count table, ranked by count desc
    * then packed pair asc: every trainer's argmax and tie order. */
  private def ranked(counts: DataFrame, k: Int): Seq[(String, String)] =
    counts.orderBy(col("c").desc, col("ab")).limit(k)
      .select(split(col("ab"), sep).getItem(0),
        split(col("ab"), sep).getItem(1))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  /** ENCODE: apply `rules` in order to every document's `toks`, each
    * rule one left-greedy pass, all in one native expression. */
  def encode(df: DataFrame, rules: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    df.withColumn("toks", GraftExpressionBridge.column(
      org.apache.spark.sql.graft.BpeEncodeRules(
        GraftExpressionBridge.expression(col("toks")), rules)))
  }

  /** The top-k adjacent pairs of `df` in ONE aggregate pass, in rank
    * order: the serve-form stand-in for a persisted vocabulary (x92).
    * The rules are ranked by BASE-corpus counts, not recounted after
    * each merge like [[trainPairs]]; encode semantics (sequential
    * application in rank order) are the same either way. Plan: one
    * partial-aggregated shuffle on the packed pair, then
    * TakeOrderedAndProject(k), collected.
    */
  def topPairs(df: DataFrame, k: Int,
      allowIdentical: Boolean = false): Seq[(String, String)] =
    ranked(counted(df, packedAdjacent(allowIdentical), lit(1L)), k)

  /** The recount trainer: up to `rounds` rules in training order.
    * Round r ranks the pairs of encode(train, rules of rounds 1..r-1),
    * one count job per round; the loop stops early on an exhausted
    * corpus.
    */
  def trainPairs(train: DataFrame, rounds: Int,
      allowIdentical: Boolean = false): Seq[(String, String)] = {
    @annotation.tailrec
    def loop(rules: Seq[(String, String)]): Seq[(String, String)] =
      if (rules.size >= rounds) rules
      else ranked(counted(encode(train, rules),
          packedAdjacent(allowIdentical), lit(1L)), 1) match {
        case Seq() => rules
        case top => loop(rules ++ top)
      }
    loop(Vector.empty)
  }

  /** Collapse a training corpus to its TYPE TABLE: one row per
    * DISTINCT `toks` array with its multiplicity `w`. Under Heaps' law
    * the table is bounded by the content vocabulary, not the corpus (a
    * duplicated corpus grows the weights, never the table), so
    * everything downstream of this one aggregate is
    * corpus-size-independent.
    */
  def typeTable(df: DataFrame): DataFrame =
    df.groupBy(col("toks")).agg(count(lit(1)).as("w"))

  /** Weighted adjacency counts (ab, c) of a (toks, w) type table — the
    * maintained pair-count state of [[trainFast]], built once here and
    * then kept exact by per-round histogram-diff deltas.
    */
  def pairCounts(types: DataFrame,
      allowIdentical: Boolean = false): DataFrame =
    counted(types, packedAdjacent(allowIdentical), col("w"))

  /** The FAST TRAINER: up to `rounds` rules over a (toks, w) type table
    * with INCREMENTAL pair-count maintenance — no per-round corpus
    * recount anywhere.
    *
    * Per round, all on bounded state:
    *  1. the argmax of the maintained pair-count table (one collect);
    *  2. ONE narrow pass splits the type table into types containing
    *     the merged pair (encoded under it) and types that cannot
    *     change (passed through untouched);
    *  3. the encoded types emit their exact adjacency-histogram diff
    *     (new pairs at +w, old pairs at −w), folded into the counts
    *     table (zero-count pairs dropped; counts cannot go negative
    *     because the diff is exact).
    *
    * The maintained counts equal a full recount of the rewritten types
    * at every round, so the rule sequence equals [[trainPairs]]' on the
    * same corpus. Both per-round frames are localCheckpoint'd (types:
    * vocabulary-bounded; counts: pair-vocabulary-bounded).
    */
  def trainFast(types0: DataFrame, rounds: Int,
      allowIdentical: Boolean = false): Seq[(String, String)] =
    trainFastState(types0, rounds, allowIdentical)._1

  /** [[trainFast]] plus its final internal state
    * (rules, types, counts) — the counts invariant is spec-checked
    * against a fresh recount of the returned types.
    */
  private[graft] def trainFastState(types0: DataFrame, rounds: Int,
      allowIdentical: Boolean = false)
      : (Seq[(String, String)], DataFrame, DataFrame) = {
    var types = types0.localCheckpoint()
    // the per-round union (untouched ++ rewritten) CONCATENATES its
    // legs' partitions — unchecked, the type table's partition count
    // doubles every round (32 → 2048 by round 7 in the SCALE-BPEFAST
    // A/B, with per-round wall time going geometric on pure task
    // latency). Coalesce every round back to the input's partition
    // count: narrow, no shuffle, and per-round cost goes flat.
    val nParts = math.max(types.rdd.getNumPartitions, 1)
    var counts = pairCounts(types, allowIdentical).localCheckpoint()
    // One round's rewrite under `rule`: the types containing it are
    // encoded, and their adjacency diff is folded into the counts.
    def merge(rule: (String, String)): Unit = {
      val (a, b) = rule
      val adjacent = packedAdjacent(allowIdentical)
      val tagged = types.withColumn("_hit", coalesce(
        exists(adjacent, _ === lit(a + sep + b)), lit(false)))
      val untouched = tagged.filter(!col("_hit")).drop("_hit")
      val touchedOld = tagged.filter(col("_hit")).drop("_hit")
      val touchedNew = encode(touchedOld, Seq(rule))
      val delta = counted(touchedNew, adjacent, col("w"))
        .unionByName(counted(touchedOld, adjacent, -col("w")))
      // The two round outputs are independent given the OLD
      // (checkpointed) types/counts — materialize them as CONCURRENT
      // jobs so the round's wall time is max(counts, types) instead of
      // the sum. Each action still recomputes the tagged/rewrite
      // subtree, but at vocabulary-table size that recompute is cheaper
      // than a third checkpoint to share it.
      val oldCounts = counts
      val countsF = scala.concurrent.Future {
        oldCounts.unionByName(delta)
          .groupBy(col("ab")).agg(sum(col("c")).as("c"))
          .filter(col("c") > 0)
          .localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      val typesF = scala.concurrent.Future {
        untouched.unionByName(touchedNew)
          .coalesce(nParts).localCheckpoint()
      }(scala.concurrent.ExecutionContext.global)
      // failure coordination: await BOTH futures before propagating — a
      // throw from one must not leave the sibling's Spark job running
      // detached — and free a surviving orphan's checkpoint blocks
      val cTry = scala.concurrent.Await.ready(
        countsF, scala.concurrent.duration.Duration.Inf).value.get
      val tTry = scala.concurrent.Await.ready(
        typesF, scala.concurrent.duration.Duration.Inf).value.get
      (cTry, tTry) match {
        case (scala.util.Success(c), scala.util.Success(t)) =>
          counts = c; types = t
        case _ =>
          cTry.foreach(GraftCheckpoint.unpersistCheckpoint)
          tTry.foreach(GraftCheckpoint.unpersistCheckpoint)
          throw cTry.failed.toOption.orElse(tTry.failed.toOption).get
      }
    }
    @annotation.tailrec
    def loop(rules: Seq[(String, String)]): Seq[(String, String)] =
      if (rules.size >= rounds) rules
      else ranked(counts, 1) match {
        case Seq() => rules
        case top =>
          // the last rule needs no rewrite: nothing ranks after it
          if (rules.size + 1 < rounds) merge(top.head)
          loop(rules ++ top)
      }
    val rules = loop(Vector.empty)
    (rules, types, counts)
  }
}
