package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Connected components over a near-duplicate graph — the step that
  * turns pairwise near-dup EDGES (Dedup.nearDupPairs, x02) into dedup
  * DECISIONS: every document in a component is a variant of the same
  * underlying text, the component's minimum id is the canonical
  * survivor, everything else is droppable. (The reference has no dedup
  * at all — SURVEY.md §2 bug list — so this whole layer is north-star
  * extension surface.)
  *
  * Algorithm: iterative min-label propagation ("hash-to-min" lite).
  * Every node starts labelled with its own id; each round, every node
  * takes the min of its own label and its neighbors' labels; fixpoint =
  * every node carries its component's global minimum id. Rounds needed =
  * graph diameter — for dedup graphs that is tiny (variants of one text
  * form near-cliques; even chains of re-mutations are short), which is
  * why label propagation is the standard industrial shape for dedup
  * clustering rather than a full large-star/small-star implementation.
  * (Pointer jumping halves the rounds but doubles each round's joins;
  * it only pays past ~6-8 rounds, see PLANS.md round-7 note.)
  *
  * Seeding covers nodes ∪ edge endpoints: an endpoint that is missing
  * from the node frame still participates with its own id as a label
  * (it can be the component minimum and it can bridge a chain), so the
  * per-round id set is CLOSED — messages only flow to seeded ids —
  * which is what makes the strict-decrease convergence check complete.
  *
  * The rounds run on [[GraphRounds]] with a min combine: the
  * co-partitioned, per-round-materialized loop described there.
  */
object Components {

  /** @param nodes one row per node (extra columns ignored); endpoints
    *              appearing only in `edges` are seeded automatically
    * @param idCol  node id column in `nodes` (numeric)
    * @param edges  undirected edge list, one row per edge
    * @param aCol   edge endpoint column in `edges`
    * @param bCol   other endpoint column in `edges`
    * @param maxIter hard cap on propagation rounds (diameter bound);
    *                reaching it without a fixpoint throws — silently
    *                returning partially-propagated labels would hand
    *                the caller wrong cluster ids
    * @return (idCol, cluster_id) — cluster_id = min node id reachable.
    *         The last label snapshot behind it stays persisted; the
    *         adjacency does not.
    */
  def connectedComponents(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    GraphRounds.run(
        edges.select(col(aCol), col(bCol)), Some(nodes.select(col(idCol))),
        init = id => id, send = (lbl, _) => lbl,
        combine = math.min, update = math.min,
        rounds = maxIter, toFixpoint = true)
      .select(col("id").as(idCol), col("value").as("cluster_id"))
  }
}
