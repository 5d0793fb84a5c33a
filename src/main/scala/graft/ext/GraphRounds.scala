package graft.ext

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Round-based message passing over an undirected graph — the one loop
  * behind [[Components.connectedComponents]] (min labels, run to a
  * fixpoint) and x70's integer PageRank (summed rank shares, 5 rounds).
  *
  * Every node carries one Long value. In each round every node sends
  * `send(value, degree)` along each of its edges, the messages a node
  * hears are folded with `combine`, and a node that heard anything
  * takes `update(value, combined)`; a node that heard nothing keeps
  * its value.
  *
  * Scale posture: the symmetrized, de-duplicated adjacency is built
  * once, hash-partitioned into `spark.sql.shuffle.partitions`
  * partitions and persisted; the node snapshots live under the SAME
  * partitioner, so the per-round adjacency⋈snapshot join and the
  * snapshot⋈messages cogroup are narrow. A round's only shuffle is the
  * destination-keyed message combine (map-side combined, so it carries
  * at most |V| entries per partition). Nothing is broadcast and
  * nothing graph-sized reaches the driver.
  *
  * Each round is materialized by the same job that counts the nodes
  * whose value changed, and the superseded snapshot is unpersisted as
  * soon as the new one exists: storage holds at most two snapshots
  * plus the adjacency at any round count, and Catalyst never sees a
  * lineage that grows with rounds.
  */
object GraphRounds {

  /** A node's value this round and the round before, and its degree. */
  private final case class Node(value: Long, prev: Long, deg: Int)

  /** RDD name of the persisted adjacency; it is unpersisted before
    * [[run]] returns.
    */
  val AdjacencyName = "graft.GraphRounds.adjacency"

  /** @param edges    undirected edges: exactly two numeric columns,
    *                  the endpoints; duplicates and either direction
    *                  are allowed
    * @param nodes    optional frame of extra node ids (one numeric
    *                  column); a node with no edge keeps its seed value
    * @param init     seed value of a node, from its id
    * @param send     message a node sends to each neighbour, from its
    *                  value and its degree (≥ 1)
    * @param combine  associative, commutative fold of the messages a
    *                  node hears
    * @param update   new value, from the old one and the combined
    *                  messages
    * @param rounds   maximum number of rounds. The loop stops early at
    *                  a fixpoint, where further rounds change nothing
    * @param toFixpoint reaching `rounds` with values still changing
    *                  throws instead of returning (the caller's answer
    *                  is only defined at the fixpoint)
    * @return (id, deg, value) — one row per node (edge endpoints ∪
    *         `nodes`), deg = distinct neighbours. The frame reads the
    *         last snapshot, which stays persisted: it is the only RDD
    *         this call leaves persisted.
    */
  def run(
      edges: DataFrame, nodes: Option[DataFrame],
      init: Long => Long, send: (Long, Int) => Long,
      combine: (Long, Long) => Long, update: (Long, Long) => Long,
      rounds: Int, toFixpoint: Boolean): DataFrame = {
    val spark = edges.sparkSession
    val part = new HashPartitioner(
      math.max(spark.sessionState.conf.numShufflePartitions, 1))
    // one pass over the edge frame (a Catalyst union of both
    // directions would evaluate the caller's edge pipeline twice) and
    // one shuffle; duplicates go within each node's neighbour list
    val adj = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        Iterator((a, b), (b, a))
      }
      .groupByKey(part).mapValues(_.toArray.distinct)
      .setName(AdjacencyName)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val extra: RDD[(Long, Unit)] = nodes match {
      case Some(n) => n.toDF("id").select(col("id").cast("long"))
          .rdd.map(r => (r.getLong(0), ()))
      case None => spark.sparkContext.emptyRDD[(Long, Unit)]
    }
    // seeding covers endpoints ∪ nodes, so the id set is CLOSED:
    // messages only reach seeded ids, and every id has a snapshot row
    var state: RDD[(Long, Node)] = adj.cogroup(extra, part)
      .mapPartitions(_.map { case (id, (nbrs, _)) =>
        val v = init(id)
        (id, Node(v, v, nbrs.headOption.fold(0)(_.length)))
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < rounds) {
      val msgs = adj.join(state, part)
        .flatMap { case (_, (nbrs, n)) =>
          val m = send(n.value, nbrs.length)
          nbrs.iterator.map(dst => (dst, m))
        }
        .reduceByKey(part, combine)
      val next = state.cogroup(msgs, part)
        .mapValues { case (self, heard) =>
          val n = self.head
          Node(heard.headOption.fold(n.value)(update(n.value, _)), n.value, n.deg)
        }
        .persist(StorageLevel.MEMORY_AND_DISK)
      changed = next.filter { case (_, n) => n.value != n.prev }.count()
      state.unpersist(blocking = false)
      state = next
      round += 1
    }
    adj.unpersist(blocking = false)
    org.slf4j.LoggerFactory.getLogger(getClass)
      .info(s"graph rounds: $round, nodes still changing: $changed")
    if (toFixpoint && changed > 0) {
      state.unpersist(blocking = false)
      throw new IllegalStateException(
        s"graph rounds did not converge within $rounds rounds")
    }
    spark.createDataFrame(
      state.map { case (id, n) => Row(id, n.deg.toLong, n.value) },
      StructType(Seq("id", "deg", "value")
        .map(StructField(_, LongType, nullable = false))))
  }
}
