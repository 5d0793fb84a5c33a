package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Components, GraphRounds}
import graft.queries.ExtQueries

/** Resource lifecycle of the shared graph-round loop (ext/GraphRounds):
  * a call leaves at most one persisted RDD behind — the last snapshot,
  * which the returned frame reads — and never the adjacency.
  */
class GraphRoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def assertReleased(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    val added = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(added.size <= 1, added.values.map(_.toString).mkString(", "))
    val adjacency = sc.getPersistentRDDs.values
      .filter(_.name == GraphRounds.AdjacencyName)
    assert(adjacency.isEmpty, adjacency.mkString(", "))
  }

  test("connectedComponents leaves only its result snapshot persisted") {
    assertReleased {
      val got = Components.connectedComponents(
          Seq(1L, 2L, 3L, 9L).toDF("id"), "id",
          Seq((2L, 1L), (3L, 2L)).toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    }
  }

  test("x70 releases its adjacency once materialized") {
    assertReleased {
      val rows = ExtQueries.queries("x70_graph_pagerank")(
        spark, "/root/testdata/sf0.001").collect()
      assert(rows.nonEmpty)
    }
  }
}
