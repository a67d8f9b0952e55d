package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.GraphAnalytics
import graft.store.GraphStore

/** GraphX-lift analytics behavior (the oracle rows g42-g45 gate the
  * testdata shapes; this pins the algorithms on hand-computable
  * fixtures).
  */
class GraphAnalyticsSpec extends SparkSpec {

  private def chainStore(): GraphStore = {
    val st = new GraphStore(spark)
    st.createSchema("N", "name" -> StringType)
    (0 until 5).foreach(i => st.createNode("N", Map("name" -> s"n$i")))
    // chain 0-1-2-3-4 plus a shortcut 0-3
    (0 until 4).foreach(i => st.connect("N", i, "next", "N", i + 1))
    st.connect("N", 0, "short", "N", 3)
    st
  }

  test("shortestPaths: undirected BFS with a shortcut edge") {
    val st = chainStore()
    val res = GraphAnalytics.shortestPaths(st,
      Seq(("next", "N", "N"), ("short", "N", "N")), Seq(("N", 0L)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist"))
      .toMap
    assert(res === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 1, 4L -> 2))
  }

  test("shortestPaths: directed edges are one-way without undirected") {
    val st = chainStore()
    val res = GraphAnalytics.shortestPaths(st, Seq(("next", "N", "N")),
      Seq(("N", 4L)), undirected = false)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist"))
      .toMap
    // ShortestPaths walks OUT-edges toward the landmark: every node
    // reaches 4 along the chain; nothing is reachable FROM 4 but that
    // direction is not what's computed
    assert(res === Map(0L -> 4, 1L -> 3, 2L -> 2, 3L -> 1, 4L -> 0))
  }

  test("degrees: directed counts, isolated nodes at zero") {
    val st = chainStore() // chain 0->1->2->3->4 plus shortcut 0->3
    val res = GraphAnalytics.degrees(st,
      Seq(("next", "N", "N"), ("short", "N", "N")))
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("in_deg"), r.getAs[Int]("out_deg"),
          r.getAs[Int]("deg"))).toMap
    assert(res === Map(
      0L -> ((0, 2, 2)), 1L -> ((1, 1, 2)), 2L -> ((1, 1, 2)),
      3L -> ((2, 1, 3)), 4L -> ((1, 0, 1))))
  }

  test("labelPropagation: deterministic min-label communities, " +
      "pairs do not oscillate") {
    val st = new GraphStore(spark)
    st.createSchema("N", "name" -> StringType)
    (0 until 8).foreach(i => st.createNode("N", Map("name" -> s"n$i")))
    // triangle {0,1,2}, triangle {3,4,5}, pair {6,7}
    Seq((0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (6, 7))
      .foreach { case (a, b) => st.connect("N", a, "e", "N", b) }
    val res = GraphAnalytics.labelPropagation(st, Seq(("e", "N", "N")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L, 7L -> 6L))
    // determinism: a second run is identical
    val again = GraphAnalytics.labelPropagation(st, Seq(("e", "N", "N")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === res)
  }

  test("connectedComponents splits on missing edges") {
    val st = new GraphStore(spark)
    st.createSchema("N", "name" -> StringType)
    (0 until 4).foreach(i => st.createNode("N", Map("name" -> s"n$i")))
    st.connect("N", 0, "e", "N", 1)
    st.connect("N", 2, "e", "N", 3)
    val res = GraphAnalytics.connectedComponents(st, Seq(("e", "N", "N")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("store connectedComponents equals GraphX over two labels with " +
      "overlapping ids, a dangling endpoint and isolated nodes") {
    import spark.implicits._
    // customer/orders-like: both labels use ids 0..3, so un-namespaced
    // ids would merge C0 with O0 and C1 with O1; order 9 has no node row
    // (attachEdges allows it) and must still be a vertex; C3 and O4 have
    // no edge
    val st = new GraphStore(spark)
    st.attachNodes("C",
      Seq(0L, 1L, 2L, 3L).map(i => (i, s"c$i")).toDF("id", "name"), "id")
    st.attachNodes("O",
      Seq(0L, 1L, 2L, 3L, 4L).map(i => (i, s"o$i")).toDF("id", "name"), "id")
    st.attachEdges("placed", "C", "O",
      Seq((1L, 0L), (2L, 3L), (0L, 9L)).toDF("src", "dst"))
    val sets = Seq(("placed", "C", "O"))
    val rows = GraphAnalytics.connectedComponents(st, sets)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val local = (1L << 60) - 1
    val oracle = GraphAnalytics.lift(st, sets).connectedComponents()
      .vertices.collect()
      .map { case (v, c) => (v & local) -> (c & local) }.toSeq.sorted
    assert(oracle.size === 10) // 4 customers, 5 orders, 1 dangling order
    assert(rows === oracle)
  }
}
