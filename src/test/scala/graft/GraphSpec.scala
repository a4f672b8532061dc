package graft

import graft.ops.{Graph, SizeGate}

/** ops/Graph: fixed-point-integer PageRank invariants plus bit-equality
  * against a driver-side reference implementation of the same recurrence.
  */
class GraphSpec extends SparkSpec {

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int = 5,
                      distributed: Boolean = false): Map[Long, Long] = {
    val sp = spark
    import sp.implicits._
    val df = edges.toDF("src", "dst")
    try (if (distributed) SizeGate.pinned("Graph.pageRank" -> SizeGate.Distributed)(
           Graph.pageRank(df, iters))
         else Graph.pageRank(df, iters))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.ops.Caches.releaseAll()
  }

  /** The identical integer recurrence, sequentially on the driver. */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val und = (edges ++ edges.map(e => (e._2, e._1)))
    val deg = und.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = deg.size.toLong
    val base = 15L * Graph.Scale / (100L * n)
    var rank = deg.keys.map(_ -> Graph.Scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = und.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => rank(e._1) / deg(e._1)).sum
      }
      rank = contrib.map { case (v, c) => v -> (base + 85L * c / 100L) }
    }
    rank
  }

  test("cycle graph: all ranks equal (symmetry)") {
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val r = ranksOf(cycle)
    assert(r.size == 4)
    assert(r.values.toSet.size == 1, s"ranks differ on a vertex-transitive graph: $r")
  }

  test("star graph: hub outranks leaves; total mass stays within Scale") {
    val star = (2L to 6L).map(l => (1L, l))
    val r = ranksOf(star)
    assert((2L to 6L).forall(l => r(1L) > r(l)), s"hub not top: $r")
    assert(r(2L) == r(6L), "leaves are symmetric")
    val total = r.values.sum
    // floor-division loses mass, never creates it
    assert(total <= Graph.Scale && total > Graph.Scale * 9 / 10, s"mass $total")
  }

  test("matches the driver-side reference recurrence bit-for-bit") {
    // Irregular multi-component graph: a triangle, a path, an isolated pair
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 7L), (8L, 9L), (1L, 4L))
    // both size-dispatch paths: local (under the gate) and distributed
    assert(ranksOf(g, 4) == reference(g, 4))
    assert(ranksOf(g, 7) == reference(g, 7))
    assert(ranksOf(g, 4, distributed = true) == reference(g, 4))
    assert(ranksOf(g, 7, distributed = true) == reference(g, 7))
  }

  test("shortestPaths: BFS distances on a planted path + branch graph") {
    val sp = spark
    import sp.implicits._
    // path 1-2-3-4-5 with a branch 2-6; node 9 unreachable (no edges to it)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (8L, 9L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    try {
      val got = Graph.shortestPaths(edges, seeds, maxHops = 3)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 6L -> 2, 4L -> 3),
        s"BFS distances wrong: $got") // 5 is 4 hops away, 8/9 disconnected
    } finally graft.ops.Caches.releaseAll()
  }

  test("shortestPaths: multi-source takes the minimum over seeds") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("id")
    try {
      val got = Graph.shortestPaths(edges, seeds, maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2),
        s"multi-source BFS wrong: $got")
    } finally graft.ops.Caches.releaseAll()
  }

  test("shortestPaths: local and distributed paths settle the same set") {
    val sp = spark
    import sp.implicits._
    // branchy graph + a seed (42) touching no edge: it must settle at 0
    // on both paths
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (6L, 7L), (8L, 9L), (9L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L, 42L).toDF("id")
    def run(distributed: Boolean) =
      try (if (distributed) SizeGate.pinned("Graph.shortestPaths" -> SizeGate.Distributed)(
             Graph.shortestPaths(edges, seeds, maxHops = 3))
           else Graph.shortestPaths(edges, seeds, maxHops = 3))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      finally graft.ops.Caches.releaseAll()
    val local = run(distributed = false)
    val dist = run(distributed = true)
    assert(local == dist, s"paths disagree: local=$local dist=$dist")
    assert(local(42L) == 0 && local(9L) == 1 && local(4L) == 3)
  }

  test("edges with a null endpoint are no edges, on both paths") {
    val sp = spark
    import sp.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (1L, 4L))
    val edges = (g.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(6L), None), (None, Some(2L)), (None, None))).toDF("src", "dst")
    val seeds = Seq(Some(1L), None).toDF("id")
    try {
      val ranks = Seq(Graph.pageRank(edges, 4),
        SizeGate.pinned("Graph.pageRank" -> SizeGate.Distributed)(Graph.pageRank(edges, 4)))
      ranks.foreach(r => assert(
        r.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == reference(g, 4)))
      val dists = Seq(Graph.shortestPaths(edges, seeds, maxHops = 2),
        SizeGate.pinned("Graph.shortestPaths" -> SizeGate.Distributed)(
          Graph.shortestPaths(edges, seeds, maxHops = 2)))
      dists.foreach(d => assert(d.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap ==
        Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 2)))
      assert(ranks(0).schema == ranks(1).schema)
      assert(dists(0).schema == dists(1).schema)
    } finally graft.ops.Caches.releaseAll()
  }

  test("custSuppEdges namespaces customers even / suppliers odd, distinct") {
    val sp = spark
    import sp.implicits._
    val orders = Seq((100L, 7L), (101L, 7L), (102L, 8L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((100L, 1L), (100L, 1L), (101L, 1L), (102L, 2L))
      .toDF("l_orderkey", "l_suppkey")
    val e = Graph.custSuppEdges(orders, lineitem)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // repeat business (cust 7 → supp 1 via two orders + a dup lineitem)
    // collapses to one edge
    assert(e == Set((14L, 3L), (16L, 5L)))
  }
}
