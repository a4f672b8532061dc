package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Graph analytics over edge lists — the link-analysis tier a web-scale
  * curation pipeline runs to score crawl domains by connectivity (the
  * quality prior used alongside text-level scores; cf. Common Crawl
  * harmonic-centrality ranking). The reference pipeline has no graph
  * operators; this extends the engine the same way the dedup/ANN tier
  * does, and [[connectedComponents]] is the near-dup clustering kernel
  * behind `llm.Curation.dedupClusters`.
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic: ranks are scaled by
  * 1e12 and every step is int64 add / multiply / floor-divide. Floating
  * point would make the result depend on per-partition summation order;
  * integer sums are associative, so the result is bit-identical across
  * partitionings, runs, and engines — which is what makes a DuckDB oracle
  * (chained CTEs, `//` floor division) able to hash-match it exactly.
  */
object Graph {

  /** Rank scale: 1.0 of probability mass = 1e12. Headroom: intermediate
    * products reach 85 * 1e12 < 2^63.
    */
  val Scale = 1000000000000L

  /** One-orientation edges up to which [[pageRank]], [[shortestPaths]] and
    * [[connectedComponents]] run on the driver (see [[gated]]). Each
    * driver-local kernel computes the same integer result as its
    * distributed loop, so the gate picks a plan, never a result. Below it
    * the loops' per-round fixed cost (join + aggregate + checkpoint, about
    * 1 s a round locally: 5.2 s for 590 edges) is all overhead.
    */
  private val LocalMaxEdges = 2000000L

  /** Undirected customer↔supplier graph from co-occurrence in orders:
    * edge (c, s) iff customer c placed an order containing a lineitem
    * supplied by s. Node ids are namespaced into one key space
    * (customer = 2k, supplier = 2k+1) so the bipartite graph lives in a
    * single column pair — the join is orders⋈lineitem on the order key
    * (both sides shuffle on it; at scale both tables would be bucketed by
    * order key making this co-located), then DISTINCT to collapse repeat
    * business to one edge.
    */
  def custSuppEdges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem.select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("bigint") * 2L).as("src"),
        (col("l_suppkey").cast("bigint") * 2L + 1L).as("dst"))
      .distinct()

  /** Fixed-iteration PageRank (damping 0.85) over an undirected edge list.
    *
    * Per iteration, each node's next rank is
    * `(15·Scale) div (100·N)  +  (85 · Σ_{u→v} (rank_u div outdeg_u)) div 100`
    * — the classic update with every division a floor-divide. Mass lost to
    * flooring is O(E) rank units per round (≤ micro-units at Scale=1e12),
    * a deterministic bias identical in both engines.
    *
    * Scale shape: the edge list is joined once per iteration against the
    * rank table (shuffle on src), re-aggregated on dst — the same two
    * shuffles a SQL engine pays per CTE stage. The edge list is persisted
    * (read `iterations` times); each round's rank table is one row per
    * node and localCheckpoint'ed so the plan does not grow with the
    * iteration count (reliable checkpoints on a real cluster). Undirected
    * means no dangling nodes: every node has in- and out-edges, so no
    * dangling-mass redistribution pass is needed. Small graphs run the
    * same recurrence on the driver ([[gated]]); GraphSpec pins both paths
    * to the same output.
    *
    * @param edges (src, dst) pairs, interpreted undirected; must not
    *              contain both orientations of the same pair (bipartite
    *              namespaced inputs like [[custSuppEdges]] guarantee this);
    *              a pair with a null endpoint is no edge
    * @return (id, rank) — rank in Scale units, int64
    */
  def pageRank(edges: DataFrame, iterations: Int): DataFrame =
    gated("Graph.pageRank", edges, "src", "dst")(pageRankLocal(_, iterations),
      pageRankLoop(_, iterations))

  private def pageRankLoop(und: DataFrame, iterations: Int): DataFrame = {
    val deg = und.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // One bounded scalar to the driver: the node count feeds the literal
    // teleport term (matches the oracle's count(*) over the degree CTE).
    val n = deg.count()
    require(n > 0, "pageRank: empty graph")
    val base = 15L * Scale / (100L * n) // Scala Long division = floor (>0)
    // src, dst, outdeg(src) — materialized once, read every iteration.
    val undDeg = Caches.track(und.join(deg, "src").persist())
    var ranks = deg.select(col("src").as("id"))
      .withColumn("rank", lit(Scale / n)).localCheckpoint()
    for (_ <- 1 to iterations) {
      ranks = undDeg.join(ranks, undDeg("src") === ranks("id"))
        .groupBy(undDeg("dst").as("id"))
        .agg((lit(base) +
          expr("85 * sum(rank div outdeg) div 100")).as("rank"))
        .localCheckpoint()
    }
    ranks
  }

  /** The same integer recurrence on the driver: every step is an int64
    * floor-divide or add, so summation order is irrelevant and the result
    * matches the distributed loop bit for bit. Each one-orientation edge
    * carries degree and rank in both directions, exactly as iterating the
    * two-orientation union does.
    */
  private def pageRankLocal(g: LocalGraph, iterations: Int): DataFrame = {
    val n = g.n.toLong
    require(n > 0, "pageRank: empty graph")
    val deg = g.degrees
    val base = 15L * Scale / (100L * n)
    var ranks = Array.fill(g.n)(Scale / n)
    for (_ <- 1 to iterations) {
      val sums = new Array[Long](g.n)
      var e = 0
      while (e < g.m) {
        sums(g.dst(e)) += ranks(g.src(e)) / deg(g.src(e))
        sums(g.src(e)) += ranks(g.dst(e)) / deg(g.dst(e))
        e += 1
      }
      ranks = sums.map(s => base + 85L * s / 100L)
    }
    g.emit(Array.tabulate(g.n)(i => (g.ids(i), ranks(i))),
      StructField("rank", LongType, nullable = true))
  }

  /** DuckDB oracle for [[pageRank]] over [[custSuppEdges]]: the identical
    * integer recurrence as chained CTEs (`//` = floor division in DuckDB;
    * all values positive, so it agrees with Spark's `div`).
    */
  def pageRankOracleCtes(iterations: Int): String = {
    val rounds = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT u.dst AS id,
         |         CAST((15 * ${Scale}) // (100 * n.n)
         |              + 85 * sum(r.rank // u.outdeg) // 100 AS BIGINT) AS rank
         |  FROM und u JOIN r${i - 1} r ON u.src = r.id CROSS JOIN n
         |  GROUP BY u.dst, n.n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
       |                  CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |ud AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM ud GROUP BY 1),
       |und AS (SELECT ud.src, ud.dst, deg.outdeg FROM ud JOIN deg USING (src)),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |r0 AS (SELECT src AS id, CAST(${Scale} // n.n AS BIGINT) AS rank
       |       FROM deg CROSS JOIN n),
       |$rounds""".stripMargin
  }

  /** Triangle enumeration by degree-ordered orientation (compact-forward):
    * orient every undirected edge toward the higher (degree, id) endpoint,
    * join wedges at the lowest-ordered vertex, close against either
    * orientation of the third edge. Each triangle is emitted exactly once
    * (only its π-minimum vertex has two out-edges into it); the wedge
    * fan-out is bounded by the SMALLER endpoint degree per edge — the
    * O(Σ_e d_min(e)) bound that survives skewed degree distributions,
    * instead of the naive O(Σ_v d(v)²). The oriented edge set is persisted
    * (Caches-tracked) across its three consumers.
    *
    * @param pairs undirected edges as `(u, v)` bigint columns with u < v,
    *              no duplicates
    * @return one row per triangle, vertices sorted ascending as (x, y, z)
    */
  def triangles(pairs: DataFrame): DataFrame = {
    // NOT persisted (r9): pairs feeds three subtrees (both degree union
    // branches + the orientation join), but an A/B measurement at sf0.1
    // showed the persist SLOWER (3.0 s -> 3.4 s for g03) — the cache
    // materialization barrier costs more than the recomputes it saves on
    // a cached-scan upstream. Callers with a genuinely expensive pair
    // generator should persist before calling.
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val e = pairs
      .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"))
    val eo = Caches.track(e.persist())
    // wedge endpoints are emitted id-ordered (b < c), so the closing-edge
    // probe joins on the UNORDERED pair key (least, greatest) — a pure
    // equi-join (hash join), never a nested-loop OR of orientations
    val wedges = eo.as("e1").join(eo.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val closing = eo.select(least(col("src"), col("dst")).as("b"),
      greatest(col("src"), col("dst")).as("c"))
    wedges.join(closing, Seq("b", "c"))
      .select(sort_array(array(col("a"), col("b"), col("c"))).as("t"))
      .select(col("t").getItem(0).as("x"), col("t").getItem(1).as("y"),
        col("t").getItem(2).as("z"))
  }

  /** Multi-source BFS hop distances, bounded to `maxHops` — the
    * reachability primitive (seed-set expansion over a link graph, the
    * crawl-frontier / influence-radius shape). Level-synchronous: each
    * round joins ONLY the current frontier (nodes first reached last
    * round) against the edge list, drops already-settled nodes with an
    * anti-join, and unions the new level in. The frontier join keys on
    * src, the settled table is localCheckpoint'ed per round so the plan
    * stays constant-size in hops (reliable checkpoints on a real cluster),
    * and each round is two co-keyed shuffles — never a whole-graph
    * re-walk. Equivalent to min-dist over all ≤maxHops walks, which is
    * what the recursive-CTE oracle computes. Small graphs walk the same
    * levels on the driver ([[gated]]).
    *
    * @param edges (src, dst) pairs, interpreted undirected (both
    *              orientations are generated internally); a pair with a
    *              null endpoint is no edge
    * @param seeds single-column `id` frame, distance-0 nodes (a null id
    *              is no node)
    * @return (id, dist) for every node within maxHops of a seed
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
                    maxHops: Int): DataFrame =
    gated("Graph.shortestPaths", edges, "src", "dst")(
      shortestPathsLocal(_, seeds, maxHops), shortestPathsLoop(_, seeds, maxHops))

  private def seedIds(seeds: DataFrame): DataFrame =
    seeds.select(col("id")).where(col("id").isNotNull).distinct()

  private def shortestPathsLoop(und: DataFrame, seeds: DataFrame,
                                maxHops: Int): DataFrame = {
    var settled = seedIds(seeds).withColumn("dist", lit(0)).localCheckpoint()
    var frontier = settled
    var hop = 1
    while (hop <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(und, frontier("id") === und("src"))
        .select(und("dst").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint()
      settled = settled.union(next).localCheckpoint()
      frontier = next
      hop += 1
    }
    settled
  }

  /** The same level walk over CSR adjacency on the driver. Hop distances
    * are unique integers (min over walks), so the settled set is the
    * distributed loop's — including seeds that touch no edge, which
    * settle at distance 0 on both paths.
    */
  private def shortestPathsLocal(g: LocalGraph, seeds: DataFrame,
                                 maxHops: Int): DataFrame = {
    val (off, adj) = g.csr
    val seedList = seedIds(seeds).collect().map(_.getLong(0))
    val dist = Array.fill(g.n)(Int.MaxValue)
    // only in-graph seeds can expand
    var frontier = seedList.map(g.indexOf).filter(_ >= 0)
    frontier.foreach(dist(_) = 0)
    for (hop <- 1 to maxHops) {
      val next = mutable.ArrayBuilder.make[Int]
      for (u <- frontier; k <- off(u) until off(u + 1)
           if dist(adj(k)) == Int.MaxValue) {
        dist(adj(k)) = hop; next += adj(k)
      }
      frontier = next.result()
    }
    val reached = g.ids.indices.filter(dist(_) != Int.MaxValue)
      .map(i => (g.ids(i), dist(i)))
    val isolated = seedList.filter(g.indexOf(_) < 0).map((_, 0))
    g.emit(reached ++ isolated, StructField("dist", IntegerType, nullable = false),
      seeds.schema("id").nullable)
  }

  /** Connected components over an undirected edge list by min-label
    * propagation with pointer jumping: every vertex starts as its own
    * label; each round a vertex adopts the minimum of its own label, its
    * neighbors' labels, and its label's label (the shortcut step —
    * label-distance covered doubles per round, so rounds are
    * O(log diameter) instead of O(diameter), the PRAM shortcutting
    * technique also underlying large-star/small-star, Kiveris et al.,
    * SoCC'14). Each round shuffles the edge list against the label table
    * (the dominant volume) plus two small copies of the touched-vertex
    * label table for the shortcut self-join — on near-dup graphs the
    * label table is tiny next to the edges, so the shortcut's insurance
    * against chain-shaped components costs little. The frontier is
    * localCheckpoint'ed so the plan does not grow with the iteration
    * count (on a real cluster, point `spark.checkpoint.dir` at durable
    * storage and use reliable checkpoints instead). Near-dup edge lists
    * are a tiny fraction of the corpus: when they fit on the driver,
    * union-find replaces the loop ([[gated]]; measured 5.2 s of pure
    * per-round overhead for 590 edges at sf0.1).
    *
    * @param edges    (doc_a, doc_b) pairs, interpreted undirected; a
    *                 pair with a null endpoint is no edge
    * @param vertices frame of all vertex ids in `doc_id` (singletons keep
    *                 their own label and appear as size-1 clusters)
    * @return (doc_id, cluster) — cluster = min vertex id of the component
    */
  def connectedComponents(edges: DataFrame, vertices: DataFrame): DataFrame =
    gated("Graph.connectedComponents", edges, "doc_a", "doc_b")(
      componentsLocal(_, vertices), componentsLoop(_, vertices, ComponentsMaxIter))

  /** Label-propagation rounds after which [[connectedComponents]]'
    * distributed loop throws rather than return unconverged labels. */
  private val ComponentsMaxIter = 50

  /** [[connectedComponents]]' distributed loop with its round limit set:
    * the non-convergence spec's entry. */
  private[graft] def connectedComponentsLoop(edges: DataFrame, vertices: DataFrame,
                                             maxIter: Int): DataFrame =
    componentsLoop(undirected(edgeList(edges, "doc_a", "doc_b")), vertices, maxIter)

  private def componentsLoop(und: DataFrame, vertices: DataFrame,
                             maxIter: Int): DataFrame = {
    // Only edge-touched vertices can ever change label — iterate over that
    // subgraph and re-attach everything else as singleton clusters at the
    // end. In a dedup corpus the near-dup fraction is small, so each
    // round's shuffle carries |touched| rows, not |corpus|.
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")).localCheckpoint()
    // Convergence via a monotone invariant: Σ labels strictly decreases
    // every round until the fixpoint, so one tiny aggregate per round
    // detects it — no join against the previous frontier, no extra count
    // job. (Labels only ever move down to the component minimum.) The sum
    // runs in DECIMAL(38,0): hashed 64-bit ids (magnitudes ~1e18, signed)
    // overflow a Long sum, which throws under Spark's ANSI default.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = und.join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster"))
      // pointer jump: my label's current label (labels form a forest
      // pointing at component minima-so-far; following two hops at once
      // doubles convergence speed on chains)
      val short = labels.as("a")
        .join(labels.select(col("id").as("cluster"),
          col("cluster").as("cluster2")).as("b"), "cluster")
        .select(col("a.id").as("id"), col("cluster2").as("cluster"))
      labels = labels.union(prop).union(short)
        .groupBy("id").agg(min("cluster").as("cluster"))
        .localCheckpoint() // one row per vertex; cuts the iterative lineage
      val s = labelSum(labels)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      iter += 1
    }
    // Unconverged labels are silently WRONG (one component reported as
    // several — the exact leakage leakageFreeSplit exists to prevent), so
    // fail loudly instead. Diameter > maxIter means the graph is not
    // dedup-cluster-shaped; raise maxIter or pre-collapse with exact dedup.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "component diameter exceeds maxIter")
    withSingletons(labels, vertices)
  }

  /** Union-find on the driver, over the dense index. A union attaches the
    * root with the larger ORIGINAL id under the smaller, so every root is
    * the minimum id of its component — the label the propagation loop
    * converges to; path compression keeps find amortized near-constant.
    * A self-loop just registers its vertex, the label propagation gives it
    * too.
    */
  private def componentsLocal(g: LocalGraph, vertices: DataFrame): DataFrame = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for (e <- 0 until g.m) {
      val (ra, rb) = (find(g.src(e)), find(g.dst(e)))
      if (g.ids(ra) < g.ids(rb)) parent(rb) = ra
      else if (ra != rb) parent(ra) = rb
    }
    val labels = g.emit(Array.tabulate(g.n)(i => (g.ids(i), g.ids(find(i)))),
      StructField("cluster", LongType, nullable = true))
    withSingletons(labels, vertices)
  }

  /** `(id, cluster)` labels of the edge-touched vertices plus every other
    * vertex as its own cluster, under `doc_id`.
    */
  private def withSingletons(labels: DataFrame, vertices: DataFrame): DataFrame = {
    val singletons = vertices.select(col("doc_id").as("id"))
      .join(labels.select("id"), Seq("id"), "left_anti")
      .withColumn("cluster", col("id"))
    labels.union(singletons).select(col("id").as("doc_id"), col("cluster"))
  }

  /** The one-orientation `(src, dst)` edge list every kernel above starts
    * from. A pair with a null endpoint is dropped: it joins no two
    * vertices, and neither path may count the null as a node.
    */
  private def edgeList(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(col(src).as("src"), col(dst).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

  /** Both orientations of a one-orientation list, persisted: the
    * distributed loops re-read it every round.
    */
  private def undirected(edg: DataFrame): DataFrame =
    Caches.track(edg.union(edg.select(col("dst").as("src"),
      col("src").as("dst"))).persist())

  /** The [[SizeGate]] `gate` in front of an iterative kernel here, over
    * the one-orientation list's count: at most [[LocalMaxEdges]] edges
    * collect into a [[LocalGraph]] for `local`, more go to `distributed`
    * as the two-orientation union, which persists over the persisted list.
    * The union persists BELOW the gate, where only the distributed loops
    * pay its fill: persisting it ahead of the count put a 2E-row fill and
    * a double-width collect in front of every driver-local run (measured
    * g01 1.42 → 2.32 s). Both sides return materialized results (local
    * relations, checkpointed loop state), so the list is released on
    * return.
    */
  private def gated(gate: String, edges: DataFrame, src: String, dst: String)(
      local: LocalGraph => DataFrame,
      distributed: DataFrame => DataFrame): DataFrame =
    SizeGate.counted(gate, edgeList(edges, src, dst), LocalMaxEdges)(
      edg => local(new LocalGraph(edg)), edg => distributed(undirected(edg)))

  /** A one-orientation edge list collected once into a dense index: vertex
    * `i` is `ids(i)`, numbered in first-seen order; edge `e` joins `src(e)`
    * and `dst(e)`. The driver-local kernels run on these primitive arrays
    * (boxed Long→Long maps measured ~5× slower on a 1M-edge graph).
    */
  private final class LocalGraph(edg: DataFrame) {
    private val index = mutable.LongMap.empty[Int]
    val (ids, src, dst) = {
      val rows = edg.collect()
      val found = mutable.ArrayBuffer.empty[Long]
      def idx(v: Long): Int =
        index.getOrElseUpdate(v, { found += v; found.length - 1 })
      val s = new Array[Int](rows.length)
      // src before dst, edge by edge: the first-seen numbering
      val d = Array.tabulate(rows.length) { e =>
        s(e) = idx(rows(e).getLong(0)); idx(rows(e).getLong(1))
      }
      (found.toArray, s, d)
    }
    def n: Int = ids.length
    def m: Int = src.length

    /** The dense index of `id`, or -1 when no edge touches it. */
    def indexOf(id: Long): Int = index.getOrElse(id, -1)

    /** Undirected degrees: an edge counts at both of its endpoints. */
    def degrees: Array[Int] = {
      val deg = new Array[Int](n)
      for (e <- 0 until m) { deg(src(e)) += 1; deg(dst(e)) += 1 }
      deg
    }

    /** CSR adjacency over both orientations: the neighbours of `i` are
      * `adj(off(i) until off(i + 1))`.
      */
    def csr: (Array[Int], Array[Int]) = {
      val off = degrees.scanLeft(0)(_ + _)
      val adj = new Array[Int](2 * m)
      val fill = java.util.Arrays.copyOf(off, n)
      for (e <- 0 until m) {
        adj(fill(src(e))) = dst(e); fill(src(e)) += 1
        adj(fill(dst(e))) = src(e); fill(dst(e)) += 1
      }
      (off, adj)
    }

    /** A driver-local `(id, value)` result back in Spark, as an RDD-backed
      * frame (not a plan-embedded local relation: it can hold millions of
      * rows), under the distributed loop's schema: `id` is nullable when
      * an edge column is, or when `moreNullable` (another input the loop
      * takes ids from) is. The tasks ship primitive pairs and build their
      * own Rows: driver-built Rows doubled the local components time on a
      * 2M-edge, 3M-vertex graph (4 CPUs: 9–12 s against 4–5 s).
      */
    def emit[V](rows: Seq[(Long, V)], value: StructField,
                moreNullable: Boolean = false): DataFrame = {
      val idNullable = moreNullable || edg.schema.exists(_.nullable)
      val spark = edg.sparkSession
      spark.createDataFrame(spark.sparkContext
          .parallelize(rows, math.max(1, rows.size / 500000 + 1))
          .map { case (id, v) => Row(id, v) },
        StructType(Seq(StructField("id", LongType, idNullable), value)))
    }
  }
}
