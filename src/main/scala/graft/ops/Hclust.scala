package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K8 — agglomerative hierarchical clustering (UPGMA / average linkage)
  * over the sample axis, the clustering behind the reference's
  * `pheatmap(cluster_rows, cluster_cols)` heatmaps
  * (/root/reference/volcano_heatmap.R:40-47, volcano.R:185-199). The engine
  * emits the plot-ready tables: the merge schedule (one row per
  * agglomeration step, with height) and the dendrogram leaf order — what a
  * renderer draws, minus the pixels (SURVEY.md §2 scope rule for K8).
  *
  * Scale shape = the k08/K2 asymmetry: pairwise distances are computed
  * DISTRIBUTED (probe-keyed self-join → one hash aggregate, probes is the
  * axis that grows at 100 TB), and only the samples×samples matrix is
  * collected for the O(samples³) linkage loop — samples is the bounded
  * axis (135 in the reference). The distance input is the exact same
  * integer-moment aggregate k08 oracle-checks against DuckDB.
  *
  * Ties break deterministically on (distance, label, label) so the merge
  * schedule is platform-stable.
  */
object Hclust {

  /** Distributed pairwise mean-squared distance on the beta grid over
    * `bk` (probe_id, sample_id, k): per sample pair sa < sb, the shared
    * probe count `n_shared`, the exact integer numerator `d2_num` =
    * Σ(ka − kb)², and `d2` = d2_num / (997² · n_shared) applied once at
    * the end. k08 checks this table against DuckDB; k02's Gram matrix and
    * [[mergeTable]] read it.
    */
  def sampleDistances(bk: DataFrame): DataFrame = {
    val l = bk.select(col("probe_id"), col("sample_id").as("sa"), col("k").as("ka"))
    val r = bk.select(col("probe_id"), col("sample_id").as("sb"), col("k").as("kb"))
    l.join(r, "probe_id").filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("n_shared"),
        sum((col("ka") - col("kb")) * (col("ka") - col("kb"))).as("d2_num"))
      .withColumn("d2", col("d2_num").cast("double")
        / (lit(994009.0) * col("n_shared").cast("double")))
  }

  /** Average-linkage merge schedule from a collected condensed distance
    * matrix. Labels: leaves keep their ids; internal nodes are "N<step>".
    * Returns (step, left, right, height, size) plus the leaf order.
    *
    * O(n²) memory (one in-place n×n matrix; the merged cluster reuses the
    * lower slot) and ~O(n²) time via cached per-row nearest neighbors —
    * each merge updates one row/col and only re-scans rows whose cached
    * nearest was one of the merged pair. 1000 samples link in well under a
    * second (the naive all-pairs rescan was 80 s at that size). Argmin is
    * still the global (distance, label, label) order, so tie-breaks are
    * platform-stable and identical to the reference implementation of this
    * method in HclustSpec.
    */
  def linkage(ids: IndexedSeq[String], dist: (Int, Int) => Double)
      : (Seq[(Int, String, String, Double, Int)], Seq[String]) = {
    val n = ids.length
    if (n == 0) return (Seq.empty, Seq.empty)
    if (n == 1) return (Seq.empty, Seq(ids.head))
    require(n <= 16000,
      s"hclust sample axis $n exceeds the bounded-driver envelope (16000); " +
        "cluster a bounded selection or consume the distributed distance table directly")
    val d = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- i + 1 until n) {
      val v = dist(i, j); d(i)(j) = v; d(j)(i) = v
    }
    val label = Array.tabulate(n)(ids(_))
    val size = Array.fill(n)(1)
    val members = Array.tabulate(n)(i => Vector(ids(i)))
    val created = Array.tabulate(n)(identity) // creation order for leaf-order concat
    val alive = Array.fill(n)(true)
    val bestJ = Array.fill(n)(-1)

    // candidate(i,j) = (d, min(label), max(label)); strict total order
    def less(dA: Double, aLo: String, aHi: String,
             dB: Double, bLo: String, bHi: String): Boolean =
      dA < dB || (dA == dB && (aLo < bLo || (aLo == bLo && aHi < bHi)))
    def lohi(i: Int, j: Int): (String, String) =
      if (label(i) <= label(j)) (label(i), label(j)) else (label(j), label(i))
    def recompute(i: Int): Unit = {
      var bj = -1; var bd = 0.0; var blo = ""; var bhi = ""
      var j = 0
      while (j < n) {
        if (j != i && alive(j)) {
          val (lo, hi) = lohi(i, j)
          if (bj < 0 || less(d(i)(j), lo, hi, bd, blo, bhi)) {
            bj = j; bd = d(i)(j); blo = lo; bhi = hi
          }
        }
        j += 1
      }
      bestJ(i) = bj
    }
    for (i <- 0 until n) recompute(i)

    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Double, Int)]
    var nActive = n
    var step = 1
    while (nActive > 1) {
      // global argmin over row caches = global argmin over all pairs
      var bi = -1; var bd = 0.0; var blo = ""; var bhi = ""
      var i = 0
      while (i < n) {
        if (alive(i) && bestJ(i) >= 0) {
          val j = bestJ(i)
          val (lo, hi) = lohi(i, j)
          if (bi < 0 || less(d(i)(j), lo, hi, bd, blo, bhi)) {
            bi = i; bd = d(i)(j); blo = lo; bhi = hi
          }
        }
        i += 1
      }
      val a = bi; val b = bestJ(bi)
      val h = d(a)(b)
      // merged cluster lives in slot a; earlier-created members lead
      val (first, second) = if (created(a) <= created(b)) (a, b) else (b, a)
      val newMembers = members(first) ++ members(second)
      val (sa, sb) = (size(a), size(b))
      // UPGMA: d(new, c) = (|a| d(a,c) + |b| d(b,c)) / (|a|+|b|)
      var c = 0
      while (c < n) {
        if (alive(c) && c != a && c != b) {
          val v = (sa * d(a)(c) + sb * d(b)(c)) / (sa + sb).toDouble
          d(a)(c) = v; d(c)(a) = v
        }
        c += 1
      }
      alive(b) = false
      label(a) = s"N$step"; size(a) = sa + sb
      members(a) = newMembers; created(a) = n + step
      merges += ((step, blo, bhi, h, sa + sb))
      nActive -= 1
      if (nActive > 1) {
        recompute(a)
        // rows pointing at a merged slot re-scan; every other row only
        // checks whether the new cluster beats its cached nearest
        c = 0
        while (c < n) {
          if (alive(c) && c != a) {
            if (bestJ(c) == a || bestJ(c) == b) recompute(c)
            else {
              val j = bestJ(c)
              val (lo1, hi1) = lohi(c, a)
              val (lo2, hi2) = lohi(c, j)
              if (less(d(c)(a), lo1, hi1, d(c)(j), lo2, hi2)) bestJ(c) = a
            }
          }
          c += 1
        }
      }
      step += 1
    }
    var root = 0
    while (!alive(root)) root += 1
    (merges.toSeq, members(root))
  }

  /** Full K8 query: distributed distances → driver linkage → merge table.
    * `leaf_order` carries the dendrogram position of each member cluster's
    * first leaf — with the merge heights, exactly what `pheatmap` renders.
    */
  def mergeTable(spark: SparkSession, beta: DataFrame): DataFrame = {
    val pairs = sampleDistances(beta.select(col("probe_id"), col("sample_id"),
      graft.functions.Fns.betaK.as("k"))).select("sa", "sb", "d2").collect()
    val ids = pairs.iterator
      .flatMap(p => Iterator(p.getString(0), p.getString(1))).toVector.distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val m = mutable.Map.empty[(Int, Int), Double]
    pairs.foreach { p =>
      val (i, j) = (idx(p.getString(0)), idx(p.getString(1)))
      m((math.min(i, j), math.max(i, j))) = p.getDouble(2)
    }
    val (merges, leafOrder) = linkage(ids.toIndexedSeq,
      // missing pair = no shared probes; push those merges last
      (i, j) => m.getOrElse((math.min(i, j), math.max(i, j)), Double.MaxValue))
    import spark.implicits._
    val mergeRows = merges.map { case (s, a, b, h, sz) =>
      (s, a, b,
        BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        sz, None: Option[Int])
    }
    // leaf-position rows (step 0) ride along so ONE table carries the whole
    // dendrogram: merges (step > 0, leaf_pos NULL) + leaf order (step = 0)
    val leafRows = leafOrder.zipWithIndex.map { case (id, i) =>
      (0, id, "leaf", 0.0, 1, Some(i): Option[Int])
    }
    (leafRows ++ mergeRows)
      .toDF("step", "left", "right", "height", "size", "leaf_pos")
      .orderBy("step", "left")
  }
}
