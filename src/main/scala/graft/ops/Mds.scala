package graft.ops

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K2 — classical MDS on the top-N most-variable probes (reference
  * /root/reference/Mouse_Microarray_General_Workflow.R:66-75
  * limma::plotMDS, top=1000).
  *
  * The pairwise squared distances are computed distributed — a self-join
  * on probe_id whose output is samples² rows (samples ≪ probes: 135 in the
  * reference), then one aggregate. Only the samples×samples matrix is
  * collected; the double-centering + eigendecomposition is O(samples³) on
  * the driver, which is the right side of the scale asymmetry at 100 TB
  * (probes grow, samples don't).
  */
object Mds {

  def mdsCoords(spark: SparkSession, beta: DataFrame, topK: Int): DataFrame = {
    val top = Analytic.topKByVariance(beta, "probe_id", "beta", topK).select("probe_id")
    val b = beta.join(top, Seq("probe_id"), "left_semi")
    val l = b.select(col("probe_id"), col("sample_id").as("sa"), col("beta").as("va"))
    val r = b.select(col("probe_id"), col("sample_id").as("sb"), col("beta").as("vb"))
    val pairs = l.join(r, "probe_id")
      .filter(col("sa") <= col("sb"))
      .groupBy("sa", "sb")
      .agg((sum(pow(col("va") - col("vb"), 2)) / count(lit(1))).as("d2"))
      .collect()

    val ids = pairs.flatMap(p => Seq(p.getString(0), p.getString(1))).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val d2 = DenseMatrix.zeros[Double](n, n)
    pairs.foreach { p =>
      val (i, j, v) = (idx(p.getString(0)), idx(p.getString(1)), p.getDouble(2))
      d2(i, j) = v; d2(j, i) = v
    }
    // Double centering: B = -1/2 J D² J, J = I - 11ᵀ/n.
    val rowMean = Array.tabulate(n)(i => (0 until n).map(d2(i, _)).sum / n)
    val grand = rowMean.sum / n
    val bMat = DenseMatrix.tabulate[Double](n, n) { (i, j) =>
      -0.5 * (d2(i, j) - rowMean(i) - rowMean(j) + grand)
    }
    val es = Pca.topEigen(bMat, 2)
    val Array(s1, s2) = es.values.map(math.sqrt)
    val rows = ids.zipWithIndex.map { case (id, i) =>
      (id,
        BigDecimal(es.vectors(0)(i) * s1).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(es.vectors(1)(i) * s2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
    import spark.implicits._
    rows.toDF("sample_id", "dim1", "dim2").orderBy("sample_id")
  }
}
