package graft.ops

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** K1 — PCA over samples×top-k-probes
  * (reference /root/reference/pca_analysis.py:38-48 sklearn
  * StandardScaler+PCA; workflow.R:218 prcomp(center=TRUE) on t(mvals)).
  *
  * The feature dimension is bounded by topK (10k in the reference), so the
  * samples-as-rows matrix is safe to pivot: width is a constant, rows scale
  * with samples. For an unbounded all-CpG PCA the scale path is
  * RowMatrix.computeSVD over the long table — not needed by the reference
  * surface, which always selects top-k first.
  *
  * Implementation note: Spark ML's PCA estimator routes through LAPACK
  * dgesdd (SVD), whose f2j implementation intermittently fails to converge
  * — or spins — on near-degenerate covariances (observed both ways). This
  * kernel instead computes the covariance of the collected samples × topK
  * matrix on the driver and eigendecomposes the small topK × topK
  * symmetric matrix with eigSym (the far more robust symmetric path).
  * Deterministic sign convention: each component's largest-|loading|
  * entry is positive.
  */
object Pca {

  /** Tries of an eigendecomposition before its last failure is thrown. */
  private val FitAttempts = 3

  private def fitWithRetry[T](what: String)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < FitAttempts) {
      try return f
      catch {
        // NonFatal only: retrying an OOM against a degraded heap or a
        // swallowed InterruptedException (cancellation) makes things worse
        case scala.util.control.NonFatal(e) =>
          last = e
          System.err.println(s"[pca] $what attempt ${i + 1}/$FitAttempts failed: $e")
      }
      i += 1
    }
    throw last
  }

  /** The `k` leading eigenpairs of a symmetric matrix: `values`
    * descending and clamped at zero, `total` the sum of every clamped
    * eigenvalue (the explained-variance denominator). Each vector is
    * flipped so its largest-|entry| is positive: eigSym's signs are a BLAS
    * backend artifact, which would mirror coordinates across platforms.
    */
  private[ops] final case class Eigen(values: Array[Double],
                                      vectors: Array[Array[Double]],
                                      total: Double)

  private[ops] def topEigen(m: BDM[Double], k: Int): Eigen = {
    val es = eigSym(m) // eigenvalues ascending
    val lambdas = es.eigenvalues.toArray.map(math.max(_, 0.0))
    val top = Array.tabulate(k)(lambdas.length - 1 - _)
    Eigen(top.map(lambdas), top.map { idx =>
      val v = es.eigenvectors(::, idx).toArray
      if (v.maxBy(math.abs) < 0) v.map(-_) else v
    }, lambdas.sum)
  }

  /** The pivot's value for a sample's absent top-k cell: the midpoint. */
  private[ops] val AbsentCell = 0.5

  /** PCA coordinates per sample + explained-variance ratios.
    * `scale=true` ~ sklearn StandardScaler flavor; `false` ~ the
    * centered-only prcomp(center=TRUE, scale.=FALSE) flavor
    * (workflow.R:321). Both flavors center.
    *
    * The top-k selection and the pivot run in Spark; the pivot (samples
    * with at least one top-k probe × topK, absent cells 0.5) is collected,
    * so the driver holds samples × topK doubles, and [[coords]] does the
    * rest there.
    */
  def pcaCoords(beta: DataFrame, topK: Int, k: Int, scale: Boolean): DataFrame = {
    val spark = beta.sparkSession
    import spark.implicits._
    // The collected id list is needed for the pivot's column order, but the
    // row filter goes through a broadcast semi-join on a LocalRelation —
    // an `isin(10k literals)` would ship a 10k-term predicate in every task
    // closure and defeat codegen.
    val topProbes = Analytic.topKByVariance(beta, "probe_id", "beta", topK)
      .select("probe_id").collect().map(_.getString(0)).sorted.toSeq
    val wide = beta.join(broadcast(topProbes.toDF("probe_id")), Seq("probe_id"), "left_semi")
      .groupBy("sample_id").pivot("probe_id", topProbes).agg(first("beta"))
      .na.fill(AbsentCell) // reference drops NA rows pre-PCA; absent cells are imputed
      .collect().sortBy(r => Option(r.getString(0)))
    coords(spark, wide.map(_.getString(0)),
      wide.map(r => Array.tabulate(topProbes.length)(j => r.getDouble(j + 1))), k, scale)
  }

  /** The driver-side PCA of a samples × features matrix `x` (rows in
    * `samples` order), shared by [[pcaCoords]] and the driver-local e02
    * chain: center each feature, divide it by its unbiased std when
    * `scale` (Spark ML StandardScaler: a zero-std feature maps to 0), take
    * the features' covariance, its `k` leading eigenpairs ([[topEigen]])
    * and the projections. Scores and ratios are rounded HALF_UP at 6
    * places; rows come back in `samples` order as
    * `sample_id, pc1, evr1, …, pck, evrk`.
    */
  private[ops] def coords(spark: SparkSession, samples: Array[String],
                          x: Array[Array[Double]], k: Int, scale: Boolean): DataFrame = {
    val n = x.length
    require(n > 1, s"PCA needs at least 2 samples, got $n")
    val d = x.head.length
    // Welford means and M2: a constant feature keeps exactly zero spread
    val mean = new Array[Double](d)
    val m2 = new Array[Double](d)
    for (j <- 0 until d; i <- 0 until n) {
      val delta = x(i)(j) - mean(j)
      mean(j) += delta / (i + 1)
      m2(j) += delta * (x(i)(j) - mean(j))
    }
    val factor = Array.tabulate(d) { j =>
      val std = math.sqrt(m2(j) / (n - 1))
      if (!scale) 1.0 else if (std == 0.0) 0.0 else 1.0 / std
    }
    val z = x.map(row => Array.tabulate(d)(j => (row(j) - mean(j)) * factor(j)))
    val cov = BDM.zeros[Double](d, d)
    for (a <- 0 until d; b <- a until d) {
      var acc = 0.0
      for (i <- 0 until n) acc += z(i)(a) * z(i)(b)
      cov(a, b) = acc / (n - 1)
      cov(b, a) = cov(a, b)
    }
    val es = topEigen(cov, k)
    val evr = es.values.map(v => round6(v / math.max(es.total, 1e-300)))
    val rows = samples.indices.map { i =>
      Row.fromSeq(samples(i) +: es.vectors.indices.flatMap { c =>
        var acc = 0.0
        for (j <- 0 until d) acc += z(i)(j) * es.vectors(c)(j)
        Seq(round6(acc), evr(c))
      })
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      StructField("sample_id", StringType) +: (1 to k).flatMap(c => Seq(
        StructField(s"pc$c", DoubleType), StructField(s"evr$c", DoubleType)))))
  }

  /** Spark SQL's `round(v, 6)`: BigDecimal HALF_UP, NaN and ±∞ unchanged. */
  private def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** All-CpG PCA — the scale path for an UNBOUNDED feature axis (the
    * documented escape above: no top-k selection, no pivot). Dual
    * formulation: with probes as ROWS of the centered long matrix A
    * (probes × samples) and samples as the bounded column axis, nothing
    * probe-dimensional ever materializes — the Gram matrix AᵀA (samples²)
    * is built in ONE distributed pass (`computeGramianMatrix`, BLAS spr
    * accumulation — no ARPACK iteration train, no LAPACK dgesdd) and
    * eigendecomposed driver-side with the symmetric solver, the same
    * robust path [[pcaCoords]] uses for its covariance. Sample PCA scores
    * are exactly V·Σ (A = UΣVᵀ ⇒ scores = XᶜW = VΣ, σ_j = √λ_j);
    * explained-variance ratios are λ_j/trace(AᵀA) = σ_j²/‖A‖²_F — the
    * same quantity the bounded path derives from its eigenvalues. Missing
    * cells impute at the probe mean (= 0 after centering), the
    * sparse-vector no-op. PcaMdsSpec asserts sign-aligned equivalence
    * with [[pcaCoords]](scale = false) on complete input covering every
    * probe.
    */
  def pcaAllCpg(beta: DataFrame, k: Int): DataFrame = {
    val spark = beta.sparkSession
    import spark.implicits._
    val samples = beta.select("sample_id").distinct().as[String].collect().sorted
    val nS = samples.length
    val sdim = broadcast(samples.zipWithIndex.toSeq.toDF("sample_id", "__sid"))
    val mu = beta.groupBy("probe_id").agg(avg("beta").as("__mu"))
    val centered = beta.join(mu, "probe_id").join(sdim, "sample_id")
      .select(col("probe_id"), col("__sid"), (col("beta") - col("__mu")).as("v"))
    val rows = centered.groupBy("probe_id")
      .agg(collect_list(struct(col("__sid").as("_1"), col("v").as("_2"))).as("cells"))
      .select("cells").as[Seq[(Int, Double)]]
      .rdd.map { cells =>
        val sorted = cells.sortBy(_._1)
        OldVectors.sparse(nS, sorted.map(_._1).toArray, sorted.map(_._2).toArray)
      }
    val gram = fitWithRetry("RowMatrix.computeGramianMatrix") {
      new RowMatrix(rows, 0L, nS).computeGramianMatrix()
    }
    val kEff = math.min(k, nS)
    // es.total = trace(AᵀA) = ‖A‖²_F
    val es = topEigen(new BDM(nS, nS, gram.toArray), kEff)
    val scores = Array.tabulate(nS, kEff)((i, j) =>
      es.vectors(j)(i) * math.sqrt(es.values(j)))
    val evr = es.values.map(_ / math.max(es.total, 1e-300))
    val out = (0 until nS).map { i =>
      (samples(i) +: (0 until kEff).flatMap(j => Seq(round6(scores(i)(j)), round6(evr(j))))).toSeq
    }
    val schema = StructType(StructField("sample_id", StringType) +:
      (1 to kEff).flatMap(j => Seq(StructField(s"pc$j", DoubleType), StructField(s"evr$j", DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(out.map(Row.fromSeq), 1), schema)
      .orderBy("sample_id")
  }
}
