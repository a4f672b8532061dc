package graft.ops

import breeze.linalg.{eigSym, DenseMatrix => BDM}
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * kernel instead computes the covariance distributed (BLAS-only,
  * RowMatrix.computeCovariance) and eigendecomposes the small k×k
  * symmetric matrix with eigSym (the far more robust symmetric path),
  * then projects with plain column expressions. Deterministic sign
  * convention: each component's largest-|loading| entry is positive.
  */
object Pca {

  private def fitWithRetry[T](what: String, attempts: Int = 3)(f: => T): T = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        // NonFatal only: retrying an OOM against a degraded heap or a
        // swallowed InterruptedException (cancellation) makes things worse
        case scala.util.control.NonFatal(e) =>
          last = e
          System.err.println(s"[pca] $what attempt ${i + 1}/$attempts failed: $e")
      }
      i += 1
    }
    throw last
  }

  /** PCA coordinates per sample + explained-variance ratios.
    * `scale=true` ~ sklearn StandardScaler flavor; `false` ~ the
    * centered-only prcomp(center=TRUE, scale.=FALSE) flavor
    * (workflow.R:321). Both flavors center.
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
    val topDf = topProbes.toDF("probe_id")
    val wide = beta.join(broadcast(topDf), Seq("probe_id"), "left_semi")
      .groupBy("sample_id").pivot("probe_id", topProbes).agg(first("beta"))
      .na.fill(0.5) // reference drops NA rows pre-PCA; absent cells are imputed at the midpoint
    // assembled feeds the scaler FIT (one pass) and the transformed
    // feature table (a second pass) — persist it so the pivot shuffle runs
    // once, not once per consumer (r10, §2.4; rows = samples, a bounded
    // axis, so the cache is small at any probe scale)
    val assembled = new VectorAssembler()
      .setInputCols(topProbes.toArray).setOutputCol("features")
      .transform(wide)
      .persist()
    // Released in `finally`, so a throwing fit or eigen step leaves no
    // cache behind either.
    var feats: DataFrame = null
    val (rows, schema) = try {
      val scaler = fitWithRetry("StandardScaler.fit") {
        new StandardScaler().setWithMean(true).setWithStd(scale)
          .setInputCol("features").setOutputCol("scaled")
          .fit(assembled)
      }
      feats = scaler.transform(assembled)
        .select(col("sample_id"), vector_to_array(col("scaled")).as("x"))
        .persist()

      // distributed covariance (BLAS, no SVD), driver-side symmetric eigen
      val cov = new RowMatrix(
        feats.select("x").rdd.map(r => OldVectors.dense(r.getSeq[Double](0).toArray)))
        .computeCovariance()
      val d = cov.numCols
      val covB = new BDM(d, d, cov.toArray)
      val es = eigSym(covB) // eigenvalues ascending
      val total = es.eigenvalues.toArray.map(math.max(_, 0.0)).sum
      val comps = (1 to k).map { i =>
        val idx = d - i
        val v = es.eigenvectors(::, idx).toArray
        // deterministic orientation: largest-|loading| entry positive
        val maxAbs = v.maxBy(math.abs)
        val oriented = if (maxAbs < 0) v.map(-_) else v
        (oriented, math.max(es.eigenvalues(idx), 0.0) / math.max(total, 1e-300))
      }

      val projected = comps.zipWithIndex.foldLeft(feats) { case (df, ((v, evr), j)) =>
        df.withColumn(s"pc${j + 1}",
            round(aggregate(zip_with(col("x"), typedLit(v.toSeq), (a, b) => a * b),
              lit(0.0), (acc, e) => acc + e), 6))
          .withColumn(s"evr${j + 1}", round(lit(evr), 6))
      }.drop("x").orderBy("sample_id")

      // The result is samples × (1+2k) — the same bounded-by-design axis MDS
      // already collects — so materialize it here and release the features
      // cache: no cache block outlives the call.
      (projected.collect(), projected.schema)
    } finally {
      if (feats != null) feats.unpersist(false)
      assembled.unpersist(false)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

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
    val gramB = new BDM(nS, nS, gram.toArray)
    val es = eigSym(gramB) // eigenvalues ascending
    val lambdas = es.eigenvalues.toArray.map(math.max(_, 0.0))
    val total = lambdas.sum // = trace(AᵀA) = ‖A‖²_F
    val kEff = math.min(k, nS)
    // deterministic orientation: largest-|entry| of each V column positive
    val scores = Array.ofDim[Double](nS, kEff)
    val evr = Array.ofDim[Double](kEff)
    for (j <- 0 until kEff) {
      val idx = nS - 1 - j
      val colArr = Array.tabulate(nS)(r => es.eigenvectors(r, idx))
      val sign = if (colArr.maxBy(math.abs) < 0) -1.0 else 1.0
      val sigma = math.sqrt(lambdas(idx))
      for (i <- 0 until nS) scores(i)(j) = colArr(i) * sign * sigma
      evr(j) = lambdas(idx) / math.max(total, 1e-300)
    }
    val out = (0 until nS).map { i =>
      (samples(i) +: (0 until kEff).flatMap(j => Seq(
        BigDecimal(scores(i)(j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(evr(j)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))).toSeq
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("sample_id",
        org.apache.spark.sql.types.StringType) +:
      (1 to kEff).flatMap(j => Seq(
        org.apache.spark.sql.types.StructField(s"pc$j",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField(s"evr$j",
          org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        out.map(org.apache.spark.sql.Row.fromSeq), 1), schema)
      .orderBy("sample_id")
  }
}
