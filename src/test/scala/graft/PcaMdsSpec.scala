package graft

import graft.ops.{Mds, Pca}

/** Geometry-recovery specs for the two eigen-kernels: PCA must separate
  * planted clusters on PC1, classical MDS must recover a planted 1-D
  * ordering on dim1 — both up to sign, which is the only freedom the
  * algorithms have.
  */
class PcaMdsSpec extends SparkSpec {
  import spark.implicits._

  test("PCA: PC1 separates two planted sample clusters") {
    // samples s0-s4 sit near beta=0.25, s5-s9 near 0.75, small probe jitter
    val rows = for (p <- 0 until 30; s <- 0 until 10) yield {
      val base = if (s < 5) 0.25 else 0.75
      (f"p$p%03d", f"s$s%02d", base + 0.01 * math.sin(p * 1.7 + s))
    }
    val out = Pca.pcaCoords(rows.toDF("probe_id", "sample_id", "beta"),
      topK = 30, k = 2, scale = false)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val a = (0 until 5).map(s => out(f"s$s%02d"))
    val b = (5 until 10).map(s => out(f"s$s%02d"))
    assert(a.forall(_ > 0) && b.forall(_ < 0) ||
      a.forall(_ < 0) && b.forall(_ > 0),
      s"PC1 does not separate clusters: a=$a b=$b")
  }

  test("PCA all-CpG dual path matches the bounded path up to sign on complete input") {
    // complete matrix (every probe observed in every sample), topK covers
    // all probes -> both paths see the identical centered matrix
    val rows = for (p <- 0 until 25; s <- 0 until 8) yield {
      (f"p$p%03d", f"s$s", 0.3 + 0.05 * math.sin(p * 1.3 + s * 0.9)
        + 0.02 * math.cos(p * 0.7) * s)
    }
    val df = rows.toDF("probe_id", "sample_id", "beta")
    val bounded = Pca.pcaCoords(df, topK = 25, k = 2, scale = false)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(3), r.getDouble(2), r.getDouble(4))).toMap
    val dual = Pca.pcaAllCpg(df, k = 2)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(3), r.getDouble(2), r.getDouble(4))).toMap
    assert(bounded.keySet == dual.keySet)
    // per-component sign alignment: the two orientation rules live in
    // different bases (probe-space loadings vs sample-space V), so align
    // by the dominant sample's sign before comparing
    for (c <- 0 until 2) {
      def pcs(m: Map[String, (Double, Double, Double, Double)]) =
        m.toSeq.sortBy(_._1).map(kv => if (c == 0) kv._2._1 else kv._2._2)
      val (b, a) = (pcs(bounded), pcs(dual))
      val sign = if (math.signum(b.maxBy(math.abs)) ==
        math.signum(a.maxBy(math.abs))) 1.0 else -1.0
      b.zip(a).foreach { case (x, y) =>
        assert(math.abs(x - sign * y) < 1e-4, s"pc${c + 1}: $x vs $y (sign $sign)")
      }
      // explained-variance ratios are basis-free
      val evB = bounded.values.head.productElement(2 + c).asInstanceOf[Double]
      val evA = dual.values.head.productElement(2 + c).asInstanceOf[Double]
      assert(math.abs(evB - evA) < 1e-4, s"evr${c + 1}: $evB vs $evA")
    }
  }

  test("MDS: eigendecomposing the oracle-checked k02_mds_gram reproduces k02_mds_coords") {
    // k02_mds_gram is the double-centered Gram matrix B = -1/2 J D² J,
    // hash-checked against DuckDB; this spec performs the ONLY remaining
    // uncovered step — the eigensolve — on that exact matrix and must
    // land on the production kernel's coordinates. Together the two
    // checks cover the whole k02 path.
    import breeze.linalg.{eigSym, DenseMatrix}
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // Selection-equivalence precondition, asserted explicitly: the gram
    // query ranks its top-100 probes by EXACT integer moments while the
    // kernel (Analytic.topKByVariance) ranks by float var_samp — equal in
    // exact arithmetic on the beta grid, but a near-tie at rank 100 could
    // flip under float summation. Failing HERE names the cause; without
    // this the divergence would surface as an opaque 1e-3 coordinate
    // drift below.
    val beta = Tables.betaLong(spark, sf)
    val kernelSet = graft.ops.Analytic
      .topKByVariance(beta, "probe_id", "beta", 100)
      .select("probe_id").collect().map(_.getString(0)).toSet
    val momentSet = beta
      .select(col("probe_id"), round(col("beta") * 997).cast("bigint").as("k"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("n"), sum("k").as("s"),
        sum(col("k") * col("k")).as("ss"))
      .filter(col("n") >= 2)
      .select(col("probe_id"),
        graft.functions.Fns.varFromMoments(col("n"), col("s"), col("ss")).as("v"))
      .orderBy(col("v").desc, col("probe_id").asc).limit(100)
      .collect().map(_.getString(0)).toSet
    assert(momentSet == kernelSet,
      "k02_mds_gram's exact-moment probe selection diverged from the kernel's float var_samp ranking")
    val gram = SparkEntry.queries("k02_mds_gram")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val ids = gram.flatMap(t => Seq(t._1, t._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val bMat = DenseMatrix.zeros[Double](n, n)
    gram.foreach { case (a, b, v) =>
      bMat(idx(a), idx(b)) = v; bMat(idx(b), idx(a)) = v
    }
    val es = eigSym(bMat)
    val e1 = n - 1
    val e2 = n - 2
    val s1 = math.sqrt(math.max(es.eigenvalues(e1), 0))
    val s2 = math.sqrt(math.max(es.eigenvalues(e2), 0))
    def sign(e: Int): Double = {
      val v = (0 until n).map(es.eigenvectors(_, e))
      if (v.maxBy(math.abs) < 0) -1.0 else 1.0
    }
    val (g1, g2) = (sign(e1), sign(e2))
    val got = SparkEntry.queries("k02_mds_coords")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet == ids.toSet, "sample sets differ")
    ids.foreach { id =>
      val i = idx(id)
      val (d1, d2) = (es.eigenvectors(i, e1) * s1 * g1,
        es.eigenvectors(i, e2) * s2 * g2)
      val (x1, x2) = got(id)
      assert(math.abs(d1 - x1) < 1e-3, s"$id dim1: $d1 vs $x1")
      assert(math.abs(d2 - x2) < 1e-3, s"$id dim2: $d2 vs $x2")
    }
  }

  test("MDS: dim1 recovers a planted 1-D sample ordering") {
    val rows = for (p <- 0 until 30; s <- 0 until 8) yield {
      (f"p$p%03d", f"s$s", 0.1 + 0.09 * s + 0.002 * math.sin(p * 2.3))
    }
    val coords = Mds.mdsCoords(spark, rows.toDF("probe_id", "sample_id", "beta"), topK = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dim1 = (0 until 8).map(s => coords(s"s$s"))
    val asc = dim1.sliding(2).forall { case Seq(x, y) => x < y }
    val desc = dim1.sliding(2).forall { case Seq(x, y) => x > y }
    assert(asc || desc, s"dim1 not monotone in planted position: $dim1")
  }

  test("PCA releases both of its caches when the call throws") {
    val rows = for (p <- 0 until 3; s <- 0 until 4) yield
      (f"p$p%03d", f"s$s%02d", 0.1 * p + 0.05 * s + 0.01 * ((p * s) % 3))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    // 10 components of 3 features: the driver-side eigen step throws after
    // the pivot is collected; no cache may outlive the failed call
    intercept[IndexOutOfBoundsException] {
      Pca.pcaCoords(rows.toDF("probe_id", "sample_id", "beta"),
        topK = 3, k = 10, scale = false)
    }
    assert(sc.getPersistentRDDs.size == before)
  }
}
