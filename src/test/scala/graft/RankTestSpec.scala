package graft

import graft.ops.Analytic
import org.apache.spark.sql.functions._

/** Nonparametric two-sample tests: Mann–Whitney U (tie-corrected) and
  * Kolmogorov–Smirnov D, checked against hand-computed values, the
  * commons-math implementations, and the rank-invariance property.
  */
class RankTestSpec extends SparkSpec {
  import spark.implicits._

  private def df(xs: Seq[Double], ys: Seq[Double]) =
    (xs.map(("k", _, "A")) ++ ys.map(("k", _, "B")))
      .toDF("key", "v", "grp")

  test("mannWhitney hand example with ties") {
    // x=[1,2,3] y=[2,3,4]: ranks 1, 2.5, 2.5, 4.5, 4.5, 6 → R1=8, U1=2,
    // ties Σ(t³−t)=12, σ²=(9/12)·(7−12/30)=4.95
    val r = Analytic.mannWhitney(df(Seq(1, 2, 3), Seq(2, 3, 4)),
      "key", "v", "grp", "A", "B").collect().head
    assert(r.getAs[Long]("n1") == 3 && r.getAs[Long]("n2") == 3)
    assert(r.getAs[Double]("u1") == 2.0)
    assert(math.abs(r.getAs[Double]("z") - (2.0 - 4.5) / math.sqrt(4.95)) < 1e-12)
  }

  test("mannWhitney matches commons-math U and the tie-free normal z/p") {
    val rnd = new scala.util.Random(7)
    // distinct values → tie-free (ties would hit commons-math's
    // uncorrected variance)
    val xs = Seq.fill(25)(rnd.nextDouble()).distinct
    val ys = Seq.fill(30)(rnd.nextDouble() + 0.2).distinct
    val r = Analytic.mannWhitney(df(xs, ys), "key", "v", "grp", "A", "B")
      .collect().head
    val u1 = r.getAs[Double]("u1")
    val (n1, n2) = (xs.size.toDouble, ys.size.toDouble)
    val cmU = new org.apache.commons.math3.stat.inference.MannWhitneyUTest()
      .mannWhitneyU(xs.toArray, ys.toArray)
    // commons-math reports one of the two side-symmetric U values
    assert(Set(u1, n1 * n2 - u1).contains(cmU))
    val zExpect = (u1 - n1 * n2 / 2.0) /
      math.sqrt(n1 * n2 * (n1 + n2 + 1.0) / 12.0)
    assert(math.abs(r.getAs[Double]("z") - zExpect) < 1e-12)
    // two-sided normal p via the chi-square survival function (z² ~ χ²₁)
    val z = r.getAs[Double]("z")
    val norm = new org.apache.commons.math3.distribution.NormalDistribution(0, 1)
    val pExpect = 2.0 * (1.0 - norm.cumulativeProbability(math.abs(z)))
    assert(math.abs(graft.functions.ChiSquared.sf(z * z, 1.0) - pExpect) < 1e-9)
  }

  test("mannWhitney U is invariant under a monotone transform") {
    val rnd = new scala.util.Random(11)
    val xs = Seq.fill(20)(rnd.nextDouble())
    val ys = Seq.fill(20)(rnd.nextDouble())
    val base = df(xs, ys)
    val direct = Analytic.mannWhitney(base, "key", "v", "grp", "A", "B")
      .select("u1", "z").collect().head
    val mapped = Analytic.mannWhitney(
      base.withColumn("v", exp(col("v") * 3.0)), "key", "v", "grp", "A", "B")
      .select("u1", "z").collect().head
    assert(direct == mapped)
  }

  test("mannWhitney drops keys with zero rank variance") {
    assert(Analytic.mannWhitney(df(Seq(5, 5, 5), Seq(5, 5, 5)),
      "key", "v", "grp", "A", "B").count() == 0)
  }

  test("ksTest matches commons-math D on tie-free samples") {
    val rnd = new scala.util.Random(13)
    val xs = Seq.fill(40)(rnd.nextDouble()).distinct
    val ys = Seq.fill(35)(rnd.nextDouble() * 1.3).distinct
    val r = Analytic.ksTest(df(xs, ys), "key", "v", "grp", "A", "B")
      .collect().head
    val cmD = new org.apache.commons.math3.stat.inference.KolmogorovSmirnovTest()
      .kolmogorovSmirnovStatistic(xs.toArray, ys.toArray)
    assert(math.abs(r.getAs[Double]("d") - cmD) < 1e-12)
    val (n1, n2) = (xs.size.toDouble, ys.size.toDouble)
    assert(math.abs(r.getAs[Double]("ks_stat")
      - r.getAs[Double]("d") * math.sqrt(n1 * n2 / (n1 + n2))) < 1e-12)
  }

  test("ksTest hand example with ties evaluates the CDF gap at every distinct value") {
    // x=[1,2] y=[2,3]: |cum1·n2−cum2·n1| per distinct value →
    // v=1: |1·2−0·2|=2; v=2: |2·2−1·2|=2; v=3: |2·2−2·2|=0 → D=2/4=0.5
    val r = Analytic.ksTest(df(Seq(1, 2), Seq(2, 3)), "key", "v", "grp", "A", "B")
      .collect().head
    assert(r.getAs[Double]("d") == 0.5)
  }

  test("ksTest + graft_ks_sf end-to-end matches commons-math approximateP") {
    // the k11_ks_inference chain on tie-free samples: D from the engine,
    // p from the asymptotic series at t = D·sqrt(n1·n2/(n1+n2))
    val rnd = new scala.util.Random(17)
    val xs = Seq.fill(60)(rnd.nextDouble()).distinct
    val ys = Seq.fill(45)(rnd.nextDouble() * 1.2 + 0.1).distinct
    val r = Analytic.ksTest(df(xs, ys), "key", "v", "grp", "A", "B")
      .withColumn("p_value", expr("graft_ks_sf(ks_stat)"))
      .collect().head
    val cm = new org.apache.commons.math3.stat.inference.KolmogorovSmirnovTest()
    val pExpect = cm.approximateP(r.getAs[Double]("d"), xs.size, ys.size)
    assert(math.abs(r.getAs[Double]("p_value") - pExpect) < 1e-10)
  }

  test("spearman t-transform inference matches commons-math TDistribution") {
    // two samples sharing 8 probes with an imperfect monotone relation
    val a = Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)
    val b = Seq(0.15, 0.25, 0.30, 0.50, 0.45, 0.70, 0.65, 0.90)
    val long = (a.zipWithIndex.map { case (v, i) => (f"p$i", "sA", v) } ++
      b.zipWithIndex.map { case (v, i) => (f"p$i", "sB", v) })
      .toDF("probe_id", "sample_id", "beta")
    val r = graft.ops.Analytic.spearmanMatrix(long, "probe_id", "sample_id", "beta")
      .withColumn("t_stat", col("rho") *
        sqrt((col("n_shared") - 2).cast("double") /
          (lit(1.0) - col("rho") * col("rho"))))
      .withColumn("p_value",
        expr("graft_t_pvalue(t_stat, CAST(n_shared - 2 AS DOUBLE))"))
      .collect().head
    val n = r.getAs[Long]("n_shared").toDouble
    assert(n == 8.0)
    val rho = r.getAs[Double]("rho")
    val t = rho * math.sqrt((n - 2) / (1 - rho * rho))
    val dist = new org.apache.commons.math3.distribution.TDistribution(n - 2)
    val pExpect = 2.0 * (1.0 - dist.cumulativeProbability(math.abs(t)))
    assert(math.abs(r.getAs[Double]("p_value") - pExpect) < 1e-10,
      s"rho=$rho t=$t p=${r.getAs[Double]("p_value")} expect=$pExpect")
  }

  test("multi-key: statistics are computed per key independently") {
    val multi = (Seq.tabulate(8)(i => ("p1", i.toDouble, if (i % 2 == 0) "A" else "B")) ++
      Seq.tabulate(10)(i => ("p2", (i * i).toDouble, if (i < 5) "A" else "B")))
      .toDF("key", "v", "grp")
    val mw = Analytic.mannWhitney(multi, "key", "v", "grp", "A", "B")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("u1")).toMap
    // p2: A = {0,1,4,9,16} all below B = {25,…,81} → U1 = 0
    assert(mw("p2") == 0.0)
    assert(mw.contains("p1") && mw.size == 2)
  }
}
