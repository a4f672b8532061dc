package graft

import org.apache.commons.math3.special.Gamma
import org.apache.spark.sql.functions._
import graft.ops.Dmp

class DmpSpec extends SparkSpec {
  import spark.implicits._

  // Two probes × 8 samples (4 WT / 4 MUT), deterministic betas.
  private def fixture = {
    val rows = for {
      p <- Seq("pA", "pB")
      (g, i) <- Seq("WT", "WT", "WT", "WT", "MUT", "MUT", "MUT", "MUT").zipWithIndex
    } yield {
      val base = if (p == "pA") 0.3 else 0.6
      val shift = if (g == "MUT" && p == "pA") 0.2 else 0.0
      (p, s"s$i", g, base + shift + 0.01 * (i % 4))
    }
    rows.toDF("probe_id", "sample_id", "group", "beta")
  }

  test("moments reproduce hand-computed group means and pooled variance") {
    val mom = Dmp.moments(fixture, "WT", "MUT").orderBy("probe_id").collect()
    val pA = mom(0)
    assert(pA.getAs[Long]("n1") == 4 && pA.getAs[Long]("n2") == 4)
    // M-values computed the same way as the kernel, driver-side
    def m(b: Double) = math.log(b / (1 - b)) / math.log(2)
    val wt = Seq(0.3, 0.31, 0.32, 0.33).map(m)
    val mut = Seq(0.5, 0.51, 0.52, 0.53).map(m)
    val expLogFc = wt.sum / 4 - mut.sum / 4
    assert(math.abs(pA.getAs[Double]("logfc") - expLogFc) < 1e-9)
    def varS(xs: Seq[Double]) = {
      val mu = xs.sum / xs.length
      xs.map(x => (x - mu) * (x - mu)).sum / (xs.length - 1)
    }
    val expS2 = (3 * varS(wt) + 3 * varS(mut)) / 6
    assert(math.abs(pA.getAs[Double]("s2") - expS2) < 1e-9)
  }

  test("StudentTPValue matches commons-math TDistribution two-sided tails") {
    import org.apache.commons.math3.distribution.TDistribution
    for (t <- Seq(0.0, 0.5, 1.96, -2.5, 7.0); df <- Seq(3.0, 10.0, 120.0)) {
      val expected = 2.0 * new TDistribution(df).cumulativeProbability(-math.abs(t))
      val got = graft.functions.StudentT.twoSidedP(t, df)
      assert(math.abs(got - expected) < 1e-10, s"t=$t df=$df: $got vs $expected")
    }
  }

  test("trigammaInverse inverts trigamma") {
    Seq(0.01, 0.5, 2.0, 50.0).foreach { x =>
      val y = Gamma.trigamma(x)
      assert(math.abs(Dmp.trigammaInverse(y) - x) / x < 1e-6)
    }
  }

  test("complete shrinkage (d0=inf) gives s2_post == s0² and finite p-values") {
    val mom = Dmp.moments(fixture, "WT", "MUT")
    val prior = Dmp.Prior(Double.PositiveInfinity, 0.01)
    val out = Dmp.moderated(mom, prior).collect()
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("s2_post") - 0.01) < 1e-6)
      val p = r.getAs[Double]("p_value")
      assert(p >= 0 && p <= 1)
    }
  }

  test("full dmp flags the shifted probe ahead of the flat one") {
    val out = Dmp.dmp(fixture, "WT", "MUT")
      .select("probe_id", "p_value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("pA") < out("pB"))
  }

  test("fitPriorsBy matches fitPrior on each contrast slice") {
    val rnd = new scala.util.Random(7)
    val rows = for (c <- Seq("c1", "c2"); p <- 0 until 60) yield
      (c, f"p$p%03d",
        math.exp(rnd.nextGaussian() * (if (c == "c1") 1.0 else 1.6)) * 0.01,
        if (p % 3 == 0) 4.0 else 6.0) // df varies per probe on purpose
    val mom = rows.toDF("comparison_id", "probe_id", "s2", "df")
    val multi = Dmp.fitPriorsBy(mom, "comparison_id")
    Seq("c1", "c2").foreach { c =>
      val single = Dmp.fitPrior(mom.filter(col("comparison_id") === c))
      assert(java.lang.Double.isFinite(single.d0), s"$c slice prior degenerate: $single")
      assert(math.abs(multi(c).d0 - single.d0) / single.d0 < 1e-9,
        s"$c d0: ${multi(c).d0} vs ${single.d0}")
      assert(math.abs(multi(c).s02 - single.s02) / single.s02 < 1e-9,
        s"$c s02: ${multi(c).s02} vs ${single.s02}")
    }
  }

  test("fitPriorsBy full-shrinks a single-probe contrast instead of failing") {
    val mom = Seq(("c1", "p000", 0.02, 6.0)) // var_samp of one row is null
      .toDF("comparison_id", "probe_id", "s2", "df")
    val prior = Dmp.fitPriorsBy(mom, "comparison_id")("c1")
    assert(prior.d0.isPosInfinity)
    assert(prior.s02 > 0 && java.lang.Double.isFinite(prior.s02))
  }

  // 30 probes × (4 WT + 4 MUT) per run, two runs = two disjoint contrasts.
  private def multiFixture = {
    val rows = for {
      p <- 0 until 30
      run <- Seq("r0", "r1")
      (g, i) <- (Seq.fill(4)("WT") ++ Seq.fill(4)("MUT")).zipWithIndex
    } yield {
      val base = 0.25 + 0.015 * (p % 7)
      val shift = if (g == "MUT") 0.02 * (p % 5) + (if (run == "r1") 0.05 else 0.0) else 0.0
      val jitter = 0.004 * math.sin(p * 13 + i * 5 + (if (run == "r1") 3 else 0))
      (f"p$p%03d", s"s_${run}_${g}_$i", s"${g}_$run", base + shift + jitter)
    }
    rows.toDF("probe_id", "sample_id", "group", "beta")
  }

  test("multiContrastModerated reproduces the single-contrast pipeline per slice") {
    val df = multiFixture
    val multi = Dmp.multiContrastModerated(df,
        Seq(("c_r0", "WT_r0", "MUT_r0"), ("c_r1", "WT_r1", "MUT_r1")))
      .select("comparison_id", "probe_id", "t_mod", "p_value", "fdr").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(multi.size == 60)
    Seq(("c_r0", "WT_r0", "MUT_r0"), ("c_r1", "WT_r1", "MUT_r1")).foreach { case (cid, g1, g2) =>
      val single = Dmp.dmp(df, g1, g2)
        .select("probe_id", "t_mod", "p_value", "fdr").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
      single.foreach { case (p, (t, pv, fdr)) =>
        val (mt, mp, mf) = multi((cid, p))
        assert(math.abs(mt - t) < 1e-9, s"$cid/$p t_mod: $mt vs $t")
        assert(math.abs(mp - pv) < 1e-9, s"$cid/$p p: $mp vs $pv")
        assert(math.abs(mf - fdr) < 1e-9, s"$cid/$p fdr: $mf vs $fdr")
      }
    }
  }
}
