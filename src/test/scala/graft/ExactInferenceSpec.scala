package graft

import org.apache.spark.sql.functions._
import org.apache.commons.math3.distribution.HypergeometricDistribution

/** Round-6 exact-inference tier: `graft_lgamma`, Fisher's exact test (k29)
  * against commons-math's independent hypergeometric pmf, the deterministic
  * permutation test (k30) against a driver-side BigInt replay of the same
  * 200 pseudo-permutations, and the k31 effect sizes against brute-force
  * pair loops.
  */
class ExactInferenceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  test("graft_lgamma matches exact log-factorials and guards its domain") {
    val sp = spark
    // lgamma(n+1) = ln(n!) — checked against an exact running log sum
    var logFact = 0.0
    (1 to 170).foreach { n =>
      logFact += math.log(n.toDouble)
      val got = sp.sql(s"SELECT graft_lgamma(CAST(${n + 1} AS DOUBLE)) AS v")
        .head().getDouble(0)
      assert(math.abs(got - logFact) <= 1e-9 * math.max(1.0, logFact),
        s"lgamma(${n + 1}) = $got, expect $logFact")
    }
    // half-integer anchor: lgamma(0.5) = ln(sqrt(pi))
    val half = sp.sql("SELECT graft_lgamma(0.5) AS v").head().getDouble(0)
    assert(math.abs(half - 0.5 * math.log(math.Pi)) < 1e-12)
    // domain: x <= 0 and NaN -> NaN (never throws inside codegen)
    Seq("0.0", "-1.0", "CAST('NaN' AS DOUBLE)").foreach { x =>
      assert(sp.sql(s"SELECT graft_lgamma($x) AS v").head().getDouble(0).isNaN)
    }
  }

  test("k29 Fisher exact p matches commons-math hypergeometric recompute") {
    val sp = spark
    val r = SparkEntry.queries("k29_fisher_exact")(sp, sf01).head()
    val n = r.getAs[Long]("n").toInt
    val r1 = r.getAs[Long]("qc_fail").toInt
    val c1 = r.getAs[Long]("run0_n").toInt
    val a = r.getAs[Long]("obs_a").toInt
    assert(r1 > 0, "sf0.01 table should have failing samples")
    // independent two-sided p: sum of all k with pmf(k) <= pmf(a)*(1+1e-7)
    val hg = new HypergeometricDistribution(n, r1, c1)
    val pObs = hg.probability(a)
    val klo = math.max(0, r1 + c1 - n)
    val khi = math.min(r1, c1)
    val expect = (klo to khi).map(hg.probability)
      .filter(_ <= pObs * (1 + 1e-7)).sum
    assert(math.abs(r.getAs[Double]("p_fisher") - math.min(expect, 1.0)) < 1e-6,
      s"p_fisher ${r.getAs[Double]("p_fisher")} vs commons-math $expect")
    // degenerate margin (sf0.001 has zero failing samples): p = 1 exactly
    val r0 = SparkEntry.queries("k29_fisher_exact")(sp, sf).head()
    if (r0.getAs[Long]("qc_fail") == 0L)
      assert(r0.getAs[Double]("p_fisher") == 1.0)
  }

  test("k30 permutation p matches a driver-side BigInt replay on real probes") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("k30_permutation_dmp")(sp, sf)
      .orderBy("probe_id").limit(4).collect()
    assert(got.nonEmpty)
    // replay the LCG permutations driver-side
    val sheet = Tables.sampleSheet(sp, sf)
      .select("sample_id", "group").as[(String, String)].collect().sortBy(_._1)
    val sidx = sheet.map(_._1).zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val nWt = sheet.count(_._2 == "WT")
    val permA: Map[Long, Set[String]] = (1L to 200L).map { rep =>
      val ranked = sheet.map(_._1).sortBy(s =>
        ((sidx(s) * 2654435761L + rep * 40503L) % 104729L, sidx(s)))
      rep -> ranked.take(nWt).toSet
    }.toMap
    val bk = Tables.betaLong(sp, sf)
      .select(col("probe_id"), col("sample_id"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, Long)].collect().groupBy(_._1)
    val grp = sheet.toMap
    got.foreach { r =>
      val probe = r.getAs[String]("probe_id")
      val rows = bk(probe).map(t => (t._2, t._3))
      val n = rows.length
      val stot = rows.map(_._2).sum
      val wt = rows.filter(t => grp(t._1) == "WT")
      val (n1, s1) = (wt.length.toLong, wt.map(_._2).sum)
      val dnumO = BigInt((s1 * n - stot * n1).abs)
      val wo = BigInt(n1 * (n - n1))
      var bValid = 0L
      var bGe = 0L
      (1L to 200L).foreach { rep =>
        val inA = rows.filter(t => permA(rep)(t._1))
        val na = inA.length.toLong
        if (na >= 1 && na < n) {
          bValid += 1
          val sa = inA.map(_._2).sum
          val dnumR = BigInt((sa * n - stot * na).abs)
          val wr = BigInt(na * (n - na))
          if (dnumR * wo >= dnumO * wr) bGe += 1
        }
      }
      assert(r.getAs[Long]("b_valid") == bValid, s"$probe b_valid")
      assert(r.getAs[Long]("b_ge") == bGe, s"$probe b_ge: got ${r.getAs[Long]("b_ge")} expect $bGe")
      val p = (bGe + 1).toDouble / (bValid + 1).toDouble
      assert(math.abs(r.getAs[Double]("p_perm") - p) < 5e-7, s"$probe p_perm")
    }
  }

  test("k32 CMH statistic and MH odds ratio match a driver-side recompute") {
    val sp = spark
    import sp.implicits._
    val r = SparkEntry.queries("k32_cmh_test")(sp, sf01).head()
    // independent per-stratum recompute from the same long views
    val failBySample = Tables.detpLong(sp, sf01)
      .select(col("sample_id"), round(col("pval") * 1010).cast("bigint").as("k"))
      .as[(String, Long)].collect().groupBy(_._1)
      .map { case (s, rows) =>
        s -> (rows.map(_._2).sum * 20 >= rows.length.toLong * 1010)
      }
    val sheet = Tables.sampleSheet(sp, sf01)
      .select("sample_id", "run", "group").as[(String, String, String)].collect()
    var sumA = 0.0; var sumE = 0.0; var sumV = 0.0
    var orNum = 0.0; var orDen = 0.0
    sheet.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, rows) =>
      val a = rows.count(t => failBySample(t._1) && t._3 == "WT").toDouble
      val b = rows.count(t => failBySample(t._1) && t._3 == "MUT").toDouble
      val c = rows.count(t => !failBySample(t._1) && t._3 == "WT").toDouble
      val dd = rows.count(t => !failBySample(t._1) && t._3 == "MUT").toDouble
      val n = a + b + c + dd
      if (n > 1) {
        sumA += a
        sumE += (a + b) * (a + c) / n
        sumV += (a + b) * (c + dd) * (a + c) * (b + dd) / (n * n * (n - 1))
        orNum += a * dd / n
        orDen += b * c / n
      }
    }
    val adiff = math.max(math.abs(sumA - sumE) - 0.5, 0.0)
    val cmh = adiff * adiff / sumV
    assert(r.getAs[Long]("sum_a") == sumA.toLong)
    assert(math.abs(r.getAs[Double]("cmh") - cmh) < 1e-6,
      s"cmh ${r.getAs[Double]("cmh")} vs $cmh")
    assert(math.abs(r.getAs[Double]("or_mh") - orNum / orDen) < 1e-6)
    // inference companion: p consistent with commons-math chi2(1)
    val pi = SparkEntry.queries("k32_cmh_inference")(sp, sf01).head()
    val chi = new org.apache.commons.math3.distribution.ChiSquaredDistribution(1.0)
    assert(math.abs(pi.getAs[Double]("p_value")
      - (1.0 - chi.cumulativeProbability(cmh))) < 1e-6)
  }

  test("k33 Theil-Sen slope matches a brute-force pair median on real probes") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("k33_theil_sen")(sp, sf)
      .orderBy("probe_id").limit(5).collect()
    assert(got.nonEmpty)
    val sidx = Tables.sampleSheet(sp, sf).select("sample_id")
      .as[String].collect().sorted.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val bk = Tables.betaLong(sp, sf)
      .select(col("probe_id"), col("sample_id"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val probe = r.getAs[String]("probe_id")
      val pts = bk(probe).map(t => (sidx(t._2), t._3)).sortBy(_._1)
      val slopes = (for {
        i <- pts.indices; j <- (i + 1) until pts.length
      } yield (pts(j)._2 - pts(i)._2).toDouble / (pts(j)._1 - pts(i)._1)).sorted
      val m = slopes.length
      assert(r.getAs[Long]("m_pairs") == m.toLong, s"$probe m")
      val med = (slopes((m - 1) / 2) + slopes(m / 2)) / 2.0
      assert(math.abs(r.getAs[Double]("sen_slope") - med) < 5e-7,
        s"$probe slope ${r.getAs[Double]("sen_slope")} vs $med")
    }
  }

  test("t25 ECE matches a driver-side recompute; t26 isotonic fit is PAV") {
    val sp = spark
    import sp.implicits._
    // t25: re-derive ECE from the query's own per-bin rows
    val bins = SparkEntry.queries("t25_calibration_ece")(sp, sf01)
      .orderBy("bin").collect()
    val nTot = bins.map(_.getAs[Long]("n")).sum.toDouble
    var ece = 0.0
    bins.foreach { r =>
      val acc = r.getAs[Long]("n_pass").toDouble / r.getAs[Long]("n")
      ece += math.abs(acc - r.getAs[Double]("conf")) * r.getAs[Long]("n") / nTot
      assert(math.abs(r.getAs[Double]("acc") - acc) < 5e-7)
    }
    assert(math.abs(bins.last.getAs[Double]("ece_running") - ece) < 1e-5)
    // t26 planted PAV: pooled violators average to known steps
    val planted = Seq((0.1, 0.0), (0.2, 1.0), (0.3, 0.0), (0.4, 1.0))
      .toDF("score", "label")
    val fit = graft.llm.QualityModel.isotonicFit(planted)
      .orderBy("idx").collect()
      .map(r => (r.getAs[Double]("boundary"), r.getAs[Double]("calibrated")))
    assert(fit.head._2 == 0.0 && fit.last._2 == 1.0,
      s"planted PAV endpoints: ${fit.mkString(",")}")
    assert(fit.filter(p => p._1 > 0.15 && p._1 < 0.35).forall(_._2 == 0.5),
      s"pooled violators should average 0.5: ${fit.mkString(",")}")
    // canonical collapsed form: the pooled {0.2, 0.3} block emits its two
    // boundaries; the single-point blocks emit one row each → 4 rows
    assert(fit.toSeq == Seq((0.1, 0.0), (0.2, 0.5), (0.3, 0.5), (0.4, 1.0)),
      s"canonical step table: ${fit.mkString(",")}")
    // partitioning invariance: local-PAV-then-merge is confluent, so the
    // fit is bit-identical whatever the input partition layout
    val wide = (0 until 200).map(i =>
      (i / 1000.0, if (i % 7 < 3) 1.0 else 0.0)) ++
      Seq((0.05, 1.0), (0.15, 0.0), (0.199, 1.0))
    for (nPart <- Seq(1, 3, 32)) {
      val again = graft.llm.QualityModel
        .isotonicFit(wide.toDF("score", "label").repartition(nPart))
        .orderBy("idx").collect()
        .map(r => (r.getAs[Long]("idx"), r.getAs[Double]("boundary"),
          r.getAs[Double]("calibrated")))
      val base = graft.llm.QualityModel
        .isotonicFit(wide.toDF("score", "label"))
        .orderBy("idx").collect()
        .map(r => (r.getAs[Long]("idx"), r.getAs[Double]("boundary"),
          r.getAs[Double]("calibrated")))
      assert(again.toSeq == base.toSeq, s"nPart=$nPart diverged")
      // monotone in both coordinates
      again.sliding(2).foreach { w =>
        if (w.length == 2) {
          assert(w(1)._2 > w(0)._2)
          assert(w(1)._3 >= w(0)._3)
        }
      }
    }
    // t26 on the real corpus: monotone, in [0,1]
    val cal = SparkEntry.queries("t26_isotonic_calibration")(sp, sf01)
      .orderBy("idx").collect()
    assert(cal.length >= 2)
    cal.sliding(2).foreach { w =>
      assert(w(1).getAs[Double]("boundary") >= w(0).getAs[Double]("boundary"))
      assert(w(1).getAs[Double]("calibrated") >= w(0).getAs[Double]("calibrated"),
        "calibrated must be nondecreasing")
    }
    assert(cal.forall(r => r.getAs[Double]("calibrated") >= 0.0
      && r.getAs[Double]("calibrated") <= 1.0))
  }

  test("k34 conformal q-hat is the exact order statistic; intervals cover") {
    val sp = spark
    import sp.implicits._
    val out = SparkEntry.queries("k34_conformal_clock")(sp, sf01)
      .orderBy("sample_id").collect()
    assert(out.nonEmpty)
    // every interval has the same width 2*qhat; qhat equals the
    // ceil(0.9*(ncal+1))-th smallest calibration score recomputed here
    // lo/hi are rounded to 1e-6 independently, so widths may spread 2e-6
    val widths = out.map(r => r.getAs[Double]("hi") - r.getAs[Double]("lo"))
    assert(widths.max - widths.min < 2.5e-6, s"width spread ${widths.max - widths.min}")
    val ncal = out.head.getAs[Long]("n_cal").toInt
    val coef = Tables.table(sp, sf01, "part")
      .filter(col("p_partkey") % 17 === 3)
      .select(format_string("cg%07d", col("p_partkey")).as("probe_id"),
        (col("p_partkey") % 13 - 6).cast("long").as("coef_num"))
    val pred = Tables.betaLong(sp, sf01)
      .withColumn("k", round(col("beta") * 997).cast("long"))
      .join(coef, "probe_id").groupBy("sample_id")
      .agg(sum(col("k") * col("coef_num")).as("dot"))
      .select(col("sample_id"), (lit(20.0) + col("dot").cast("double") / 9970.0).as("p"))
      .as[(String, Double)].collect().toMap
    val scores = Tables.table(sp, sf01, "supplier")
      .select(col("s_suppkey").cast("long")).as[Long].collect()
      .filter(_ % 2 == 0)
      .flatMap { sk =>
        pred.get(f"S$sk%03d").map(p => math.abs(20.0 + sk * 13 % 41 - p))
      }.sorted
    assert(scores.length == ncal)
    val rank = math.min((9 * ncal + 18) / 10, ncal)
    val qhat = scores(rank - 1)
    assert(math.abs(widths.head / 2.0 - qhat) < 1.5e-6,
      s"qhat ${widths.head / 2.0} vs $qhat")
    // distribution-free marginal coverage is ~1-alpha by construction on
    // exchangeable splits; on this deterministic fixture it lands at 90%
    val cov = out.count(_.getAs[Boolean]("covered")).toDouble / out.length
    assert(cov >= 0.8, s"coverage $cov")
  }

  test("k35 Cox fit: score numerator equals log-rank O-E; Newton solves U(b)=0") {
    val sp = spark
    val cox = SparkEntry.queries("k35_cox_ph")(sp, sf01).head()
    assert(cox.getAs[Boolean]("converged"))
    // U(0) must equal the log-rank numerator O_A - E_A exactly (both are
    // sums of the same per-time terms in the same ascending-time order)
    val lr = SparkEntry.queries("k28_logrank")(sp, sf01).head()
    val oMinusE = lr.getAs[Long]("o_a").toDouble - lr.getAs[Double]("e_a")
    assert(math.abs(cox.getAs[Double]("score_u0") - oMinusE) < 2e-6,
      s"U(0) ${cox.getAs[Double]("score_u0")} vs O-E $oMinusE")
    // replay the Newton solve driver-side from the risk table
    import sp.implicits._
    val rows = graft.ops.Survival.riskTable(
        QueriesStats.kmSubjects(sp, sf01), "cohort_a")
      .filter(col("d_a") + col("d_b") > 0)
      .select(col("t"), col("n_a").cast("double"), col("n_b").cast("double"),
        col("d_a").cast("double"), col("d_b").cast("double"))
      .as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    def u(b: Double): Double = rows.map { case (_, na, nb, da, db) =>
      val p = na * math.exp(b) / (na * math.exp(b) + nb)
      da - (da + db) * p
    }.sum
    val bHat = cox.getAs[Double]("beta")
    assert(math.abs(u(bHat)) < 1e-3, s"U(beta_hat) = ${u(bHat)}")
    // hr/se/z consistency
    assert(math.abs(cox.getAs[Double]("hr") - math.exp(bHat)) < 2e-6)
    assert(math.abs(cox.getAs[Double]("z")
      - bHat / cox.getAs[Double]("se")) < 1e-4)
  }

  test("k35 Cox fit refuses to report convergence on non-identifiable data") {
    val sp = spark
    import sp.implicits._
    // Flat likelihood: every B subject is censored before any A event, so
    // only A is ever at risk when events occur -> information is 0 at every
    // iterate and Newton has no direction.
    val flat = Seq(("a", 5L, 1L), ("a", 7L, 1L), ("a", 9L, 0L),
      ("b", 1L, 0L), ("b", 2L, 0L)).toDF("grp", "duration_h", "event")
    val rFlat = graft.ops.Survival.coxPh(flat, "a").head()
    assert(!rFlat.getAs[Boolean]("converged"), "flat likelihood: converged")
    assert(rFlat.getAs[Double]("se").isNaN, "flat likelihood: se not NaN")
    // Monotone likelihood (complete separation): all events in A while B
    // stays at risk throughout -> the MLE is at +infinity; the bound on
    // |beta| must stop the runaway and flag the fit, not report a number.
    val sep = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 1L),
      ("b", 10L, 0L), ("b", 11L, 0L), ("b", 12L, 0L))
      .toDF("grp", "duration_h", "event")
    val rSep = graft.ops.Survival.coxPh(sep, "a").head()
    assert(!rSep.getAs[Boolean]("converged"), "separation: converged")
    assert(!rSep.getAs[Double]("beta").isNaN, "separation: beta NaN")
  }

  test("k36 CIF decomposition: S + CIF1 + CIF2 telescopes to 1 at every time") {
    val sp = spark
    val out = SparkEntry.queries("k36_cumulative_incidence")(sp, sf01).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val s = r.getAs[Double]("surv")
      val tot = s + r.getAs[Double]("cif_conv") + r.getAs[Double]("cif_fail")
      assert(math.abs(tot - 1.0) < 5e-6,
        s"${r.getAs[String]("grp")}@${r.getAs[Long]("duration_h")}: $tot")
      // CIFs are nondecreasing within group and bounded by 1 - handled by
      // the identity plus nonnegativity:
      assert(s >= 0.0 && r.getAs[Double]("cif_conv") >= 0.0
        && r.getAs[Double]("cif_fail") >= 0.0)
    }
    // competing-risks correction is real: 1 - all-cause KM >= each CIF
    val byGrp = out.groupBy(_.getAs[String]("grp"))
    byGrp.values.foreach { rows =>
      val last = rows.maxBy(_.getAs[Long]("duration_h"))
      assert(last.getAs[Double]("cif_conv") <= 1.0 - last.getAs[Double]("surv") + 5e-6)
    }
  }

  test("k37 Dunn z matches a driver-side midrank recompute on real probes") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("k37_dunn_posthoc")(sp, sf)
      .orderBy("probe_id", "pair").limit(9).collect()
    assert(got.nonEmpty)
    val bg = Tables.betaLong(sp, sf)
      .join(Tables.sampleSheet(sp, sf), "sample_id")
      .select(col("probe_id"), col("run"), col("beta"))
      .as[(String, String, Double)].collect().groupBy(_._1)
    got.groupBy(_.getAs[String]("probe_id")).foreach { case (probe, rows) =>
      val vals = bg(probe)
      // pooled midranks with ties
      val sorted = vals.map(_._3).sorted
      val rankOf = sorted.zipWithIndex.groupBy(_._1)
        .map { case (v, xs) => v -> xs.map(_._2 + 1.0).sum / xs.length }
      val byRun = vals.groupBy(_._2).map { case (r, xs) =>
        r -> xs.map(t => rankOf(t._3))
      }
      val n = vals.length.toDouble
      val ties = vals.groupBy(_._3).values
        .map(g => math.pow(g.length, 3) - g.length).sum
      rows.foreach { r =>
        val Array(gi, gj) = r.getAs[String]("pair").split(" vs ")
        val (ri, rj) = (byRun(gi), byRun(gj))
        val s2 = (n * (n + 1) / 12.0 - ties / (12.0 * (n - 1))) *
          (1.0 / ri.length + 1.0 / rj.length)
        val z = (ri.sum / ri.length - rj.sum / rj.length) / math.sqrt(s2)
        assert(math.abs(r.getAs[Double]("z") - z) < 5e-7,
          s"$probe ${r.getAs[String]("pair")}: ${r.getAs[Double]("z")} vs $z")
      }
    }
  }

  test("k38 DerSimonian-Laird matches a driver recompute; k39 ICC = (F-1)/(F+n0-1)") {
    val sp = spark
    import sp.implicits._
    // sf0.01: the every-run ≥2-per-group gate filters everything at
    // sf0.001's 10 samples
    val got = SparkEntry.queries("k38_random_effects")(sp, sf01)
      .orderBy("probe_id").limit(4).collect()
    assert(got.nonEmpty)
    val bg = Tables.betaLong(sp, sf01)
      .join(Tables.sampleSheet(sp, sf01), "sample_id")
      .select(col("probe_id"), col("run"), col("group"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, String, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val probe = r.getAs[String]("probe_id")
      val runs = (0 to 2).map { ri =>
        val g = bg(probe).filter(_._2 == s"run_$ri")
        val wt = g.filter(_._3 == "WT").map(_._4.toDouble)
        val mut = g.filter(_._3 == "MUT").map(_._4.toDouble)
        def varS(xs: Seq[Double]) = {
          val m = xs.sum / xs.length
          xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
        }
        val y = wt.sum / wt.length - mut.sum / mut.length
        val v = varS(wt) / wt.length + varS(mut) / mut.length
        (y, v)
      }
      val w = runs.map(t => 1.0 / t._2)
      val sw = w.sum
      val swy = runs.zip(w).map { case ((y, _), wi) => wi * y }.sum
      val q = runs.zip(w).map { case ((y, _), wi) => wi * y * y }.sum - swy * swy / sw
      val c = sw - w.map(x => x * x).sum / sw
      val tau2 = math.max((q - 2.0) / c, 0.0)
      val u = runs.map(t => 1.0 / (t._2 + tau2))
      val yRe = runs.zip(u).map { case ((y, _), ui) => ui * y }.sum / u.sum
      assert(math.abs(r.getAs[Double]("q") - q) < 1e-4, s"$probe q")
      assert(math.abs(r.getAs[Double]("tau2") - tau2) < 1e-3, s"$probe tau2")
      assert(math.abs(r.getAs[Double]("delta_re") - yRe / 997.0) < 5e-6, s"$probe y_re")
    }
    // k39: ICC identity against the F-statistic form
    SparkEntry.queries("k39_icc")(sp, sf01).limit(50).collect().foreach { r =>
      val f = r.getAs[Double]("msb") / r.getAs[Double]("msw")
      val n0 = r.getAs[Double]("nbar0")
      val expect = (f - 1.0) / (f + n0 - 1.0)
      assert(math.abs(r.getAs[Double]("icc") - expect) < 1e-4,
        s"${r.getAs[String]("probe_id")}: ${r.getAs[Double]("icc")} vs $expect")
      assert(r.getAs[Double]("icc") <= 1.0)
    }
  }

  test("k40 TOST one-sided p's match commons-math T cdf on real probes") {
    val sp = spark
    val got = SparkEntry.queries("k40_tost_equivalence")(sp, sf)
      .orderBy("probe_id").limit(6).collect()
    assert(got.nonEmpty)
    // recompute from the shared Welch pass
    val base = QueriesStats.welchT(sp, sf)
      .orderBy("probe_id").limit(6).collect()
      .map(r => r.getAs[String]("probe_id") ->
        (r.getAs[Double]("delta_beta"), r.getAs[Double]("se_beta"), r.getAs[Double]("df")))
      .toMap
    got.foreach { r =>
      val (db, se, df) = base(r.getAs[String]("probe_id"))
      val dist = new org.apache.commons.math3.distribution.TDistribution(df)
      val pUpper = dist.cumulativeProbability((db - 0.20) / se)
      val pLower = 1.0 - dist.cumulativeProbability((db + 0.20) / se)
      val pTost = math.max(pUpper, pLower)
      assert(math.abs(r.getAs[Double]("p_tost") - pTost) < 1e-6,
        s"${r.getAs[String]("probe_id")}: ${r.getAs[Double]("p_tost")} vs $pTost")
      assert(r.getAs[Boolean]("equivalent") == (pTost < 0.05))
    }
  }

  test("k41 bootstrap CI matches a driver-side resample replay on real probes") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("k41_bootstrap_ci")(sp, sf)
      .orderBy("probe_id").limit(3).collect()
    assert(got.nonEmpty)
    val sheet = Tables.sampleSheet(sp, sf)
      .select("sample_id", "group").as[(String, String)].collect()
    // per (sample, rep): deterministic Poisson(1) weight — the aggregator's
    // integer device replayed independently (LCG u, then the ⌊cdf·104729⌋
    // threshold ladder)
    def pw(sampleId: String, rep: Long): Long = {
      val key = sampleId.drop(1).toLong
      val u = (key * 2654435761L + rep * 97561L) % 104729L
      val ts = Array(38527L, 77055L, 96319L, 102740L, 104345L, 104666L,
        104720L, 104727L)
      ts.indexWhere(u < _) match { case -1 => 8L; case i => i.toLong }
    }
    val grp = sheet.toMap
    val bk = Tables.betaLong(sp, sf)
      .select(col("probe_id"), col("sample_id"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val probe = r.getAs[String]("probe_id")
      val rows = bk(probe)
      val deltas = (1L to 200L).map { rep =>
        def side(g: String) = {
          val obs = rows.filter(t => grp(t._2) == g)
          val ws = obs.map(t => pw(t._2, rep))
          (obs.zip(ws).map { case (t, w) => t._3 * w }.sum, ws.sum)
        }
        val (swt, nwt) = side("WT")
        val (smut, nmut) = side("MUT")
        assert(nwt >= 1 && nmut >= 1, s"$probe rep $rep degenerate")
        (swt.toDouble / nwt - smut.toDouble / nmut) / 997.0
      }.sorted
      assert(math.abs(r.getAs[Double]("ci_lo") - deltas(4)) < 5e-7,
        s"$probe lo ${r.getAs[Double]("ci_lo")} vs ${deltas(4)}")
      assert(math.abs(r.getAs[Double]("ci_hi") - deltas(195)) < 5e-7,
        s"$probe hi ${r.getAs[Double]("ci_hi")} vs ${deltas(195)}")
    }
  }

  test("k31 effect sizes match brute-force pair loops on real probes") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("k31_effect_sizes")(sp, sf)
      .orderBy("probe_id").limit(4).collect()
    assert(got.nonEmpty)
    val bg = Tables.betaLong(sp, sf)
      .join(Tables.sampleSheet(sp, sf), "sample_id")
      .select(col("probe_id"), col("group"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val probe = r.getAs[String]("probe_id")
      val wt = bg(probe).filter(_._2 == "WT").map(_._3.toDouble)
      val mut = bg(probe).filter(_._2 == "MUT").map(_._3.toDouble)
      def varS(xs: Array[Double]) = {
        val m = xs.sum / xs.length
        xs.map(x => (x - m) * (x - m)).sum / (xs.length - 1)
      }
      val sp2 = ((wt.length - 1) * varS(wt) + (mut.length - 1) * varS(mut)) /
        (wt.length + mut.length - 2.0)
      val d = (wt.sum / wt.length - mut.sum / mut.length) / math.sqrt(sp2)
      val g = d * (1.0 - 3.0 / (4.0 * (wt.length + mut.length) - 9.0))
      assert(math.abs(r.getAs[Double]("cohens_d") - d) < 5e-7, s"$probe d")
      assert(math.abs(r.getAs[Double]("hedges_g") - g) < 5e-7, s"$probe g")
      var gt = 0L; var lt = 0L
      for (x <- wt; y <- mut) {
        if (x > y) gt += 1 else if (x < y) lt += 1
      }
      val delta = (gt - lt).toDouble / (wt.length.toLong * mut.length)
      assert(math.abs(r.getAs[Double]("cliffs_delta") - delta) < 5e-7,
        s"$probe cliffs: got ${r.getAs[Double]("cliffs_delta")} expect $delta")
    }
  }
}
