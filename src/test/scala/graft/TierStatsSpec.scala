package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph
import graft.llm.TextAnalysis

/** Round-6 closing tier: Welch t (k17) against commons-math's own Welch
  * implementation, degree-ordered triangle enumeration on planted graphs,
  * and BM25 against a hand-computed two-document corpus.
  */
class TierStatsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("k17 Welch t/df/p match commons-math TTest on real probes") {
    val sp = spark
    import sp.implicits._
    val got = QueriesStats.welchT(sp, sf)
      .withColumn("p_value", expr("graft_t_pvalue(t, df)"))
      .orderBy("probe_id").limit(5).collect()
    assert(got.nonEmpty, "no probes survived the n>=3 gates at sf0.001")
    // reconstruct both groups driver-side from the same views
    val bg = Tables.betaLong(sp, sf)
      .join(Tables.sampleSheet(sp, sf), "sample_id")
      .select(col("probe_id"), col("group"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, Long)].collect()
      .groupBy(_._1)
    val tt = new org.apache.commons.math3.stat.inference.TTest()
    got.foreach { r =>
      val probe = r.getAs[String]("probe_id")
      val rows = bg(probe)
      val wt = rows.filter(_._2 == "WT").map(_._3.toDouble)
      val mut = rows.filter(_._2 == "MUT").map(_._3.toDouble)
      assert(math.abs(r.getAs[Double]("t") - tt.t(wt, mut)) < 1e-9,
        s"$probe t: got ${r.getAs[Double]("t")} expect ${tt.t(wt, mut)}")
      assert(math.abs(r.getAs[Double]("p_value") - tt.tTest(wt, mut)) < 1e-9,
        s"$probe p: got ${r.getAs[Double]("p_value")} expect ${tt.tTest(wt, mut)}")
      // delta_beta is the group mean difference rescaled off the 0..996 grid
      val md = wt.sum / wt.length - mut.sum / mut.length
      assert(math.abs(r.getAs[Double]("delta_beta") - md / 997.0) < 1e-12)
    }
  }

  test("a33 join-cardinality prediction equals the actual join row count") {
    val sp = spark
    val total = SparkEntry.queries("a33_join_cardinality")(sp, sf)
      .filter(col("row_type") === "total").head()
    val actual = Tables.table(sp, sf, "orders")
      .join(Tables.table(sp, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(total.getAs[Long]("predicted_rows") == actual,
      s"predicted ${total.getAs[Long]("predicted_rows")} vs actual $actual")
  }

  test("k22 Mann-Kendall S/z match a driver-side pair-loop reference") {
    val sp = spark
    import sp.implicits._
    val got = QueriesStats.mannKendall(sp, sf)
      .orderBy("probe_id").limit(8).collect()
    assert(got.nonEmpty)
    val bk = Tables.betaLong(sp, sf)
      .select(col("probe_id"), col("sample_id"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val xs = bk(r.getAs[String]("probe_id")).sortBy(_._2).map(_._3)
      val n = xs.length
      var sStat = 0L
      for (i <- 0 until n; j <- i + 1 until n)
        sStat += java.lang.Long.signum(xs(j) - xs(i))
      val tsum = xs.groupBy(identity).values
        .map { t => val c = t.length.toLong; c * (c - 1) * (2 * c + 5) }.sum
      val varS = (n.toDouble * (n - 1) * (2.0 * n + 5) - tsum) / 18.0
      val z = if (sStat > 0) (sStat - 1.0) / math.sqrt(varS)
        else if (sStat < 0) (sStat + 1.0) / math.sqrt(varS) else 0.0
      assert(r.getAs[Long]("s_stat") == sStat,
        s"${r.getAs[String]("probe_id")}: S ${r.getAs[Long]("s_stat")} vs $sStat")
      assert(math.abs(r.getAs[Double]("z") - z) < 1e-9)
    }
  }

  test("a34 Gini matches a driver-side Lorenz computation and is in [0, 1)") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("a34_gini")(sp, sf).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Double]("gini")).toMap
    assert(got.nonEmpty)
    val spend = Tables.events(sp, sf)
      .select(col("event_type"), col("user_id"),
        round(col("value") * 100).cast("bigint").as("c"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).map { case (t, v) =>
        t -> v.groupBy(_._2).values.map(_.map(_._3).sum).toSeq.sorted }
    spend.foreach { case (t, xs) =>
      val n = xs.length.toDouble
      val tot = xs.sum.toDouble
      val sis = xs.zipWithIndex.map { case (x, i) => (i + 1) * x.toDouble }.sum
      val g = 2.0 * sis / (n * tot) - (n + 1) / n
      assert(math.abs(got(t) - g) < 1e-5, s"$t: ${got(t)} vs $g")
      assert(got(t) >= 0.0 && got(t) < 1.0)
    }
  }

  test("t24 Heaps totals equal corpus token and vocabulary counts") {
    val sp = spark
    val row = SparkEntry.queries("t24_heaps_law")(sp, sf).head()
    val words = Tables.table(sp, sf, "documents").select(
      explode(split(trim(regexp_replace(lower(col("text")),
        "[^a-z0-9]+", " ")), " ")).as("w"))
      .filter(col("w") =!= "")
    assert(row.getAs[Long]("tokens_total") == words.count())
    assert(row.getAs[Long]("vocab_total") == words.distinct().count())
    assert(row.getAs[Int]("n_points") == 10)
    // vocabulary growth is sublinear; the sf0.001 synthetic corpus
    // saturates its vocabulary in the first decile, so β may be exactly 0
    val beta = row.getAs[Double]("heaps_beta")
    assert(beta >= 0.0 && beta < 1.0, s"heaps_beta out of range: $beta")
  }

  test("w14 MASE is consistent with its own reported MAE components") {
    val sp = spark
    val rows = SparkEntry.queries("w14_forecast_error")(sp, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ratio = r.getAs[Double]("mae_seasonal_cents") /
        r.getAs[Double]("mae_naive_cents")
      assert(math.abs(r.getAs[Double]("mase") - ratio) < 1e-4)
    }
  }

  test("a29 mutual information: running total matches a driver-side reference") {
    val sp = spark
    import sp.implicits._
    val rows = SparkEntry.queries("a29_mutual_information")(sp, sf)
      .orderBy("x", "y").collect()
    assert(rows.nonEmpty)
    // independent reference from the raw table
    val cells = Tables.table(sp, sf, "orders")
      .groupBy("o_orderstatus", "o_orderpriority").count()
      .as[(String, String, Long)].collect()
    val n = cells.map(_._3).sum.toDouble
    val px = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val py = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val mi = cells.sortBy(c => (c._1, c._2)).map { case (x, y, c) =>
      c / n * math.log(n * c / (px(x).toDouble * py(y).toDouble))
    }.sum
    val lastRunning = rows.last.getAs[Double]("mi_running")
    assert(math.abs(lastRunning - mi) < 1e-6,
      s"MI: got $lastRunning expect $mi")
    // MI of a non-degenerate table is non-negative
    assert(lastRunning >= -1e-12)
  }

  test("a30 ACF matches a naive driver-side autocorrelation") {
    val sp = spark
    import sp.implicits._
    val got = SparkEntry.queries("a30_acf")(sp, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("lag")) ->
        r.getAs[Double]("acf")).toMap
    assert(got.nonEmpty)
    val series = Tables.events(sp, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("t"),
        col("event_id"), round(col("value") * 100).cast("bigint").as("c"))
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) =>
        k -> v.sortBy(x => (x._2, x._3)).map(_._4.toDouble) }
    series.foreach { case (et, xs) =>
      val n = xs.length
      val mu = xs.sum / n
      val den = xs.map(x => (x - mu) * (x - mu)).sum
      (1 to 5).foreach { l =>
        if (n > l && den > 0) {
          val num = (l until n).map(t => (xs(t) - mu) * (xs(t - l) - mu)).sum
          val expect = num / den
          assert(math.abs(got((et, l)) - expect) < 1e-5,
            s"acf($et, $l): got ${got((et, l))} expect $expect")
        }
      }
    }
  }

  test("w12 changepoint finds a planted level shift at the right position") {
    val sp = spark
    import sp.implicits._
    // independent reference on the real series: argmax of the G statistic
    val got = SparkEntry.queries("w12_changepoint")(sp, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Int]("split_pos"), r.getAs[Double]("g_stat"))).toMap
    assert(got.nonEmpty)
    val series = Tables.events(sp, sf)
      .select(col("event_type"), unix_micros(col("ts")).as("t"),
        col("event_id"), round(col("value") * 100).cast("bigint").as("c"))
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (k, v) =>
        k -> v.sortBy(x => (x._2, x._3)).map(_._4.toDouble) }
    series.foreach { case (et, xs) =>
      val n = xs.length
      val cum = xs.scanLeft(0.0)(_ + _).tail
      val s = cum.last
      var bestT = -1; var bestG = Double.NegativeInfinity
      (1 until n).foreach { t =>
        val g = math.sqrt(t.toDouble * (n - t) / n) *
          math.abs(cum(t - 1) / t - (s - cum(t - 1)) / (n - t))
        if (g > bestG) { bestG = g; bestT = t }
      }
      assert(got(et)._1 == bestT,
        s"$et: split at ${got(et)._1}, reference says $bestT")
      assert(math.abs(got(et)._2 - bestG) < 1e-4,
        s"$et: G ${got(et)._2} vs $bestG")
    }
  }

  test("k20 Kruskal-Wallis H matches a driver-side average-rank reference") {
    val sp = spark
    import sp.implicits._
    val got = QueriesStats.kruskalWallis(sp, sf)
      .orderBy("probe_id").limit(8).collect()
    assert(got.nonEmpty, "no probes survived the n>=2-per-run gates")
    val bg = Tables.betaLong(sp, sf)
      .join(Tables.sampleSheet(sp, sf), "sample_id")
      .select(col("probe_id"), col("run"), col("beta"))
      .as[(String, String, Double)].collect().groupBy(_._1)
    got.foreach { r =>
      val rows = bg(r.getAs[String]("probe_id"))
      // average ranks with ties, 1-based, computed the naive way
      val sorted = rows.map(_._3).sorted
      def avgRank(v: Double): Double = {
        val lo = sorted.indexWhere(_ == v) + 1
        val hi = sorted.lastIndexWhere(_ == v) + 1
        (lo + hi) / 2.0
      }
      val n = rows.length.toDouble
      val byRun = rows.groupBy(_._2).values.toSeq
      val hRaw = 12.0 / (n * (n + 1)) * byRun.map { g =>
        val rs = g.map(x => avgRank(x._3)).sum
        rs * rs / g.length
      }.sum - 3 * (n + 1)
      val ties = sorted.groupBy(identity).values
        .map(t => math.pow(t.length, 3) - t.length).sum
      val h = hRaw / (1.0 - ties / (n * n * n - n))
      assert(math.abs(r.getAs[Double]("h") - h) < 1e-6 * math.max(1.0, h),
        s"${r.getAs[String]("probe_id")}: got ${r.getAs[Double]("h")} expect $h")
      assert(r.getAs[Long]("n") == rows.length)
    }
  }

  test("k21 Jarque-Bera matches direct biased-moment computation") {
    val sp = spark
    import sp.implicits._
    val got = QueriesStats.jarqueBera(sp, sf)
      .orderBy("probe_id").limit(8).collect()
    assert(got.nonEmpty)
    val bk = Tables.betaLong(sp, sf)
      .select(col("probe_id"), round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val xs = bk(r.getAs[String]("probe_id")).map(_._2.toDouble)
      val n = xs.length.toDouble
      val mu = xs.sum / n
      def cm(p: Int) = xs.map(x => math.pow(x - mu, p)).sum / n
      val skew = cm(3) / math.pow(cm(2), 1.5)
      val kurt = cm(4) / (cm(2) * cm(2))
      val jb = n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0)
      assert(math.abs(r.getAs[Double]("skew") - skew) < 1e-9, s"skew mismatch")
      assert(math.abs(r.getAs[Double]("kurt") - kurt) < 1e-9, s"kurt mismatch")
      assert(math.abs(r.getAs[Double]("jb") - jb) < 1e-6 * math.max(1.0, jb))
    }
  }

  test("k18 Brown-Forsythe F matches a driver-side reference on real probes") {
    val sp = spark
    import sp.implicits._
    val got = QueriesStats.brownForsythe(sp, sf)
      .orderBy("probe_id").limit(5).collect()
    assert(got.nonEmpty)
    val bg = Tables.betaLong(sp, sf)
      .join(Tables.sampleSheet(sp, sf), "sample_id")
      .select(col("probe_id"), col("run"),
        round(col("beta") * 997).cast("bigint").as("k"))
      .as[(String, String, Long)].collect().groupBy(_._1)
    def median2(xs: Seq[Long]): Long = { // 2×median of integers, exact
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) 2 * s(n / 2) else s(n / 2 - 1) + s(n / 2)
    }
    got.foreach { r =>
      val rows = bg(r.getAs[String]("probe_id"))
      val groups = rows.groupBy(_._2).values.toSeq
      val z = groups.flatMap { g =>
        val m2 = median2(g.map(_._3))
        g.map(x => math.abs(2 * x._3 - m2).toDouble)
      }
      val perGroup = groups.map { g =>
        val m2 = median2(g.map(_._3))
        g.map(x => math.abs(2 * x._3 - m2).toDouble)
      }
      val n = z.size.toDouble
      val grand = z.sum / n
      val ssb = perGroup.map(g => g.size * math.pow(g.sum / g.size - grand, 2)).sum
      val ssw = perGroup.map(g => g.map(x => math.pow(x - g.sum / g.size, 2)).sum).sum
      val f = (ssb / 2.0) / (ssw / (n - 3.0))
      assert(math.abs(r.getAs[Double]("bf_f") - f) < 1e-6 * math.max(1.0, f),
        s"${r.getAs[String]("probe_id")}: got ${r.getAs[Double]("bf_f")} expect $f")
    }
  }

  test("k19 Fisher combination is consistent with its component p-values") {
    val sp = spark
    val got = SparkEntry.queries("k19_fisher_combined")(sp, sf)
      .limit(5).collect()
    assert(got.nonEmpty)
    val chi = new org.apache.commons.math3.distribution.ChiSquaredDistribution(6.0)
    got.foreach { r =>
      val (pw, pr, pk) = (r.getAs[Double]("p_w"), r.getAs[Double]("p_r"), r.getAs[Double]("p_k"))
      val x2 = -2.0 * (math.log(pw) + math.log(pr) + math.log(pk))
      // rounded components => loose tolerance on the recomputed statistic
      assert(math.abs(r.getAs[Double]("x2") - x2) < 2e-4,
        s"${r.getString(0)}: x2=${r.getAs[Double]("x2")} recomputed=$x2")
      val p = 1.0 - chi.cumulativeProbability(r.getAs[Double]("x2"))
      assert(math.abs(r.getAs[Double]("p_value") - p) < 1e-5)
      graft.ops.Caches.releaseAll()
    }
  }

  private def triSet(edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val sp = spark
    import sp.implicits._
    try Graph.triangles(edges.toDF("u", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    finally graft.ops.Caches.releaseAll()
  }

  test("triangles: K4 has exactly its four triangles, each emitted once") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(triSet(k4) ==
      Set((1L, 2L, 3L), (1L, 2L, 4L), (1L, 3L, 4L), (2L, 3L, 4L)))
  }

  test("triangles: paths and stars contribute none; shared-edge pair found") {
    // two triangles sharing edge (2,3), plus a pendant path 5-6-7
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L))
    assert(triSet(g) == Set((1L, 2L, 3L), (2L, 3L, 4L)))
  }

  test("bm25 matches a hand-computed two-document corpus") {
    val sp = spark
    import sp.implicits._
    // doc 1: "cat dog cat" (dl=3, tf_cat=2); doc 2: "dog bird" (dl=2, tf_cat=0)
    val docs = Seq((1L, "cat dog cat"), (2L, "dog bird")).toDF("doc_id", "text")
    val got = TextAnalysis.bm25(docs, Seq("cat"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("dl"), r.getAs[Long]("tf_cat"), r.getAs[Double]("score"))).toMap
    val (k1, b, avgdl) = (1.2, 0.75, 2.5)
    val idf = math.log(1.0 + (2.0 - 1.0 + 0.5) / (1.0 + 0.5)) // df_cat = 1
    val exp1 = idf * (2.0 * (k1 + 1.0)) / (2.0 + k1 * (1.0 - b + b * 3.0 / avgdl))
    assert(got(1L)._1 == 3L && got(1L)._2 == 2L)
    assert(math.abs(got(1L)._3 - exp1) < 1e-12, s"got ${got(1L)._3} expect $exp1")
    assert(got(2L)._2 == 0L && math.abs(got(2L)._3) < 1e-15)
  }

  test("k28 Kaplan-Meier matches the hand-computed product-limit curve (incl. extinction)") {
    val sp = spark
    import sp.implicits._
    // A: classic textbook set; B: everyone at risk dies at the last time
    val subj = Seq(
      ("A", 1L, 1L), ("A", 2L, 1L), ("A", 2L, 0L), ("A", 3L, 1L), ("A", 4L, 0L),
      ("B", 1L, 1L), ("B", 2L, 1L)).toDF("grp", "duration_h", "event")
    val got = graft.ops.Survival.kaplanMeier(subj).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // A: t=1 n=5 d=1 S=.8; t=2 n=4 d=1 S=.6 (censored-at-2 still at risk);
    //    t=3 n=2 d=1 S=.3
    assert(got(("A", 1L))._1 == 5L && got(("A", 1L))._2 == 1L)
    assert(math.abs(got(("A", 1L))._3 - 0.8) < 1e-12)
    assert(got(("A", 2L))._1 == 4L && math.abs(got(("A", 2L))._3 - 0.6) < 1e-12)
    assert(got(("A", 3L))._1 == 2L && math.abs(got(("A", 3L))._3 - 0.3) < 1e-12)
    // Greenwood: se(t) = S(t)·sqrt(Σ d/(n(n−d)))
    assert(math.abs(got(("A", 1L))._4 - 0.8 * math.sqrt(1.0 / 20)) < 1e-12)
    assert(math.abs(got(("A", 2L))._4 - 0.6 * math.sqrt(1.0 / 20 + 1.0 / 12)) < 1e-12)
    assert(math.abs(got(("A", 3L))._4
      - 0.3 * math.sqrt(1.0 / 20 + 1.0 / 12 + 1.0 / 2)) < 1e-12)
    // B: t=1 n=2 d=1 S=.5; t=2 n=1 d=1 → extinction → S exactly 0 (no ln(0))
    assert(math.abs(got(("B", 1L))._3 - 0.5) < 1e-12)
    assert(got(("B", 2L))._3 == 0.0 && got(("B", 2L))._4 == 0.0)
  }

  test("k28 log-rank O/E/V/chi2 match a driver-side per-time loop") {
    val sp = spark
    import sp.implicits._
    val subj = Seq(
      ("A", 1L, 1L), ("A", 3L, 1L), ("A", 5L, 0L), ("A", 7L, 1L), ("A", 9L, 0L),
      ("B", 1L, 1L), ("B", 2L, 1L), ("B", 2L, 1L), ("B", 4L, 0L), ("B", 6L, 1L))
    val got = graft.ops.Survival.logRank(
      subj.toDF("grp", "duration_h", "event"), "A").head()
    // reference: loop over pooled event times
    val times = subj.filter(_._3 == 1L).map(_._2).distinct.sorted
    var (o, e, v) = (0L, 0.0, 0.0)
    times.foreach { t =>
      val nA = subj.count(s => s._1 == "A" && s._2 >= t)
      val nB = subj.count(s => s._1 == "B" && s._2 >= t)
      val dA = subj.count(s => s._1 == "A" && s._2 == t && s._3 == 1L)
      val dB = subj.count(s => s._1 == "B" && s._2 == t && s._3 == 1L)
      val n = nA + nB; val dd = dA + dB
      o += dA
      e += dd.toDouble * nA / n
      if (n > 1)
        v += dd.toDouble * nA / n * (1.0 - nA.toDouble / n) * (n - dd).toDouble / (n - 1)
    }
    assert(got.getAs[Long]("n_times") == times.length)
    assert(got.getAs[Long]("o_a") == o)
    assert(math.abs(got.getAs[Double]("e_a") - e) < 1e-12)
    assert(math.abs(got.getAs[Double]("var_a") - v) < 1e-12)
    assert(math.abs(got.getAs[Double]("chi2") - (o - e) * (o - e) / v) < 1e-9)
  }

  test("k27 chi-square independence matches commons-math on the real contingency table") {
    val sp = spark
    val cells = SparkEntry.queries("k27_chisq_independence")(sp, sf).collect()
    val langs = cells.map(_.getString(0)).distinct.sorted
    val sources = cells.map(_.getString(1)).distinct.sorted
    val m = Array.ofDim[Long](langs.length, sources.length)
    cells.foreach { r =>
      m(langs.indexOf(r.getString(0)))(sources.indexOf(r.getString(1))) =
        r.getAs[Long]("obs")
    }
    val cs = new org.apache.commons.math3.stat.inference.ChiSquareTest()
    val expChi = cs.chiSquare(m)
    val gotChi = cells.map(_.getAs[Double]("chisq_running")).max
    assert(math.abs(gotChi - expChi) < 1e-5, s"chi2 $gotChi vs $expChi")
    val inf = SparkEntry.queries("k27_chisq_inference")(sp, sf).head()
    assert(math.abs(inf.getAs[Double]("chisq") - expChi) < 1e-5)
    assert(math.abs(inf.getAs[Double]("p_value") - cs.chiSquareTest(m)) < 1e-5,
      s"p ${inf.getAs[Double]("p_value")} vs ${cs.chiSquareTest(m)}")
  }

  test("a36 PSI matches a driver-side reference on the real event feature") {
    val sp = spark
    import sp.implicits._
    val rows = SparkEntry.queries("a36_psi_drift")(sp, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // driver-side recomputation from the same parquet
    val ev = Tables.events(sp, sf)
      .select(unix_micros(col("ts")).as("t"),
        round(col("value") * 100).cast("bigint").as("c"))
      .as[(Long, Long)].collect()
    val (tmin, tmax) = (ev.map(_._1).min, ev.map(_._1).max)
    def isRef(t: Long) = (t - tmin) * 2 / (tmax - tmin + 1) == 0
    val ref = ev.filter(e => isRef(e._1)).map(_._2)
    val cmp = ev.filterNot(e => isRef(e._1)).map(_._2)
    val (cmin, cmax) = (ref.min, ref.max)
    def bin(c: Long) = math.min(math.max((c - cmin) * 10 / (cmax - cmin + 1), 0L), 9L)
    val nr = ref.groupBy(bin).map { case (b, v) => b -> v.length.toLong }
    val nc = cmp.groupBy(bin).map { case (b, v) => b -> v.length.toLong }
    val bins = (nr.keySet ++ nc.keySet).toSeq.sorted
    var psi = 0.0
    bins.foreach { b =>
      val pr = (nr.getOrElse(b, 0L) + 1.0) / (ref.length + 10.0)
      val pc = (nc.getOrElse(b, 0L) + 1.0) / (cmp.length + 10.0)
      psi += (pc - pr) * math.log(pc / pr)
    }
    assert(rows.length == bins.length)
    assert(math.abs(rows.last.getAs[Double]("psi_running") - psi) < 1e-5,
      s"psi ${rows.last.getAs[Double]("psi_running")} vs $psi")
    rows.foreach { r =>
      assert(r.getLong(1) == nr.getOrElse(r.getLong(0), 0L))
      assert(r.getLong(2) == nc.getOrElse(r.getLong(0), 0L))
    }
  }

  test("seasonalDecompose handles ODD periods (window spans exactly `period` rows)") {
    val sp = spark
    import sp.implicits._
    val pattern = Array.tabulate(7)(i => (i * 3 % 5 + 1).toLong)
    val series = (0 until 28).map(b => ("k", b.toLong, pattern(b % 7)))
      .toDF("key", "bucket", "n")
    val got = graft.ops.Timeseries
      .seasonalDecompose(series, "key", "bucket", "n", 7).collect()
    // an even-only frame would span 6 rows and emit NOTHING for period 7
    assert(got.nonEmpty)
    assert(got.map(_.getLong(1)).min == 3 && got.map(_.getLong(1)).max == 24)
    got.foreach(r => assert(math.abs(r.getAs[Double]("remainder")) < 1e-9))
  }

  test("w15 seasonal decomposition recovers an exactly periodic series (zero remainder)") {
    val sp = spark
    import sp.implicits._
    val pattern = Array.tabulate(24)(i => ((i * 7) % 11 + 1).toLong)
    val series = (0 until 72).map(b => ("k", b.toLong, pattern(b % 24)))
      .toDF("key", "bucket", "n")
    val got = graft.ops.Timeseries
      .seasonalDecompose(series, "key", "bucket", "n", 24).collect()
    val mean = pattern.sum.toDouble / 24.0
    assert(got.nonEmpty)
    // full windows only: buckets 11..59 inclusive survive (edges dropped)
    assert(got.map(_.getLong(1)).min == 11 && got.map(_.getLong(1)).max == 59)
    got.foreach { r =>
      val b = r.getLong(1)
      assert(math.abs(r.getAs[Double]("trend") - mean) < 1e-9)
      assert(math.abs(r.getAs[Double]("seasonal") - (pattern((b % 24).toInt) - mean)) < 1e-9)
      assert(math.abs(r.getAs[Double]("remainder")) < 1e-9)
    }
  }

  test("k42 per-probe OLS matches commons-math OLSMultipleLinearRegression") {
    val sp = spark
    import sp.implicits._
    val got = QueriesStats.probeOls(sp, sf)
      .orderBy("probe_id").limit(8).collect()
    assert(got.nonEmpty, "no probes survived the n>=8/det>0 gates at sf0.001")
    // reconstruct (k, g, a) per probe driver-side — the covariate panel is
    // a DEFINITION shared via olsCov (independence comes from commons-math
    // recomputing the fit, not from re-transcribing the panel)
    val rows = Tables.betaLong(sp, sf).join(QueriesStats.olsCov(sp, sf), "sample_id")
      .select(col("probe_id"), round(col("beta") * 997).cast("long").as("k"),
        col("g"), col("a"))
      .as[(String, Long, Long, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val probe = r.getAs[String]("probe_id")
      val data = rows(probe)
      val reg = new org.apache.commons.math3.stat.regression
        .OLSMultipleLinearRegression()
      reg.newSampleData(data.map(_._2.toDouble),
        data.map(t => Array(t._3.toDouble, t._4.toDouble)))
      val beta = reg.estimateRegressionParameters() // [b0, b_group, b_age]
      val se = reg.estimateRegressionParametersStandardErrors()
      assert(math.abs(r.getAs[Double]("b_group") - beta(1)) < 1e-7,
        s"$probe b_group: got ${r.getAs[Double]("b_group")} expect ${beta(1)}")
      assert(math.abs(r.getAs[Double]("b_age") - beta(2)) < 1e-7,
        s"$probe b_age: got ${r.getAs[Double]("b_age")} expect ${beta(2)}")
      assert(math.abs(r.getAs[Double]("se_group") - se(1)) < 1e-7,
        s"$probe se_group: got ${r.getAs[Double]("se_group")} expect ${se(1)}")
      assert(math.abs(r.getAs[Double]("se_age") - se(2)) < 1e-7)
      assert(r.getAs[Long]("df") == data.length - 3)
      assert(math.abs(r.getAs[Double]("t_group")
        - r.getAs[Double]("b_group") / r.getAs[Double]("se_group")) < 1e-9)
    }
  }

  test("k43 partial F equals t_age squared (the df1=1 nested-model identity)") {
    val sp = spark
    val ols = SparkEntry.queries("k42_probe_ols")(sp, sf)
      .select("probe_id", "t_age").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val pf = SparkEntry.queries("k43_partial_f")(sp, sf)
      .select("probe_id", "f", "df2").collect()
    assert(pf.nonEmpty)
    pf.foreach { r =>
      val t = ols(r.getString(0))
      // both sides rounded to 6dp independently → compare at 1e-3
      assert(math.abs(r.getDouble(1) - t * t) < 1e-3 * math.max(1.0, t * t),
        s"${r.getString(0)}: F ${r.getDouble(1)} vs t_age^2 ${t * t}")
    }
    graft.ops.Caches.releaseAll()
  }

  test("k44 HC1 sandwich SEs match a driver-side matrix recompute") {
    val sp = spark
    import sp.implicits._
    val got = QueriesStats.probeOlsRobust(sp, sf)
      .orderBy("probe_id").limit(6).collect()
    assert(got.nonEmpty)
    val rows = Tables.betaLong(sp, sf).join(QueriesStats.olsCov(sp, sf), "sample_id")
      .select(col("probe_id"), round(col("beta") * 997).cast("long").as("k"),
        col("g"), col("a"))
      .as[(String, Long, Long, Long)].collect().groupBy(_._1)
    got.foreach { r =>
      val data = rows(r.getAs[String]("probe_id"))
      val y = data.map(_._2.toDouble)
      val x = data.map(t => Array(1.0, t._3.toDouble, t._4.toDouble))
      // X'X inverse via commons-math, b via OLS
      val xtx = Array.ofDim[Double](3, 3)
      val xty = Array.ofDim[Double](3)
      for (i <- x.indices; p <- 0 until 3) {
        xty(p) += x(i)(p) * y(i)
        for (q <- 0 until 3) xtx(p)(q) += x(i)(p) * x(i)(q)
      }
      val inv = new org.apache.commons.math3.linear.LUDecomposition(
        new org.apache.commons.math3.linear.Array2DRowRealMatrix(xtx))
        .getSolver.getInverse
      val b = inv.operate(new org.apache.commons.math3.linear.ArrayRealVector(xty))
      // meat with the SAME 1e-3 quantization as the engine
      val meat = Array.ofDim[Double](3, 3)
      for (i <- x.indices) {
        val e = math.round((y(i) - b.dotProduct(
          new org.apache.commons.math3.linear.ArrayRealVector(x(i)))) * 100) / 100.0
        for (p <- 0 until 3; q <- 0 until 3)
          meat(p)(q) += e * e * x(i)(p) * x(i)(q)
      }
      val mm = new org.apache.commons.math3.linear.Array2DRowRealMatrix(meat)
      val sand = inv.multiply(mm).multiply(inv)
      val hc1 = data.length.toDouble / (data.length - 3.0)
      val seG = math.sqrt(sand.getEntry(1, 1) * hc1)
      val seA = math.sqrt(sand.getEntry(2, 2) * hc1)
      assert(math.abs(r.getAs[Double]("se_group_hc1") - seG) < 1e-6 * seG,
        s"se_group_hc1 ${r.getAs[Double]("se_group_hc1")} vs $seG")
      assert(math.abs(r.getAs[Double]("se_age_hc1") - seA) < 1e-6 * seA,
        s"se_age_hc1 ${r.getAs[Double]("se_age_hc1")} vs $seA")
    }
  }
}
