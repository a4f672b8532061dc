package graft

import org.apache.spark.sql.functions._
import graft.ops.Analytic

class AnalyticSpec extends SparkSpec {
  import spark.implicits._

  test("bhAdjust matches R p.adjust(method='BH'), including ties") {
    // R: p.adjust(c(0.1, 0.2, 0.2, 0.5), "BH") == c(0.266667, 0.266667, 0.266667, 0.5)
    val df = Seq(("a", 0.1), ("b", 0.2), ("c", 0.2), ("d", 0.5)).toDF("id", "p")
    val got = Analytic.bhAdjust(df, "p", "id").orderBy("id")
      .select("fdr").as[Double].collect()
    val expected = Seq(4.0 * 0.2 / 3, 4.0 * 0.2 / 3, 4.0 * 0.2 / 3, 0.5)
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9, s"$g vs $e") }
  }

  test("bhAdjust clamps at 1 and keeps the smallest p monotone") {
    val df = Seq(("a", 0.9), ("b", 0.95), ("c", 0.01)).toDF("id", "p")
    val m = Analytic.bhAdjust(df, "p", "id").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(m("c") == 0.03) // 0.01 * 3 / 1
    assert(m("a") <= 1.0 && m("b") <= 1.0)
  }

  test("holmAdjust matches R p.adjust(method='holm'), including a tie and a null") {
    // R: p.adjust(c(0.01, 0.04, 0.04, NA, 0.03, 0.5), "holm")
    //      == c(0.05, 0.12, 0.12, NA, 0.12, 0.5)
    // i.e. pmin(1, cummax((n - i + 1) * p[o]))[ro] with n = 5 non-null p
    // and o = (a, e, b, c, f); the tie b/c keeps input order
    val df = Seq(("a", Some(0.01)), ("b", Some(0.04)), ("c", Some(0.04)), ("d", None),
      ("e", Some(0.03)), ("f", Some(0.5))).toDF("id", "p")
    val got = Analytic.holmAdjust(df, "p", "id").collect()
      .map(r => r.getString(0) -> Option(r.get(2))).toMap
    val adj = Seq(5 * 0.01, 4 * 0.03, 3 * 0.04, 2 * 0.04, 1 * 0.5)
      .scanLeft(0.0)(math.max).tail.map(math.min(_, 1.0))
    assert(adj == Seq(0.05, 0.12, 0.12, 0.12, 0.5))
    assert(got == Seq("a", "e", "b", "c", "f").zip(adj.map(Some(_))).toMap + ("d" -> None))
  }

  test("the one-partition prefix scan builds with no job and no window, and reads its input once") {
    import org.apache.spark.graft.ListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = (0 until 200).map(i => (f"k$i%03d", (i * 37 % 200) / 200.0, i % 50 + 1L))
      .toDF("id", "p", "tokens")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ListenerBus.drain(spark.sparkContext)
      val built = Seq(Analytic.bhAdjust(df, "p", "id"), Analytic.holmAdjust(df, "p", "id"),
        graft.llm.Curation.tokenBudgetSelect(df, "p", "tokens", "id", 1000L))
      ListenerBus.drain(spark.sparkContext)
      assert(jobs.get == 0, "building ran Spark jobs")
      val helper = new AdaptiveSparkPlanHelper {}
      built.foreach { out =>
        assert(out.count() == 200)
        val plan = out.queryExecution.executedPlan
        assert(helper.collectWithSubqueries(plan) { case p: WindowExec => p }.isEmpty, plan.toString)
        // The input is evaluated once: scanned directly, or through one
        // cache that both the emit and BH's/Holm's n subquery read.
        val inputs = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
        helper.collectWithSubqueries(plan) {
          case s: LocalTableScanExec => s
          case s: InMemoryTableScanExec => s.relation.cacheBuilder
        }.foreach(inputs.add)
        assert(inputs.size == 1, plan.toString)
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.ops.Caches.releaseAll()
    }
  }

  test("spearmanThresholded finds |rho|=1 pairs (both signs), emits exact k12 values, never false positives") {
    // s1/s2 perfectly rank-correlated, s1/s3 perfectly anti-correlated,
    // s4 independent noise. rho = +1 pairs are GUARANTEED found (equal
    // centered rank vectors => identical bits in every band — no LSH
    // luck). rho = -1 pairs fully complement per band and the canonical
    // form collapses them WHENEVER no band projection is exactly zero
    // (sign(0) maps to bit 1 on both sides); this fixture's projections
    // are all nonzero, so both directions are exercised
    // deterministically.
    val probes = (0 until 60).map(i => f"p$i%02d")
    val rows =
      probes.zipWithIndex.flatMap { case (p, i) =>
        Seq(("s1", p, i.toDouble), ("s2", p, (i * 2).toDouble),
          ("s3", p, (100 - i).toDouble),
          ("s4", p, ((i * 37 + 11) % 60).toDouble))
      }
    val df = rows.toDF("sample_id", "probe_id", "beta")
    val got = Analytic.spearmanThresholded(df, "probe_id", "sample_id",
        "beta", tau = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    graft.ops.Caches.releaseAll()
    assert(math.abs(got(("s1", "s2")) - 1.0) < 1e-12)
    assert(math.abs(got(("s1", "s3")) + 1.0) < 1e-12)
    assert(math.abs(got(("s2", "s3")) + 1.0) < 1e-12)
    // exact precision: every emitted pair must appear in the full k12
    // matrix with the identical rho and clear the threshold
    val full = Analytic.spearmanMatrix(df, "probe_id", "sample_id", "beta")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    graft.ops.Caches.releaseAll()
    got.foreach { case (k, rho) =>
      assert(math.abs(rho) >= 0.9, s"$k emitted below tau: $rho")
      assert(full(k) == rho, s"$k: thresholded $rho != full ${full(k)}")
    }
    assert(!got.keySet.exists { case (a, b) => a == "s4" || b == "s4" } ||
      got.filter { case ((a, b), _) => a == "s4" || b == "s4" }
        .forall { case (_, rho) => math.abs(rho) >= 0.9 })
  }

  test("the sign sketch's packed md5 signs equal the oracle's SQL sign rule") {
    // Both Spearman paths call signWords, so only the SQL form the oracle
    // replays can catch a wrong charset, byte or bit position. 72 bits
    // span two words; one probe id is non-ASCII.
    val nbits = 72
    val probes = Seq("cg00000029", "p007", "ß-probé-µ")
    val sql = probes.toDF("p").crossJoin(spark.range(nbits).toDF("j"))
      .select(col("p"), col("j"),
        (substring(md5(concat(col("p"), lit("#"), col("j").cast("string"))), 1, 1) < "8")
          .as("plus"))
      .collect().map(r => (r.getString(0), r.getLong(1).toInt) -> r.getBoolean(2)).toMap
    probes.foreach { p =>
      val words = graft.functions.SignSketchAgg.signWords(p, nbits)
      assert(words.length == 2 && (words(1) >>> (nbits - 64)) == 0L)
      for (j <- 0 until nbits)
        assert((((words(j >> 6) >>> (j & 63)) & 1L) == 1L) == sql((p, j)), s"$p bit $j")
    }
    assert(sql.values.toSet == Set(true, false))
  }

  test("spearmanMatrix fails loudly when duplicated keys overflow the local moment sums") {
    // sample a: 150,000 singleton probes plus 12,000 rows on probe p that
    // hold its largest values; sample b: 12,000 rows on p. The 1.44e8
    // (a, b) pair events on p each add ra² ≈ (3.2e5)², so Σra² passes 2⁶³
    // on the driver-local path (174k rows, within its gates and its
    // pair-event budget); a wrapped sum would return a wrong matrix.
    val single = spark.range(150000).select(format_string("q%06d", col("id")).as("probe_id"),
      lit("a").as("sample_id"), col("id").cast("double").as("beta"))
    val dup = spark.range(12000).select(lit("p").as("probe_id"), lit("a").as("sample_id"),
      (col("id") + 150000).cast("double").as("beta"))
      .union(spark.range(12000).select(lit("p").as("probe_id"), lit("b").as("sample_id"),
        col("id").cast("double").as("beta")))
    try intercept[ArithmeticException] {
      Analytic.spearmanMatrix(single.union(dup), "probe_id", "sample_id", "beta").collect()
    }
    finally graft.ops.Caches.releaseAll()
  }

  test("topKByVariance returns the k most variable keys in order") {
    val df = Seq(
      ("p1", 1.0), ("p1", 1.0), ("p1", 1.0), // var 0
      ("p2", 0.0), ("p2", 10.0), ("p2", 20.0), // var 100
      ("p3", 0.0), ("p3", 1.0), ("p3", 2.0)) // var 1
      .toDF("probe_id", "beta")
    val got = Analytic.topKByVariance(df, "probe_id", "beta", 2)
      .select("probe_id").as[String].collect()
    assert(got.toSeq == Seq("p2", "p3"))
  }

  test("topKIndices keeps topKByVariance's order: ties by key, null variances last") {
    // repeated value sets tie exactly; one-observation keys have no variance
    val rnd = new scala.util.Random(5)
    val shapes = Seq.fill(6)(Seq.fill(4)(rnd.nextInt(5).toDouble))
    val rows = (0 until 60).flatMap { p =>
      val id = f"p$p%03d"
      if (p % 7 == 0) Seq(id -> rnd.nextDouble()) else shapes(p % 6).map(id -> _)
    }
    val df = rows.toDF("probe_id", "beta")
    val variance = Analytic.perKeyVariance(df, "probe_id", "beta")
      .orderBy("probe_id").collect()
    val ids = variance.map(_.getString(0))
    val local = variance.map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    for (k <- Seq(5, 40, 60)) {
      val want = Analytic.topKByVariance(df, "probe_id", "beta", k)
        .select("probe_id").as[String].collect().toSeq
      assert(Analytic.topKIndices(local, k).map(ids).toSeq == want, s"k=$k")
    }
  }

  test("approx_count_distinct stays within its configured error bound") {
    val df = (1L to 20000L).map(k => (k % 7, k % 5000)).toDF("g", "k")
    val rows = df.groupBy("g")
      .agg(approx_count_distinct("k", 0.02).as("est"),
        countDistinct("k").as("exact"))
      .collect()
    rows.foreach { r =>
      val est = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      // 0.02 is the target rsd; allow 4 sigma
      assert(math.abs(est - exact) / exact < 0.08, s"g=${r.get(0)}: $est vs $exact")
    }
  }

  test("Validation.validate counts planted violations, NULLs as violations") {
    import graft.ops.Validation, graft.ops.Validation.Rule
    val df = Seq[(java.lang.Long, String)](
      (1L, "ok"), (60L, "ok"), (null, "ok"), (5L, null))
      .toDF("qty", "tag")
    val got = Validation.validate(df, Seq(
        Rule("qty_in_range", col("qty").between(1, 50)),
        Rule("tag_present", col("tag").isNotNull)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("qty_in_range") == ((2L, 4L))) // 60 out of range, null qty
    assert(got("tag_present") == ((1L, 4L)))
    // one scan for the whole report: a single aggregate in the plan
    val plan = Validation.validate(df, Seq(Rule("r", col("qty") > 0)))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Scan")) <= 1, plan)
    // per-group slicing: same rules, per-tag rows
    val byTag = Validation.validateBy(df.filter(col("tag").isNotNull), "tag",
        Seq(Rule("qty_in_range", col("qty").between(1, 50))))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(byTag(("ok", "qty_in_range")) == ((2L, 3L))) // 60 + null qty
    // empty input reports explicit zeros, not NULLs a gate would drop
    val empty = Validation.validate(df.filter(lit(false)),
        Seq(Rule("r", col("qty") > 0))).collect()
    assert(empty.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 0L)))
    // duplicate rule names fail fast instead of an AnalysisException later
    intercept[IllegalArgumentException] {
      Validation.validate(df, Seq(Rule("r", col("qty") > 0),
        Rule("r", col("qty") < 0)))
    }
  }

  test("hll_union_agg of per-part sketches estimates the union within bound") {
    val df = (1L to 30000L).map(k => (s"part${k % 6}", s"id${k % 9000}"))
      .toDF("part", "id")
    val est = df.groupBy("part").agg(hll_sketch_agg(col("id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("e"))
      .as[Long].head()
    // default lgConfigK=12 → rsd ≈ 1.6%; allow 4 sigma around 9000
    assert(math.abs(est - 9000.0) / 9000.0 < 0.065, s"union estimate $est")
  }

  test("TopKAgg equals the rank-window top-k on random data, through shuffles") {
    import graft.functions.TopKAgg
    import org.apache.spark.sql.expressions.Window
    val rows = (0 until 2000).map { i =>
      (s"g${i % 7}", s"t${(i * 2654435761L) % 40}", (i * 40503L) % 100)
    }
    // pre-aggregate (the a13/a19 shape), then compare both formulations
    val counts = rows.toDF("g", "tag", "v")
      .groupBy("g", "tag").agg(sum("v").as("n"))
      .repartition(4)
    val w = Window.partitionBy("g").orderBy(col("n").desc, col("tag").asc)
    val windowed = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("g", "rk", "tag", "n")
      .collect().map(r => (r.getString(0), r.getInt(1).toLong, r.getString(2), r.getLong(3))).toSet
    val topk = udaf(new TopKAgg(3))
    val agged = counts
      .groupBy("g").agg(topk(col("n"), col("tag")).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "r")))
      .select(col("g"), (col("i") + 1).cast("bigint"), col("r.tag"), col("r.ord"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(agged == windowed)
    // k beyond the group size returns the whole group, ordered
    val topkWide = udaf(new TopKAgg(10))
    val small = Seq(("a", 5L, "x"), ("a", 9L, "y")).toDF("g", "n", "tag")
      .groupBy("g").agg(topkWide(col("n"), col("tag")).as("top"))
      .select(explode(col("top")).as("r")).select("r.ord").as[Long].collect()
    assert(small.toSeq == Seq(9L, 5L))
  }

  test("percentile_approx stays within the GK rank-error bound per group") {
    val df = (1L to 30000L).map(k => (k % 3, (k * 2654435761L) % 1000))
      .toDF("g", "v")
    val acc = 100 // deliberately coarse so the bound is actually exercised
    val rows = df.groupBy("g")
      .agg(percentile_approx(col("v"), lit(0.5), lit(acc)).as("est"),
        sort_array(collect_list("v")).as("all"))
      .collect()
    rows.foreach { r =>
      val est = r.getLong(1)
      val all = r.getSeq[Long](2)
      val rank = all.count(_ <= est)
      val target = 0.5 * all.size
      // GK guarantee: the returned value's rank is within n/accuracy of
      // the requested one.
      assert(math.abs(rank - target) <= all.size.toDouble / acc + 1,
        s"g=${r.get(0)}: rank $rank vs target $target (n=${all.size})")
    }
  }

  test("VecMeanAgg matches the posexplode restatement of the centroid") {
    val vecs = Seq(
      (0, Seq(1.0f, 2.0f, 3.0f)), (0, Seq(3.0f, 2.0f, 1.0f)),
      (1, Seq(10.0f, 0.0f, -2.0f)))
      .toDF("label", "embedding")
    val vecMean = udaf(new graft.functions.VecMeanAgg(3))
    val agg = vecs.groupBy("label").agg(vecMean(col("embedding")).as("c"))
      .select(col("label"), posexplode(col("c")).as(Seq("dim", "v")))
    val naive = vecs.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .groupBy("label", "dim").agg(avg("e").as("v"))
    val diff = agg.join(naive, Seq("label", "dim"))
      .select(abs(agg("v") - naive("v")).as("d")).agg(max("d")).head().getDouble(0)
    assert(diff < 1e-9)
  }
}
