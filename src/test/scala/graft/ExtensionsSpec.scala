package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.metrics.source.CodegenMetrics
import graft.functions.Fns
import org.apache.spark.sql.functions._

/** GraftExtensions: SQL-function injection parity with the Column API. */
class ExtensionsSpec extends SparkSpec {

  private def builder(name: String) =
    GraftExtensions.descriptors.find(_._1.funcName == name).get._3

  test("descriptor builders evaluate correctly on literals") {
    def eval1(name: String, x: Double): Any =
      builder(name)(Seq(Literal(x))).eval(null)
    assert(math.abs(eval1("graft_mvalue", 0.75).asInstanceOf[Double] -
      math.log(3.0) / math.log(2.0)) < 1e-14)
    // pre-clamp: beta=1.0 clamps to 0.999 and stays finite
    assert(eval1("graft_mvalue", 1.0).asInstanceOf[Double].isNaN == false)
    assert(math.abs(eval1("graft_inverse_mvalue", 0.0).asInstanceOf[Double] - 0.5) < 1e-15)
    assert(eval1("graft_neglog10", 0.001).asInstanceOf[Double] - 3.0 < 1e-12)
    assert(eval1("graft_neglog10", 0.0) == null) // guard: p <= 0 -> NULL
    val p = builder("graft_t_pvalue")(Seq(Literal(0.0), Literal(10.0))).eval(null)
    assert(p == 1.0) // t=0 -> two-sided p = 1
  }

  test("graft_chisq_sf matches the commons-math survival function and known quantiles") {
    def sf(x: Double, df: Double): Double =
      builder("graft_chisq_sf")(Seq(Literal(x), Literal(df)))
        .eval(null).asInstanceOf[Double]
    // textbook critical value: P(X²_1 >= 3.841) ≈ 0.05
    assert(math.abs(sf(3.841459, 1.0) - 0.05) < 1e-6)
    assert(math.abs(sf(5.991465, 2.0) - 0.05) < 1e-6)
    // identical to the library call the static delegates to
    assert(sf(7.3, 4.0) ==
      org.apache.commons.math3.special.Gamma.regularizedGammaQ(2.0, 3.65))
    // edges: x<=0 -> 1, monotone decreasing in x, df<=0 -> NaN
    assert(sf(0.0, 3.0) == 1.0)
    assert(sf(-1.0, 3.0) == 1.0)
    val xs = Seq(0.5, 1.0, 2.0, 4.0, 8.0).map(sf(_, 3.0))
    assert(xs.zip(xs.tail).forall { case (a, b) => a > b }, xs)
    assert(sf(1.0, 0.0).isNaN)
    // the identity the r9 inference oracles replay in DuckDB: the χ²(1)
    // survival of z² IS the two-sided normal tail erfc(|z|/√2) — the
    // regularized-gamma path and commons-math erfc agree far inside the
    // round-6 comparison (the Cody rational in SqlOracles.erfc tracks
    // true erfc to ≲1e-14, so transitively the whole chain agrees)
    for (i <- 0 to 216; z = i * 0.037) {
      val viaChisq = sf(z * z, 1.0)
      val viaErfc = org.apache.commons.math3.special.Erf.erfc(z / math.sqrt(2.0))
      assert(math.abs(viaChisq - viaErfc) <=
        1e-13 * math.max(viaErfc, 1e-300), s"z=$z: $viaChisq vs $viaErfc")
    }
  }

  test("graft_f_sf matches the commons-math F distribution and known quantiles") {
    def sf(x: Double, d1: Double, d2: Double): Double =
      builder("graft_f_sf")(Seq(Literal(x), Literal(d1), Literal(d2)))
        .eval(null).asInstanceOf[Double]
    // against the library distribution the incomplete beta restates
    for (x <- Seq(0.3, 1.0, 2.5, 7.0); d1 <- Seq(1.0, 2.0, 5.0); d2 <- Seq(3.0, 10.0, 40.0)) {
      val lib = 1.0 - new org.apache.commons.math3.distribution
        .FDistribution(d1, d2).cumulativeProbability(x)
      assert(math.abs(sf(x, d1, d2) - lib) < 1e-12, s"sf($x,$d1,$d2)")
    }
    // textbook critical value: P(F_{2,10} >= 4.103) ≈ 0.05
    assert(math.abs(sf(4.102821, 2.0, 10.0) - 0.05) < 1e-6)
    // edges: x<=0 -> 1, monotone decreasing in x, df<=0 -> NaN
    assert(sf(0.0, 2.0, 10.0) == 1.0)
    assert(sf(-1.0, 2.0, 10.0) == 1.0)
    val xs = Seq(0.5, 1.0, 2.0, 4.0, 8.0).map(sf(_, 2.0, 10.0))
    assert(xs.zip(xs.tail).forall { case (a, b) => a > b }, xs)
    assert(sf(1.0, 0.0, 10.0).isNaN && sf(1.0, 2.0, -1.0).isNaN)
  }

  test("graft_ks_sf matches commons-math approximateP across the t range") {
    def sf(t: Double): Double =
      builder("graft_ks_sf")(Seq(Literal(t))).eval(null).asInstanceOf[Double]
    val ks = new org.apache.commons.math3.stat.inference.KolmogorovSmirnovTest()
    // approximateP(d, n, m) = Q(d·sqrt(nm/(n+m))) — same asymptotic series
    for (d <- Seq(0.1, 0.2, 0.35, 0.5, 0.8); (n, m) <- Seq((50, 50), (30, 70), (100, 25))) {
      val t = d * math.sqrt(n.toDouble * m / (n + m))
      assert(math.abs(sf(t) - ks.approximateP(d, n, m)) < 1e-10, s"t=$t d=$d n=$n m=$m")
    }
    // known fixed point: Q(1.358) ≈ 0.05 (the classic α=0.05 critical value)
    assert(math.abs(sf(1.358) - 0.05) < 5e-4)
    // edges: tiny t -> 1, monotone decreasing, infinite -> 0
    assert(sf(0.01) == 1.0 && sf(Double.PositiveInfinity) == 0.0)
    val xs = Seq(0.3, 0.6, 1.0, 1.5, 2.0).map(sf)
    assert(xs.zip(xs.tail).forall { case (a, b) => a > b }, xs)
  }

  test("a session built with the extension resolves every function without registration") {
    // a fresh session of the shared context: the extension's injections
    // alone
    val fresh = spark.newSession()
    GraftExtensions.descriptors.foreach { case (id, _, _) =>
      assert(fresh.catalog.functionExists(id.funcName), id.funcName)
    }
    GraftExtensions.tableFunctions.foreach { case (id, _, _) =>
      assert(fresh.sessionState.tableFunctionRegistry.functionExists(id), id.funcName)
    }
    assert(fresh.sql("SELECT graft_inverse_mvalue(graft_mvalue(0.25D)) AS b")
      .head().getDouble(0) == 0.25)
  }

  test("builders reject wrong arity") {
    intercept[IllegalArgumentException] {
      builder("graft_mvalue")(Seq(Literal(1.0), Literal(2.0)))
    }
  }

  test("registerAll exposes the functions to spark.sql, matching Fns columns") {
    // a fresh session with the graft_* functions dropped, so only
    // registerAll can bring them back
    val sp = spark.newSession()
    val registry = sp.sessionState.functionRegistry
    GraftExtensions.descriptors.foreach { case (id, _, _) => registry.dropFunction(id) }
    GraftExtensions.descriptors.foreach { case (id, _, _) =>
      assert(!sp.catalog.functionExists(id.funcName), id.funcName)
    }
    GraftExtensions.registerAll(sp)
    import sp.implicits._
    val df = Seq(0.25, 0.5, 0.999, 0.0001).toDF("beta")
    df.createOrReplaceTempView("ext_betas")
    val viaSql = sp.sql(
      """SELECT beta, graft_mvalue(beta) AS m,
        |       graft_inverse_mvalue(graft_mvalue(beta)) AS roundtrip,
        |       graft_neglog10(beta) AS nl
        |FROM ext_betas""".stripMargin)
    val viaCols = df.select(
      col("beta"), Fns.mValueClamped(col("beta")).as("m"),
      Fns.inverseMValue(Fns.mValueClamped(col("beta"))).as("roundtrip"),
      Fns.negLog10(col("beta")).as("nl"))
    assert(viaSql.collect().toSeq == viaCols.collect().toSeq)
  }

  test("injected expressions fold and stay codegen-compatible") {
    val sp = spark
    // literal input folds at optimization time -> plan carries no function call
    val plan = sp.sql("SELECT graft_inverse_mvalue(0.0) AS x")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("0.5"), s"expected constant-folded literal in: $plan")
  }

  test("graft_dot is bit-equal to the zip_with/aggregate fold") {
    val sp = spark
    import sp.implicits._
    val rows = Seq.tabulate(50)(i =>
      (i.toLong, Seq.tabulate(16)(j => math.sin(i * 17 + j) * 3.7),
        Seq.tabulate(16)(j => math.cos(i * 5 + j) / 1.3)))
      .toDF("id", "a", "b")
    val both = rows.selectExpr("id", "graft_dot(a, b) AS fast",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) AS slow",
        "graft_dot(a, a) AS nrm2",
        "aggregate(transform(a, x -> x * x), 0.0D, (acc, x) -> acc + x) AS nrm2s")
      .collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"dot mismatch id=${r.getLong(0)}")
      assert(r.getDouble(3) == r.getDouble(4), s"norm mismatch id=${r.getLong(0)}")
    }
    // length mismatch and null element degrade to NaN, not a crash
    val edge = Seq((Seq(1.0, 2.0), Seq(1.0)))
      .toDF("a", "b").selectExpr("graft_dot(a, b) AS d").head()
    assert(edge.getDouble(0).isNaN)
  }

  test("graft_nearest matches the composed argmin chain, first-min tie rule") {
    val sp = spark
    import sp.implicits._
    val rows = Seq.tabulate(40)(i =>
      (i.toLong, Seq.tabulate(8)(j => math.sin(i * 13 + j))))
      .toDF("id", "v")
    rows.createOrReplaceTempView("near_v")
    val centersSql = (0 until 5).map(c =>
      (0 until 8).map(j => math.cos(c * 7 + j).toString + "D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val both = sp.sql(
      s"""SELECT id, graft_nearest($centersSql, v) AS fast,
         |  CAST(array_position(darr, array_min(darr)) AS INT) AS slow
         |FROM (SELECT id, v,
         |  transform($centersSql, c ->
         |    aggregate(zip_with(c, v, (a, b) -> (a - b) * (a - b)),
         |      0.0D, (acc, x) -> acc + x)) AS darr
         |  FROM near_v)""".stripMargin).collect()
    both.foreach(r => assert(r.getInt(1) == r.getInt(2), s"id=${r.getLong(0)}"))
    // exact tie: two identical centers -> first index wins, as array_position does
    val tie = sp.sql(
      """SELECT graft_nearest(array(array(1.0D, 0.0D), array(1.0D, 0.0D),
        |                           array(9.0D, 9.0D)), array(1.0D, 0.1D)) AS i""".stripMargin)
      .head().getInt(0)
    assert(tie == 1)
  }

  test("graft_nfc composes combining marks, is idempotent, keeps NFC text as-is") {
    val sp = spark
    import sp.implicits._
    val rows = Seq("cafe\u0301", "caf\u00e9", "nai\u0308ve", "plain ascii")
      .toDF("s")
      .selectExpr("s", "graft_nfc(s) AS n", "graft_nfc(graft_nfc(s)) AS nn")
      .collect()
    val byIn = rows.map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byIn("cafe\u0301")._1 == "caf\u00e9") // decomposed -> precomposed
    assert(byIn("nai\u0308ve")._1 == "na\u00efve")
    assert(byIn("caf\u00e9")._1 == "caf\u00e9") // already NFC: unchanged
    assert(byIn("plain ascii")._1 == "plain ascii")
    rows.foreach(r => assert(r.getString(1) == r.getString(2), "not idempotent"))
  }

  // CodegenMetrics is JVM-wide; the forked test JVM runs suites one after
  // another (Test / testForkedParallel is off), so no other suite compiles
  // while this one counts. A warm run may still compile a few classes:
  // the whole-stage codegen stage number is part of the generated source,
  // and adaptive execution can number a stage differently depending on
  // the order its stages finish. Each variant compiles once per JVM (4
  // classes, at most once in 12 runs); under Spark's default bound of
  // 100 entries every warm e02 run compiled about 130 classes again.
  test("warm e02 runs reuse their generated classes") {
    val sp = spark
    assert(sp.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftExtensions.CodegenCacheEntries.toString)
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try SparkEntry.queries("e02_full_workflow")(sp, "/root/testdata/sf0.001").collect()
      finally ops.Caches.releaseAll()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val counts = Seq.fill(3)(compiles())
    assert(counts.last <= 10, s"compiles per run: $counts")
  }

  test("Caches.releasing drops only the caches tracked inside it") {
    import org.apache.spark.storage.StorageLevel
    val outside = ops.Caches.track(spark.range(10).toDF("x").persist())
    val inside = ops.Caches.releasing {
      val df = ops.Caches.track(spark.range(20).toDF("y").persist())
      assert(df.count() == 20)
      df
    }
    try {
      assert(inside.storageLevel == StorageLevel.NONE)
      assert(outside.storageLevel != StorageLevel.NONE)
    } finally ops.Caches.releaseAll()
    assert(outside.storageLevel == StorageLevel.NONE)
  }

  test("analyzing graft_dmp keeps the caches other queries tracked") {
    import org.apache.spark.storage.StorageLevel
    // a small study in the testdata's layout: 40 probes (parts) on 8
    // samples (suppliers), 4 per group
    val dir = java.nio.file.Files.createTempDirectory("graft_dmp").toString
    spark.range(320).select(
        (col("id") % 40 + 1).as("l_partkey"), expr("id div 40 + 1").as("l_suppkey"),
        col("id").as("l_orderkey"), (col("id") % 7 + 1).cast("int").as("l_linenumber"),
        ((col("id") * 7919 % 100003) / 100.0).as("l_extendedprice"))
      .write.parquet(s"$dir/lineitem.parquet")
    spark.range(1, 9).select(col("id").as("s_suppkey")).write.parquet(s"$dir/supplier.parquet")
    val other = ops.Caches.track(spark.range(10).toDF("x").persist())
    try {
      assert(other.count() == 10)
      val dmp = spark.sql(s"SELECT * FROM graft_dmp('$dir')")
      assert(other.storageLevel != StorageLevel.NONE)
      assert(dmp.count() == 40)
    } finally ops.Caches.releaseAll()
  }
}
