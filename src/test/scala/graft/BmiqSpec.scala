package graft

import org.apache.spark.sql.functions._
import graft.ops.Bmiq

class BmiqSpec extends SparkSpec {
  import spark.implicits._

  // One sample: 240 type-I probes in three clean modes (0.08 / 0.5 / 0.92),
  // 240 type-II probes with the classic type-II compression toward 0.5
  // (0.12 / 0.5 / 0.80). Modes sit clear of the 0.2/0.75 EM init thresholds.
  private def fixture(sampleId: String) = {
    def tri(i: Int, lo: Double, mid: Double, hi: Double) = {
      val jitter = 0.03 * math.sin(i * 3.1)
      if (i % 3 == 0) lo + jitter else if (i % 3 == 1) mid + jitter else hi + jitter
    }
    val t1 = (0 until 240).map(i => (f"cg1_$i%04d", sampleId, tri(i, 0.08, 0.50, 0.92), 1))
    val t2 = (0 until 240).map(i => (f"cg2_$i%04d", sampleId, tri(i, 0.12, 0.50, 0.80), 2))
    (t1 ++ t2).toDF("probe_id", "sample_id", "beta", "design_type")
  }

  private def manifest(df: org.apache.spark.sql.DataFrame) =
    df.select("probe_id", "design_type").distinct()

  test("type-I probes are untouched, all outputs in [0,1], decompression is directional") {
    val df = fixture("S1")
    val out = Bmiq.bmiq(df.select("probe_id", "sample_id", "beta"), manifest(df)).persist()

    val t1changed = out.filter(col("design_type") === 1 && col("beta_norm") =!= col("beta")).count()
    assert(t1changed == 0)
    val oob = out.filter(col("beta_norm") < 0 || col("beta_norm") > 1).count()
    assert(oob == 0)

    // type-II methylated mode (0.80-compressed) must move UP toward the
    // type-I 0.92 mode; unmethylated (0.12) must move DOWN toward 0.08.
    val stats = out.filter(col("design_type") === 2)
      .select(
        avg(when(col("beta") > 0.65, col("beta"))).as("m_before"),
        avg(when(col("beta") > 0.65, col("beta_norm"))).as("m_after"),
        avg(when(col("beta") < 0.3, col("beta"))).as("u_before"),
        avg(when(col("beta") < 0.3, col("beta_norm"))).as("u_after"))
      .head()
    assert(stats.getDouble(1) > stats.getDouble(0) + 0.03,
      s"M mode not decompressed: ${stats.getDouble(0)} -> ${stats.getDouble(1)}")
    assert(stats.getDouble(3) < stats.getDouble(2) - 0.03,
      s"U mode not decompressed: ${stats.getDouble(2)} -> ${stats.getDouble(3)}")
  }

  test("deterministic: identical input gives identical output") {
    val df = fixture("S1")
    val a = Bmiq.bmiq(df.select("probe_id", "sample_id", "beta"), manifest(df))
      .orderBy("probe_id").select("beta_norm").as[Double].collect()
    val b = Bmiq.bmiq(df.select("probe_id", "sample_id", "beta"), manifest(df))
      .orderBy("probe_id").select("beta_norm").as[Double].collect()
    assert(a.sameElements(b))
  }

  test("post-BMIQ type-II U/M class quantiles align with type-I's (mode fidelity)") {
    val df = fixture("S3")
    val out = Bmiq.bmiq(df.select("probe_id", "sample_id", "beta"), manifest(df))
      .filter(col("design_type") === 2)
      .select("beta", "beta_norm").as[(Double, Double)].collect()
    val t1 = df.filter(col("design_type") === 1).select("beta").as[Double].collect()
    def med(a: Array[Double]) = { val s = a.sorted; s(s.length / 2) }
    // mapped type-II U and M classes should land on the type-I class
    // locations (0.08 / 0.92 modes), not stay at the compressed 0.12 / 0.80
    val uNorm = out.filter(_._1 < 0.3).map(_._2)
    val mNorm = out.filter(_._1 > 0.65).map(_._2)
    val uT1 = t1.filter(_ < 0.3)
    val mT1 = t1.filter(_ > 0.65)
    assert(math.abs(med(uNorm) - med(uT1)) < 0.05,
      s"U class: ${med(uNorm)} vs type-I ${med(uT1)}")
    assert(math.abs(med(mNorm) - med(mT1)) < 0.05,
      s"M class: ${med(mNorm)} vs type-I ${med(mT1)}")
  }

  test("kdeMode recovers the dominant mode of a bimodal sample") {
    val x = (0 until 300).map(i => 0.1 + 0.02 * math.sin(i * 7.3)).toArray ++
      (0 until 100).map(i => 0.8 + 0.02 * math.cos(i * 3.7)).toArray
    val m = Bmiq.kdeMode(x)
    assert(math.abs(m - 0.1) < 0.04, s"mode $m")
    assert(Bmiq.kdeMode(Array.empty[Double]).isNaN)
    assert(Bmiq.kdeMode(Array(0.42)) == 0.42)
  }

  /** kdeMode as it evaluated every (grid, bin) weight before the kernel
    * table: the O(512²) reference the table must match bit for bit.
    */
  private def kdeModeReference(x: Array[Double]): Double = {
    val n = x.length
    if (n == 0) return Double.NaN
    if (n == 1) return x(0)
    val mean = x.sum / n
    val sd = math.sqrt(x.map(v => (v - mean) * (v - mean)).sum / (n - 1))
    val sorted = x.sorted
    def q7(q: Double): Double = {
      val h = (n - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }
    val iqr = q7(0.75) - q7(0.25)
    val spread = math.min(sd, if (iqr > 0) iqr / 1.34 else sd)
    val bw = math.max(0.9 * spread * math.pow(n, -0.2), 1e-9)
    val lo = sorted.head - 3 * bw
    val hi = sorted.last + 3 * bw
    val grid = 512
    val step = (hi - lo) / (grid - 1)
    if (step <= 0) return sorted.head
    val counts = new Array[Double](grid)
    x.foreach { v =>
      val b = math.min(math.max(((v - lo) / step).round.toInt, 0), grid - 1)
      counts(b) += 1
    }
    var best = lo
    var bestY = -1.0
    for (g <- 0 until grid) {
      var y = 0.0
      for (b <- 0 until grid) if (counts(b) > 0) {
        val u = (g - b) * step / bw
        y += counts(b) * math.exp(-0.5 * u * u)
      }
      if (y > bestY) { bestY = y; best = lo + g * step }
    }
    best
  }

  test("kdeMode's kernel table is bit-identical to the full O(512²) sum") {
    val rng = new scala.util.Random(20261018L)
    val inputs = Seq(Array(0.3, 0.7), Array(0.5, 0.5), Array(0.2, 0.2, 0.2), // n = 2, step <= 0
        Array.fill(40)(0.61)) ++ // one tie group: step <= 0
      (0 until 1000).map { i =>
        val n = 2 + rng.nextInt(if (i % 10 == 0) 4 else 400)
        // every third input draws from 20 levels, so most values tie
        if (i % 3 == 0) Array.fill(n)(rng.nextInt(20) / 20.0)
        else Array.fill(n)(if (rng.nextBoolean()) rng.nextGaussian() * 0.05 + 0.15
                           else rng.nextDouble())
      }
    inputs.foreach { x =>
      val (got, want) = (Bmiq.kdeMode(x), kdeModeReference(x))
      assert(java.lang.Double.doubleToRawLongBits(got) == java.lang.Double.doubleToRawLongBits(want),
        s"n=${x.length}: $got vs $want")
    }
  }

  test("below the 50-probe-per-type guard the sample passes through unchanged") {
    val tiny = fixture("S2").filter(col("probe_id").rlike("_000[0-9]$")) // 20+20 probes
    val out = Bmiq.bmiq(tiny.select("probe_id", "sample_id", "beta"), manifest(tiny))
    val changed = out.filter(col("beta_norm") =!= col("beta")).count()
    assert(changed == 0)
  }

  test("diagnostic density (K9): unit mass, component consistency, guard, lockstep fit") {
    val df = fixture("S1")
    val gridN = 200
    val dens = Bmiq.fittedDensity(df.select("probe_id", "sample_id", "beta"),
      manifest(df), gridN = gridN).collect()
    // both design types, gridN-1 interior points each
    assert(dens.length == 2 * (gridN - 1))
    // total = sum of weighted class contributions, pointwise
    dens.foreach { r =>
      val s = r.getDouble(3) + r.getDouble(4) + r.getDouble(5)
      assert(math.abs(s - r.getDouble(6)) < 1e-12)
    }
    // mixture density integrates to ~1 on the open grid (midpoint rule;
    // edge mass beyond the grid accounts for the tolerance)
    Seq(1, 2).foreach { dt =>
      val mass = dens.filter(_.getInt(1) == dt).map(_.getDouble(6)).sum / gridN
      assert(math.abs(mass - 1.0) < 0.1, s"design $dt mass $mass")
    }
    // lockstep with the normalization fit: fitParams is the same chain
    // normalizeSample runs, so the diagnostic's type-1 U mode must sit in
    // the low arm and M in the high arm of the planted trimodal input
    import spark.implicits._
    val rows = df.select("probe_id", "sample_id", "beta", "design_type")
      .as[Bmiq.In].collect()
    val Some((p1, _)) = Bmiq.fitParams(rows, 50)
    def mean(p: (Double, Double, Double)) = p._2 / (p._2 + p._3)
    assert(mean(p1(0)) < 0.3 && mean(p1(2)) > 0.7)
    assert(math.abs(p1.map(_._1).sum - 1.0) < 1e-9)
    // under the per-type guard there is no fit to plot
    val tiny = fixture("S2").filter(col("probe_id").rlike("_000[0-9]$"))
    assert(Bmiq.fittedDensity(tiny.select("probe_id", "sample_id", "beta"),
      manifest(tiny)).count() == 0)
  }
}
