package graft.ops

import org.apache.commons.math3.distribution.BetaDistribution
import org.apache.commons.math3.random.RandomGenerator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K6 — BMIQ intra-sample normalization: map Infinium type-II probe betas
  * onto the type-I distribution via a 3-state beta-mixture fit and
  * beta-quantile mapping (the engine's restatement of the published BMIQ
  * method; reference driver /root/reference/bmiq/DoBMIQ.R:4-213, kernel
  * bmiq/BMIQ_1.4.R:39-231, params nL=3 / nfit=10000 / niter=5).
  *
  * Samples are independent, so the kernel is a
  * `groupByKey(sample_id).flatMapGroups`: one shuffle co-locates a sample's
  * probes (~300k doubles ≈ 2.4 MB per group in the reference — comfortably
  * task-local at any probe scale; samples are uniform by construction so
  * there is no skew). Where the reference subsamples stochastically
  * (`sample()` un-seeded, BMIQ_1.4.R:69,121) this kernel takes a
  * deterministic stride over the probe-id-sorted vector, making results
  * reproducible run-to-run.
  */
object Bmiq {

  final case class In(probe_id: String, sample_id: String, beta: Double, design_type: Int)
  final case class Out(probe_id: String, sample_id: String, beta: Double,
                       beta_norm: Double, design_type: Int)

  /** The fit's subsample size and EM iterations (reference nfit/niter). */
  private val Nfit = 10000
  private val Niter = 5

  /** Probes per design type below which a sample passes through
    * unnormalized (reference DoBMIQ.R:135-141). */
  private val MinPerType = 50

  /** Beta(a, b) without a random generator: the kernel only evaluates
    * densities, CDFs and inverse CDFs, and the default constructor seeds a
    * fresh `Well19937c` (about 11 µs) for samples it never draws.
    */
  private def betaDist(a: Double, b: Double): BetaDistribution =
    new BetaDistribution(null: RandomGenerator, a, b)

  /** 3-state beta mixture fitted by EM with moment-matching M-steps.
    * Returns (weight, a, b) per state, states ordered U < H < M.
    * `thLo`/`thHi` seed the initial hard assignment (reference
    * BMIQ_1.4.R:60-64 for type-1 defaults 0.2/0.75; the type-2 fit shifts
    * them by the KDE-mode offsets, BMIQ_1.4.R:108-115).
    */
  private[ops] def fitMixture(x: Array[Double], thLo: Double = 0.2,
                              thHi: Double = 0.75): Array[(Double, Double, Double)] = {
    val n = x.length
    val resp = Array.ofDim[Double](n, 3)
    x.zipWithIndex.foreach { case (v, i) =>
      val s = if (v < thLo) 0 else if (v > thHi) 2 else 1
      resp(i)(s) = 1.0
    }
    var params = Array.tabulate(3)(j => mStep(x, resp, j))
    var it = 0
    while (it < Niter) {
      val dists = params.map { case (_, a, b) => betaDist(a, b) }
      var i = 0
      while (i < n) {
        var tot = 0.0
        var j = 0
        val dens = new Array[Double](3)
        while (j < 3) {
          dens(j) = params(j)._1 * math.max(dists(j).density(x(i)), 1e-300)
          tot += dens(j)
          j += 1
        }
        j = 0
        while (j < 3) { resp(i)(j) = dens(j) / tot; j += 1 }
        i += 1
      }
      params = Array.tabulate(3)(j => mStep(x, resp, j))
      it += 1
    }
    params
  }

  /** Weighted moment-matching beta M-step; (a,b) clamped for stability. */
  private def mStep(x: Array[Double], resp: Array[Array[Double]], j: Int): (Double, Double, Double) = {
    var w = 0.0; var s = 0.0
    var i = 0
    while (i < x.length) { w += resp(i)(j); s += resp(i)(j) * x(i); i += 1 }
    if (w < 1e-9) return (1e-9, 1.0, 1.0)
    val m = s / w
    var v = 0.0
    i = 0
    while (i < x.length) { val d = x(i) - m; v += resp(i)(j) * d * d; i += 1 }
    v = math.max(v / w, 1e-6)
    val cap = m * (1 - m)
    val vv = math.min(v, cap * 0.999)
    val k = cap / vv - 1
    val a = math.min(math.max(m * k, 0.05), 500.0)
    val b = math.min(math.max((1 - m) * k, 0.05), 500.0)
    (w / x.length, a, b)
  }

  /** Deterministic replacement for the reference's un-seeded subsample:
    * stride over the (already probe-sorted) vector.
    */
  private def strideSample(x: Array[Double]): Array[Double] =
    if (x.length <= Nfit) x
    else { val step = x.length.toDouble / Nfit; Array.tabulate(Nfit)(i => x((i * step).toInt)) }

  /** Regularize exact 0/1 betas to the nearest interior observed value
    * (reference BMIQ_1.4.R:48-59).
    */
  private def regularize(x: Double, minPos: Double, maxSub1: Double): Double =
    if (x <= 0) minPos else if (x >= 1) maxSub1 else x

  /** Mode of a sample by binned Gaussian KDE — the task-local equivalent of
    * R's `density()$x[which.max(density()$y)]` (reference BMIQ_1.4.R:99-106
    * estimates per-class modes this way). bw.nrd0 bandwidth, 512-point
    * grid, data pre-binned onto the grid so cost is O(n + 512²) regardless
    * of class size. The Gaussian weight of a bin `d` bins away is
    * computed once per distance: `u·u` is sign-symmetric, so `w(|g − b|)`
    * carries the bits `exp(−u²/2)` has at `(g, b)`, and the sum runs over
    * the non-empty bins only, in the same order. Returns NaN for an empty
    * input (caller falls back).
    */
  private[graft] def kdeMode(x: Array[Double]): Double = {
    val n = x.length
    if (n == 0) return Double.NaN
    if (n == 1) return x(0)
    val mean = x.sum / n
    val sd = math.sqrt(x.map(v => (v - mean) * (v - mean)).sum / (n - 1))
    val sorted = x.sorted
    def q7(q: Double): Double = { // R type-7 quantile
      val h = (n - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.ceil(h).toInt
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }
    val iqr = q7(0.75) - q7(0.25)
    val spread = math.min(sd, if (iqr > 0) iqr / 1.34 else sd) // R bw.nrd0 divides by 1.34 exactly
    val bw = math.max(0.9 * spread * math.pow(n, -0.2), 1e-9) // bw.nrd0
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
    val w = Array.tabulate(grid) { d => val u = d * step / bw; math.exp(-0.5 * u * u) }
    val filled = (0 until grid).filter(counts(_) > 0).toArray
    var best = lo
    var bestY = -1.0
    var g = 0
    while (g < grid) {
      var y = 0.0
      var i = 0
      while (i < filled.length) {
        val b = filled(i)
        y += counts(b) * w(math.abs(g - b))
        i += 1
      }
      if (y > bestY) { bestY = y; best = lo + g * step }
      g += 1
    }
    best
  }

  /** Index of the mixture state with the largest weighted density at `v`. */
  private def classify(p: Array[(Double, Double, Double)],
                       d: Array[BetaDistribution], v: Double): Int = {
    var best = 0; var bestD = -1.0
    var j = 0
    while (j < 3) {
      val dd = p(j)._1 * math.max(d(j).density(v), 1e-300)
      if (dd > bestD) { bestD = dd; best = j }
      j += 1
    }
    best
  }

  /** A sample's fitted mixtures: the regularizer and (weight, a, b) per
    * state for type 1 and type 2.
    */
  private final case class Fit(reg: Double => Double,
                               p1: Array[(Double, Double, Double)],
                               p2: Array[(Double, Double, Double)])

  /** The pre-fit + EM chain over a probe-id-sorted sample: regularize,
    * stride-subsample, fit type 1, then fit type 2 from the type-1 class
    * boundaries shifted by the KDE-mode offsets. None under the
    * ≥minPerType guard (reference DoBMIQ.R:135-141), where normalization
    * is identity.
    */
  private def fit(sorted: Array[In], minPerType: Int): Option[Fit] = {
    val t1 = sorted.filter(_.design_type == 1).map(_.beta)
    val t2 = sorted.filter(_.design_type == 2).map(_.beta)
    if (t1.length < minPerType || t2.length < minPerType) return None
    val minPos = sorted.map(_.beta).filter(_ > 0).foldLeft(1.0)(math.min)
    val maxSub1 = sorted.map(_.beta).filter(_ < 1).foldLeft(0.0)(math.max)
    def reg(v: Double) = regularize(v, minPos, maxSub1)
    val t1r = t1.map(reg)
    val t2rAll = t2.map(reg)
    val p1 = fitMixture(strideSample(t1r))
    val dists1 = p1.map { case (_, a, b) => betaDist(a, b) }

    // Type-2 EM initialization: type-1 class boundaries shifted by the
    // KDE-mode offsets between the two designs (reference
    // BMIQ_1.4.R:99-115 — d(beta1|U/M) and d(beta2<0.4 / >0.6) modes).
    val c1 = t1r.map(v => classify(p1, dists1, v))
    def boundary(vals: Array[Double], cls: Array[Int], a: Int, b: Int,
                 fallback: Double): Double = {
      val left = vals.zip(cls).collect { case (v, c) if c == a => v }
      val right = vals.zip(cls).collect { case (v, c) if c == b => v }
      if (left.isEmpty || right.isEmpty) fallback else (left.max + right.min) / 2
    }
    val th1Lo = boundary(t1r, c1, 0, 1, 0.2)
    val th1Hi = boundary(t1r, c1, 1, 2, 0.75)
    val mod1U = kdeMode(t1r.zip(c1).collect { case (v, 0) => v })
    val mod1M = kdeMode(t1r.zip(c1).collect { case (v, 2) => v })
    val mod2U = kdeMode(t2rAll.filter(_ < 0.4))
    val mod2M = kdeMode(t2rAll.filter(_ > 0.6))
    val (th2Lo, th2Hi) =
      if (mod1U.isNaN || mod1M.isNaN || mod2U.isNaN || mod2M.isNaN) (th1Lo, th1Hi)
      else (th1Lo + (mod2U - mod1U), th1Hi + (mod2M - mod1M))
    val p2 = fitMixture(strideSample(t2rAll), th2Lo, th2Hi)
    Some(Fit(reg, p1, p2))
  }

  /** One sample's BMIQ: its rows in any order, its normalized rows out.
    * Pure, so the distributed and the driver-local e02 chains share it.
    */
  private[ops] def normalizeSample(rows: Array[In], minPerType: Int): Iterator[Out] = {
    val sorted = rows.sortBy(_.probe_id)
    val fitted = fit(sorted, minPerType)
    if (fitted.isEmpty) // the ≥minPerType guard: identity pass-through
      return sorted.iterator.map(r => Out(r.probe_id, r.sample_id, r.beta, r.beta, r.design_type))
    val Fit(reg, p1, p2) = fitted.get
    val dists1 = p1.map { case (_, a, b) => betaDist(a, b) }
    val dists2 = p2.map { case (_, a, b) => betaDist(a, b) }

    def clamp01(v: Double) = math.min(math.max(v, 0.0), 1.0)
    // type-II state j → type-I state j by beta quantile (U: j=0, M: j=2)
    def quantileMap(j: Int, v: Double) = clamp01(dists1(j).inverseCumulativeProbability(
      math.min(math.max(dists2(j).cumulativeProbability(v), 1e-12), 1 - 1e-12)))

    // Classify type-II probes; M-class probes LEFT of the fitted M mean
    // join the H set (reference's ML patching — the left M tail is not
    // beta-shaped, BMIQ_1.4.R:167-186).
    val t2r = sorted.filter(_.design_type == 2)
    val vraw = t2r.map(r => reg(r.beta))
    val avM2 = p2(2)._2 / (p2(2)._2 + p2(2)._3)
    val kinds = vraw.map { v =>
      val c = classify(p2, dists2, v)
      if (c == 2 && v <= avM2) 1 else c // ML → H
    }
    def ofKind(xs: Array[Double], k: Int) = xs.zip(kinds).collect { case (v, `k`) => v }
    // U and MR probes map by quantile, once each; H probes wait for mapH
    val qMapped = Array.tabulate(vraw.length)(i =>
      if (kinds(i) == 1) Double.NaN else quantileMap(kinds(i), vraw(i)))
    val uRaw = ofKind(vraw, 0)
    val mrRaw = ofKind(vraw, 2)
    val hRaw = ofKind(vraw, 1)
    val uMapped = ofKind(qMapped, 0)
    val mrMapped = ofKind(qMapped, 2)

    // Conformal H transform (shift+dilation, BMIQ_1.4.R:184-207): the new
    // H interval preserves the RAW gaps to the neighboring classes around
    // the MAPPED class endpoints — nminH = max(U′) + (minH − max(U)),
    // nmaxH = min(MR′) − (min(MR) − maxH).
    // Empty-class fallback pairs MUST satisfy uMapMax == uRawMax (and
    // mrMapMin == mrRawMin) so the shift term vanishes — mismatched
    // constants would silently bias every H-class probe by the gap.
    val uRawMax = if (uRaw.nonEmpty) uRaw.max else 0.0
    val mrRawMin = if (mrRaw.nonEmpty) mrRaw.min else 1.0
    val uMapMax = if (uMapped.nonEmpty) uMapped.max else uRawMax
    val mrMapMin = if (mrMapped.nonEmpty) mrMapped.min else mrRawMin
    val (minH, maxH) = if (hRaw.nonEmpty) (hRaw.min, hRaw.max) else (uRawMax, mrRawMin)
    val nminH = uMapMax + (minH - uRawMax)
    val nmaxH = mrMapMin - (mrRawMin - maxH)
    def mapH(v: Double): Double =
      if (maxH - minH < 1e-12) clamp01((nminH + nmaxH) / 2)
      else clamp01(nminH + (v - minH) / (maxH - minH) * (nmaxH - nminH))

    val t2Norm = t2r.indices.map { i =>
      val r = t2r(i)
      val v = vraw(i)
      val mapped = if (kinds(i) == 1) mapH(v) else qMapped(i)
      // never emit a non-finite normalized value — fall back to the input
      // (downstream kernels assume finite betas; NaN reaching LAPACK hangs)
      val nb = if (mapped.isNaN || mapped.isInfinite) v else mapped
      Out(r.probe_id, r.sample_id, r.beta, nb, 2)
    }
    // Type-I probes are the reference distribution — identity (BMIQ_1.4.R:210).
    val t1Norm = sorted.filter(_.design_type == 1)
      .map(r => Out(r.probe_id, r.sample_id, r.beta, r.beta, 1))
    (t1Norm ++ t2Norm).iterator
  }

  /** K9 (plot-data scope) — the fitted-mixture diagnostic the reference
    * overlays on each sample's beta histogram (BMIQ_1.4.R:82-93 type-1,
    * :134-146 type-2). The reference approximates its own fitted density
    * by `rmultinom`/`rbeta` DRAWS; the engine emits the analytic mixture
    * density on a fixed grid instead — the same curve, deterministic
    * (no RNG), which is why this row was "plotting-only" until the
    * plot-data restatement. One row per (sample, design_type, grid point)
    * with per-class contributions; rendering stays out of scope.
    * Distribution shape = bmiq's: flatMapGroups over the sample axis.
    */
  def fittedDensity(beta: DataFrame, manifest: DataFrame, gridN: Int = 100): DataFrame = {
    val spark = beta.sparkSession
    import spark.implicits._
    beta.join(broadcast(manifest), "probe_id")
      .select("probe_id", "sample_id", "beta", "design_type")
      .as[In]
      .groupByKey(_.sample_id)
      .flatMapGroups { (sid, it) =>
        fitParams(it.toArray, MinPerType) match {
          case None => Iterator.empty
          case Some((p1, p2)) =>
            Seq((1, p1), (2, p2)).iterator.flatMap { case (dt, p) =>
              val dists = p.map { case (_, a, b) => betaDist(a, b) }
              (1 until gridN).iterator.map { g =>
                val x = g.toDouble / gridN
                val c = Array.tabulate(3)(j => p(j)._1 * dists(j).density(x))
                (sid, dt, x, c(0), c(1), c(2), c(0) + c(1) + c(2))
              }
            }
        }
      }
      .toDF("sample_id", "design_type", "x", "dens_u", "dens_h", "dens_m", "density")
  }

  /** The type-1 and type-2 mixture parameters [[normalizeSample]] fits,
    * or None under the ≥minPerType guard (where normalization is identity
    * and there is no fit to plot).
    */
  private[graft] def fitParams(rows: Array[In], minPerType: Int)
      : Option[(Array[(Double, Double, Double)], Array[(Double, Double, Double)])] =
    fit(rows.sortBy(_.probe_id), minPerType).map(f => (f.p1, f.p2))

  /** Entry point: long betas + probe manifest (design_type 1|2) →
    * normalized long betas.
    */
  def bmiq(beta: DataFrame, manifest: DataFrame, minPerType: Int = MinPerType): DataFrame =
    normalizeTyped(beta.join(broadcast(manifest), "probe_id"), minPerType)

  /** [[bmiq]] over betas that already carry their probe's `design_type`. */
  private[ops] def normalizeTyped(typed: DataFrame, minPerType: Int): DataFrame = {
    val spark = typed.sparkSession
    import spark.implicits._
    typed.select("probe_id", "sample_id", "beta", "design_type")
      .as[In]
      .groupByKey(_.sample_id)
      .flatMapGroups((_, it) => normalizeSample(it.toArray, minPerType))
      .toDF()
  }
}
