package graft.ops

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K5 — ComBat batch correction with parametric empirical-Bayes priors
  * (the engine's restatement of the reference's sva::ComBat call on
  * M-values with a group design, /root/reference/workflow.R:132-150; model
  * per the published location-scale EB formulation).
  *
  * Everything is keyed by probe_id — no step materializes more than
  * (batches × groups) rows per probe, so the algorithm survives any probe
  * cardinality. Pass structure:
  *   1. cell moments: groupBy(probe, batch, group) → (n, Σy, Σy²). The only
  *      full-data shuffle.
  *   2. per-probe OLS + standardization: the additive batch+group design's
  *      normal equations are exact functions of the cell moments, so each
  *      probe solves a (B+G-1)² system in mapGroups — no second pass over
  *      observations. Emits per-cell standardized stats + per-batch
  *      γ̂ (location) and δ̂² (scale) estimates.
  *   3. hyperpriors: per-batch moments of γ̂ / δ̂² across probes (normal and
  *      inverse-gamma moment fits) — B rows collected to the driver.
  *   4. EB shrinkage: the coupled (γ*, δ²*) fixed point is row-local given the
  *      per-(probe,batch) z-sums — a plain iterative UDF, ≤100 steps.
  *   5. adjust: join (γ*, δ²*) and stand-means back onto the long table and
  *      apply (y − stand − γ*)/√δ²* · σ_pool + stand.
  */
object Combat {

  final case class CellStats(
      probe_id: String, batch: String, group: String,
      stand_mean: Double, var_pooled: Double,
      n_b: Long, z_sum_b: Double, z_ss_b: Double,
      gamma_hat: Double, delta2_hat: Double)

  /** Passes 1–2 of [[combat]] (cell moments → per-probe OLS →
    * standardization → per-batch γ̂/δ̂²) as their own operator. Exposed
    * because this interior surface is exactly oracle-checkable for the
    * batch-only design (the pycombat flavor): with no group dummies the
    * normal equations are DIAGONAL, so the ridge solve collapses to
    * β_b = s_b/(n_b + ridge) and every downstream stat is a fixed,
    * SQL-expressible double sequence (k05_combat_stand pins it in DuckDB).
    */
  def standStats(mvals: DataFrame, sheet: DataFrame): DataFrame = {
    val spark = mvals.sparkSession
    import spark.implicits._

    val dims = sheet.select("sample_id", "run", "group")
    val joined = mvals.join(broadcast(dims), "sample_id")

    val (batches, groups) = axes(sheet)
    val bc = spark.sparkContext.broadcast((batches, groups))

    val cells = joined.groupBy("probe_id", "run", "group")
      .agg(count(lit(1)).as("n"), sum("m").as("s"), sum(col("m") * col("m")).as("ss"))
      .as[(String, String, String, Long, Double, Double)]

    cells.groupByKey(_._1).flatMapGroups { (probe, it) =>
      val (bs, gs) = bc.value
      val bIdx = bs.zipWithIndex.toMap
      val gIdx = gs.zipWithIndex.toMap
      val cellArr = it.toArray
      standardize(cellArr.map { case (_, b, g, n, s, ss) => Cell(bIdx(b), gIdx(g), n, s, ss) },
          bs.length, gs.length) match {
        case None => Iterator.empty
        case Some(st) =>
          cellArr.iterator.map { case (_, b, g, _, _, _) =>
            val bi = bIdx(b)
            CellStats(probe, b, g, st.standMean(gIdx(g)), st.varPooled, st.nB(bi),
              st.zs(bi), st.zss(bi), st.gammaHat(bi), st.delta2Hat(bi))
          }
      }
    }.toDF()
  }

  /** The sheet's distinct non-null batches (`run`) and groups, each
    * sorted. Their counts set the design's width. The sheet has one row
    * per sample, a bounded axis, so it is collected in one scan job (none
    * for a local relation) and deduplicated on the driver.
    */
  private[ops] def axes(sheet: DataFrame): (Array[String], Array[String]) = {
    val rows = sheet.select("run", "group").collect()
    def distinct(i: Int) = rows.flatMap(r => Option(r.getString(i))).distinct.sorted
    (distinct(0), distinct(1))
  }

  /** One (batch, group) cell of a probe: its observation count and the
    * sum and sum of squares of its M-values.
    */
  private[ops] final case class Cell(b: Int, g: Int, n: Long, s: Double, ss: Double)

  /** One probe's standardization: the pooled variance, the stand mean per
    * group, and per batch the observation count and the sums of the
    * standardized values and of their squares.
    */
  private[ops] final case class Stand(varPooled: Double, standMean: Array[Double],
                                      nB: Array[Long], zs: Array[Double], zss: Array[Double]) {
    /** The batch's location estimate γ̂. */
    def gammaHat(b: Int): Double = if (nB(b) > 0) zs(b) / nB(b) else 0.0
    /** The batch's scale estimate δ̂². */
    def delta2Hat(b: Int): Double =
      if (nB(b) > 1) math.max((zss(b) - zs(b) * zs(b) / nB(b)) / (nB(b) - 1), 1e-8)
      else 1.0
  }

  /** Pass 2 of [[combat]] for one probe: the OLS fit of the additive
    * batch + group design from the probe's cell moments, then its
    * standardization. None drops the probe: non-finite cell moments, fewer
    * than p + 2 observations, or a pooled variance ≤ 1e-12.
    */
  private[ops] def standardize(cells: Array[Cell], bN: Int, gN: Int): Option[Stand] = {
    val p = bN + (gN - 1) // batch one-hots + non-baseline group dummies
    val xtx = DenseMatrix.zeros[Double](p, p)
    val xty = DenseVector.zeros[Double](p)
    var yy = 0.0
    var nTot = 0L
    var finite = true
    cells.foreach { c =>
      if (c.s.isNaN || c.s.isInfinite || c.ss.isNaN || c.ss.isInfinite) finite = false
      xtx(c.b, c.b) += c.n.toDouble
      xty(c.b) += c.s
      if (c.g > 0) {
        val gcol = bN + c.g - 1
        xtx(gcol, gcol) += c.n.toDouble
        xtx(c.b, gcol) += c.n.toDouble
        xtx(gcol, c.b) += c.n.toDouble
        xty(gcol) += c.s
      }
      yy += c.ss
      nTot += c.n
    }
    // Non-finite cell moments are dropped outright: beyond being wrong,
    // NaN/Inf reaching LAPACK's SVD (dgesdd) makes the f2j implementation
    // spin forever — observed wedging a whole bench run.
    if (!finite || nTot < p + 2) return None
    // Ridge-regularized LU solve of the normal equations: LAPACK dgesv
    // has no iterative-convergence path (unlike SVD-based pinv), and
    // the tiny ridge makes rank-deficient designs (empty cells)
    // solvable with negligible bias.
    val ridge = 1e-8 * (breeze.linalg.trace(xtx) / p + 1.0)
    val beta = (xtx + DenseMatrix.eye[Double](p) * ridge) \ xty
    val ssr = yy - (beta dot xty)
    val varPooled = ssr / nTot
    if (!(varPooled > 1e-12)) return None
    val sd = math.sqrt(varPooled)
    // grand mean = batch-size-weighted mean of batch coefficients
    // over the probe's own observation counts.
    val nPerBatch = Array.fill(bN)(0L)
    cells.foreach(c => nPerBatch(c.b) += c.n)
    val grand = (0 until bN).map(i => beta(i) * nPerBatch(i) / nTot).sum
    val standMean = Array.tabulate(gN)(g => grand + (if (g > 0) beta(bN + g - 1) else 0.0))
    // per-cell z sums → per-batch γ̂ / δ̂²
    val zs = Array.fill(bN)(0.0)
    val zss = Array.fill(bN)(0.0)
    cells.foreach { c =>
      val sm = standMean(c.g)
      zs(c.b) += (c.s - c.n * sm) / sd
      zss(c.b) += (c.ss - 2 * sm * c.s + c.n * sm * sm) / varPooled
    }
    Some(Stand(varPooled, standMean, nPerBatch, zs, zss))
  }

  /** A batch's parametric hyperpriors: γ̂ ~ N(γ̄, τ̄²) and
    * δ̂² ~ InvGamma(a, b).
    */
  private[ops] final case class Hyper(gBar: Double, t2: Double, a: Double, b: Double)

  /** Pass 3 of [[combat]]: the moment fit of one batch's hyperpriors from
    * the mean and sample variance of its γ̂ and δ̂² across probes (a
    * variance is 0 when one probe survives: a no-spread prior). [[combat]]
    * aggregates the moments in Spark, [[hyperpriorOf]] on the driver.
    */
  private[ops] def hyperprior(gbar: Double, tau2: Double, dm: Double, ds2: Double): Hyper = {
    val a = if (ds2 > 1e-12) (2 * ds2 + dm * dm) / ds2 else 1e6
    val bp = if (ds2 > 1e-12) (dm * ds2 + dm * dm * dm) / ds2 else (1e6 - 1) * dm
    Hyper(gbar, math.max(tau2, 1e-12), a, bp)
  }

  /** [[hyperprior]] from one batch's γ̂ and δ̂² of every probe observed in
    * it, held on the driver: the `avg` and `var_samp` [[combat]] takes.
    */
  private[ops] def hyperpriorOf(gammaHat: Array[Double], delta2Hat: Array[Double]): Hyper = {
    val ((gbar, tau2), (dm, ds2)) = (Analytic.meanVar(gammaHat), Analytic.meanVar(delta2Hat))
    hyperprior(gbar, tau2.getOrElse(0.0), dm, ds2.getOrElse(0.0))
  }

  /** Pass 4 of [[combat]]: the coupled (γ*, δ²*) EB fixed point of one
    * (probe, batch) from its γ̂, δ̂², count and z-sums, ≤ 100 steps.
    */
  private[ops] def ebSolve(h: Hyper, gHat: Double, d2Hat: Double, n: Long,
                           zSum: Double, zSs: Double): (Double, Double) = {
    var g = gHat
    var dlt = math.max(d2Hat, 1e-8)
    var i = 0
    var change = 1.0
    while (i < 100 && change > 1e-6) {
      val gNew = (n * h.t2 * gHat + dlt * h.gBar) / (n * h.t2 + dlt)
      val sse = zSs - 2 * gNew * zSum + n * gNew * gNew
      val dNew = math.max((h.b + 0.5 * sse) / (n / 2.0 + h.a - 1), 1e-8)
      change = math.max(math.abs(gNew - g) / math.max(math.abs(g), 1e-12),
        math.abs(dNew - dlt) / dlt)
      g = gNew; dlt = dNew; i += 1
    }
    (g, dlt)
  }

  /** Pass 5 of [[combat]] on one observation `m` of a probe with stand
    * mean `sm` and pooled variance `varPooled`, in its batch with EB
    * parameters `g` (γ*) and `d` (δ²*): standardize, remove γ*, divide by
    * √δ²*, return to the probe's scale. [[adjustCol]] is the same
    * expression as a Column; CombatSpec pins the two bit for bit.
    */
  private[graft] def adjust(m: Double, sm: Double, varPooled: Double, g: Double, d: Double): Double = {
    val sd = math.sqrt(varPooled)
    sd * ((m - sm) / sd - g) / math.sqrt(d) + sm
  }

  /** [[adjust]] as a Column, the form [[combat]] evaluates. */
  private[graft] def adjustCol(m: Column, sm: Column, varPooled: Column, g: Column, d: Column): Column = {
    val sd = sqrt(varPooled)
    sd * ((m - sm) / sd - g) / sqrt(d) + sm
  }

  /** Input: long M-values `m(probe_id, sample_id, m)` and a sample sheet
    * with `sample_id, run (batch), group`. Output adds `m_adj`.
    */
  def combat(mvals: DataFrame, sheet: DataFrame): DataFrame = {
    val spark = mvals.sparkSession

    val dims = sheet.select("sample_id", "run", "group")
    val joined = mvals.join(broadcast(dims), "sample_id")

    // Deliberate multi-consumer cache: cellStats feeds the hyperprior
    // collect, the EB join, and the stand-mean join. It lives until the
    // caller's query completes; tracked so session-sharing harnesses
    // release it between queries (ops.Caches).
    val cellStats = standStats(mvals, sheet).persist()
    Caches.track(cellStats)

    val batchStats = cellStats.groupBy("probe_id", "batch")
      .agg(first("gamma_hat").as("gamma_hat"), first("delta2_hat").as("delta2_hat"),
        first("n_b").as("n_b"), first("z_sum_b").as("z_sum_b"),
        first("z_ss_b").as("z_ss_b"))

    // Parametric hyperpriors: γ̂_bg ~ N(γ̄_b, τ̄²_b); δ̂²_bg ~ InvGamma(a_b, b_b)
    // fitted by moments across probes.
    // var_samp over ONE surviving probe is null — decode via Row (nullable)
    // and fall back to a no-spread prior instead of crashing the decode.
    val hyper = batchStats.groupBy("batch")
      .agg(avg("gamma_hat").as("gbar"), var_samp("gamma_hat").as("tau2"),
        avg("delta2_hat").as("dmean"), var_samp("delta2_hat").as("dvar"))
      .collect()
      .map { r =>
        r.getString(0) -> hyperprior(r.getDouble(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2),
          r.getDouble(3), if (r.isNullAt(4)) 0.0 else r.getDouble(4))
      }.toMap
    val bcHyper = spark.sparkContext.broadcast(hyper)

    val eb = udf { (batch: String, gHat: Double, d2Hat: Double, n: Long,
                    zSum: Double, zSs: Double) =>
      ebSolve(bcHyper.value(batch), gHat, d2Hat, n, zSum, zSs)
    }

    // ONE adjustment-parameter join instead of two (r10): cellStats holds
    // exactly one row per (probe, batch, group) cell carrying BOTH the
    // per-(probe, group) standardization stats and the per-(probe, batch)
    // EB inputs (each duplicated across the other axis by construction),
    // so the EB solve can run directly on the cell rows and the long table
    // joins the parameters once on the full cell key — the old shape
    // shuffled the adjusted table twice (once keyed (probe, group) for
    // stand, once keyed (probe, run) for eb). Every long row's own cell is
    // non-empty (the row itself is an observation in it), so the inner
    // triple-key join keeps exactly the rows the two-join shape kept; the
    // EB fixed point depends only on (probe, batch) columns, so its per-
    // cell evaluation repeats the identical iteration G times instead of
    // once — bounded extra compute (groups are a constant axis), zero
    // extra shuffle bytes.
    val adjParams = cellStats.withColumn("eb",
        eb(col("batch"), col("gamma_hat"), col("delta2_hat"), col("n_b"),
          col("z_sum_b"), col("z_ss_b")))
      .select(col("probe_id"), col("batch").as("run"), col("group"),
        col("stand_mean"), col("var_pooled"),
        col("eb._1").as("gamma_star"), col("eb._2").as("delta_star"))

    joined
      .join(adjParams, Seq("probe_id", "run", "group"))
      .withColumn("m_adj", adjustCol(col("m"), col("stand_mean"), col("var_pooled"),
        col("gamma_star"), col("delta_star")))
      .select("probe_id", "sample_id", "run", "group", "m", "m_adj")
  }

  /** K5, pycombat flavor — the reference's SECOND ComBat entry point
    * (/root/reference/preprocessing/combat_norm.py:41-73): adjust RAW BETAS
    * directly (no M-transform), batch vector derived from column membership
    * of the merged source files, NO group covariate (`pycombat(data, batch)`
    * with no `mod`), after a complete-cases filter (pycombat cannot handle
    * NaNs — the reference drops any probe row with a missing value).
    *
    * Restated on the long model: keep probes observed in EVERY sample, then
    * run the same EB location-scale machinery with a batch-only design
    * ([[combat]] with a constant group collapses the group dummies — p = B,
    * the pycombat no-covariate model exactly).
    *
    * @param betas   long `(probe_id, sample_id, beta)`
    * @param batchOf `(sample_id, batch)` — membership-derived batch labels
    * @param minCoverage fraction of samples a probe must be observed in.
    *   1.0 (default) = the reference's strict no-NaN gate. The long-form EB
    *   machinery itself handles missing cells (all moments are over observed
    *   entries), so a relaxed gate is safe where the input matrix is sparse
    *   by construction (the synthetic testdata tops out at 41% coverage).
    * @return input rows + `beta_adj`
    */
  def combatBetas(betas: DataFrame, batchOf: DataFrame,
      minCoverage: Double = 1.0): DataFrame = {
    val nSamples = batchOf.select("sample_id").distinct().count()
    // pycombat's NaN gate: a probe survives only if observed in (enough of)
    // the samples (one aggregate on the natural key + a semi-join — P3 shape).
    val complete = betas.filter(col("beta").isNotNull)
      .groupBy("probe_id").agg(countDistinct("sample_id").as("ns"))
      .filter(col("ns") >= math.ceil(minCoverage * nSamples).toLong)
      .select("probe_id")
    val sheet = batchOf.select(col("sample_id"), col("batch").as("run"),
      lit("all").as("group"))
    val m = betas.join(complete, Seq("probe_id"), "left_semi")
      .select(col("probe_id"), col("sample_id"), col("beta").as("m"))
    combat(m, sheet)
      .select(col("probe_id"), col("sample_id"), col("run").as("batch"),
        col("m").as("beta"), col("m_adj").as("beta_adj"))
  }
}
