package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival analysis over event logs (beyond-reference scale tier): the
  * Kaplan–Meier product-limit estimator and the two-group log-rank test —
  * the standard time-to-event primitives (retention/churn curves at scale;
  * in the reference's domain, the survival pendant to its test family).
  *
  * Everything is built from ONE subject aggregate (one row per subject:
  * group, integer duration, event/censor flag) followed by windows over
  * per-(group, duration) aggregates — the a13 "window after aggregation"
  * posture: window input is one row per distinct duration, bounded by the
  * time axis, never by event volume. No collect, no cross join.
  *
  * Determinism contract (shared with the DuckDB oracles): counts are exact
  * integers; the KM product is computed as exp of an ORDERED running sum of
  * log-terms (ascending duration), and log-rank E/V totals are ordered
  * running sums — identical IEEE sequences in both engines.
  */
object Survival {

  /** Kaplan–Meier curve per group from a subject table
    * `(grp, duration_h, event)` — event 1 = observed, 0 = right-censored.
    * Output: one row per (group, event time): n_risk, d_events, survival.
    *
    * Conventions: subjects censored at t are still at risk at t
    * (deaths-before-censorings tie rule); if every subject still at risk
    * dies at t (d = n_risk), survival is exactly 0 from t on — computed
    * through a running-extinction flag, NOT ln(0), which Spark nulls and
    * DuckDB returns -inf for (the one place the engines would diverge).
    */
  def kaplanMeier(subjects: DataFrame): DataFrame = {
    val durcnt = subjects.groupBy("grp", "duration_h")
      .agg(count(lit(1)).as("n_all"), sum("event").as("d"))
    val wDesc = Window.partitionBy("grp").orderBy(col("duration_h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.partitionBy("grp").orderBy(col("duration_h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    durcnt
      .withColumn("n_risk", sum("n_all").over(wDesc))
      .filter(col("d") > 0)
      .withColumn("term",
        when(col("d") < col("n_risk"),
          log((col("n_risk") - col("d")).cast("double") / col("n_risk").cast("double"))))
      .withColumn("extinct",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wAsc))
      .withColumn("survival",
        when(col("extinct") === 1, lit(0.0)).otherwise(exp(sum("term").over(wAsc))))
      // Greenwood's variance: Var[S(t)] = S(t)² · Σ_{t_i≤t} d/(n(n−d)),
      // the standard KM confidence-interval ingredient — one more ordered
      // running sum over the same window; the d = n_risk terminal term is
      // excluded (S = 0 exactly there, no CI)
      .withColumn("gw_term",
        when(col("d") < col("n_risk"),
          col("d").cast("double") /
            (col("n_risk").cast("double")
              * (col("n_risk") - col("d")).cast("double"))))
      .withColumn("greenwood_se",
        when(col("extinct") === 1, lit(0.0))
          .otherwise(col("survival") * sqrt(sum("gw_term").over(wAsc))))
      .select(col("grp"), col("duration_h"), col("n_risk"),
        col("d").as("d_events"), col("survival"), col("greenwood_se"))
  }

  /** Two-group log-rank test from the same subject table. At every pooled
    * event time t: n_g(t) subjects of group g at risk, d_g(t) events;
    * E_A = d·n_A/n and hypergeometric Var_A accumulate over t, and
    * (O_A − E_A)² / ΣVar_A ~ χ²(1) under H₀.
    *
    * n_g at POOLED times (a group has no row at another group's event
    * time) uses the union-and-running-count trick (the pOOBAH ecdf shape):
    * per-duration subject counts and the pooled time grid union into one
    * per-group DESCENDING window — subject rows before grid rows at equal
    * time, so a grid row's running sum is exactly #{duration ≥ t}. One
    * shuffle; window input is per-(group, duration) aggregates.
    */
  def logRank(subjects: DataFrame, grpA: String): DataFrame =
    logRankFrom(riskTable(subjects, grpA), grpA)

  /** Per-pooled-event-time risk table `(t, n_a, n_b, d_a, d_b)` — the
    * sufficient statistics BOTH the log-rank test and the Cox fit consume.
    * Shape as documented on [[logRank]].
    */
  private[graft] def riskTable(subjects: DataFrame, grpA: String): DataFrame = {
    val durcnt = subjects.groupBy("grp", "duration_h")
      .agg(count(lit(1)).cast("long").as("n_all"), sum("event").as("d"))
    // pooled event-time grid × the two groups (grid is an aggregate of an
    // aggregate — histogram-sized; the group list is bounded)
    val grid = durcnt.filter(col("d") > 0)
      .select(col("duration_h").as("t")).distinct()
    val groups = subjects.select("grp").distinct()
    val gridG = grid.crossJoin(broadcast(groups))
    val u = durcnt.select(col("grp"), col("duration_h").as("t"),
        col("n_all").as("w"), lit(0).as("is_grid"))
      .unionAll(gridG.select(col("grp"), col("t"), lit(0L).as("w"),
        lit(1).as("is_grid")))
    val wDesc = Window.partitionBy("grp")
      .orderBy(col("t").desc, col("is_grid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val atRisk = u.withColumn("n_at", sum("w").over(wDesc))
      .filter(col("is_grid") === 1)
      .select(col("grp"), col("t"), col("n_at"))
    val withD = atRisk.join(
        durcnt.select(col("grp"), col("duration_h").as("t"), col("d")),
        Seq("grp", "t"), "left")
      .withColumn("d", coalesce(col("d"), lit(0L)))
    // pivot the (exactly two) groups side by side, then per-time E/V;
    // the caller names group A (keeps the plan action-free — no driver
    // peek at construction time)
    val gName = grpA
    withD.groupBy("t").agg(
      sum(when(col("grp") === gName, col("n_at")).otherwise(0L)).as("n_a"),
      sum(when(col("grp") =!= gName, col("n_at")).otherwise(0L)).as("n_b"),
      sum(when(col("grp") === gName, col("d")).otherwise(0L)).as("d_a"),
      sum(when(col("grp") =!= gName, col("d")).otherwise(0L)).as("d_b"))
  }

  private def logRankFrom(byT: DataFrame, gName: String): DataFrame = {
    val n = (col("n_a") + col("n_b")).cast("double")
    val dd = (col("d_a") + col("d_b")).cast("double")
    val pA = col("n_a").cast("double") / n
    val wAsc = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("e_a", dd * pA)
      .withColumn("v_a",
        when(col("n_a") + col("n_b") > 1,
          dd * pA * (lit(1.0) - pA) * (n - dd) / (n - lit(1.0)))
          .otherwise(lit(0.0)))
      // ordered running totals → deterministic double sequence; keep the
      // last row (all times accumulated)
      .withColumn("o_a_cum", sum("d_a").over(wAsc))
      .withColumn("e_a_cum", sum("e_a").over(wAsc))
      .withColumn("v_a_cum", sum("v_a").over(wAsc))
      .withColumn("n_times", count(lit(1)).over(wAsc))
      .withColumn("__last", lead("t", 1).over(Window.orderBy(col("t").asc)))
      .filter(col("__last").isNull)
      .select(lit(gName).as("grp_a"), col("n_times"),
        col("o_a_cum").as("o_a"), col("e_a_cum").as("e_a"),
        col("v_a_cum").as("var_a"),
        ((col("o_a_cum").cast("double") - col("e_a_cum"))
          * (col("o_a_cum").cast("double") - col("e_a_cum"))
          / col("v_a_cum")).as("chi2"))
  }

  /** Competing-risks cumulative incidence (Aalen–Johansen, two causes):
    * from a subject table `(grp, duration_h, cause)` with cause 1/2 =
    * competing first events and 0 = right-censored, computes per group at
    * every event time the overall KM survival S(t) and
    * CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s) — the correct "probability of
    * cause k by t" that 1−KM-per-cause overstates when the other cause
    * removes subjects. Same one-aggregate + descending-running-count
    * shape as [[kaplanMeier]]; S(s−) is the SAME exp-of-ordered-log-sum
    * with an exclusive frame (1 PRECEDING). Identity S + CIF₁ + CIF₂ = 1
    * holds by telescoping at every t (spec-pinned); every column is an
    * ordered deterministic double sequence, so the whole surface is
    * oracle-checkable.
    */
  def cumulativeIncidence(subjects: DataFrame): DataFrame = {
    val durcnt = subjects.groupBy("grp", "duration_h")
      .agg(count(lit(1)).cast("long").as("n_all"),
        sum(when(col("cause") === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col("cause") === 2, 1L).otherwise(0L)).as("d2"))
    val wDesc = Window.partitionBy("grp").orderBy(col("duration_h").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = durcnt
      .withColumn("n_risk", sum("n_all").over(wDesc))
      .filter(col("d1") + col("d2") > 0)
    val wAsc = Window.partitionBy("grp").orderBy(col("duration_h").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy("grp").orderBy(col("duration_h").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val d = col("d1") + col("d2")
    val nD = col("n_risk").cast("double")
    risk
      .withColumn("term",
        when(d < col("n_risk"),
          log((col("n_risk") - d).cast("double") / nD)))
      .withColumn("extinct", max(when(d === col("n_risk"), 1).otherwise(0)).over(wAsc))
      .withColumn("s_prev", exp(coalesce(sum("term").over(wPrev), lit(0.0))))
      .withColumn("surv",
        when(col("extinct") === 1, lit(0.0)).otherwise(exp(sum("term").over(wAsc))))
      .withColumn("cif1",
        sum(col("s_prev") * col("d1").cast("double") / nD).over(wAsc))
      .withColumn("cif2",
        sum(col("s_prev") * col("d2").cast("double") / nD).over(wAsc))
      .select(col("grp"), col("duration_h"), col("n_risk"),
        col("d1"), col("d2"), col("surv"), col("cif1"), col("cif2"))
  }

  /** Newton steps [[coxPh]] takes at most (it reports `converged` false
    * after them) and the step size below which it has converged. */
  private val CoxMaxIter = 25
  private val CoxTol = 1e-12

  /** One-covariate Cox proportional-hazards fit (binary x = 1[grp = grpA],
    * Breslow tie handling — the partial-likelihood Newton iteration every
    * survival package runs, restated on the SAME per-event-time risk table
    * as the log-rank test). Distributed part = the [[riskTable]] aggregate;
    * the Newton loop runs driver-side over the collected per-TIME rows —
    * an event-time histogram bounded by the calendar axis (the a30/k22
    * bounded-axis collect, NOT a data-sized one), sorted ascending so the
    * score/information sums are a fixed double sequence. U(0) is EXACTLY
    * the log-rank numerator O_A − E_A; I(0) differs from the log-rank
    * variance only by the hypergeometric tie factor (n−d)/(n−1), so
    * score_chi2 ≈ log-rank χ² (equal when all d = 1) — the spec pins the
    * exact numerator identity and the fit itself.
    *
    * Returns one row: (grp_a, n_times, beta, hr, se, z, wald_chi2,
    * score_chi2, iters, converged).
    */
  def coxPh(subjects: DataFrame, grpA: String): DataFrame = {
    val spark = subjects.sparkSession
    import spark.implicits._
    val rows = riskTable(subjects, grpA)
      .filter(col("d_a") + col("d_b") > 0)
      .select(col("t"), col("n_a").cast("double"), col("n_b").cast("double"),
        col("d_a").cast("double"), col("d_b").cast("double"))
      .as[(Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    def scoreInfo(b: Double): (Double, Double) = {
      val eb = math.exp(b)
      var u = 0.0
      var inf = 0.0
      rows.foreach { case (_, na, nb, da, db) =>
        val d = da + db
        if (na + nb > 0) {
          val w = na * eb
          val p = w / (w + nb)
          u += da - d * p
          inf += d * p * (1.0 - p)
        }
      }
      (u, inf)
    }
    val (u0, i0) = scoreInfo(0.0)
    var b = 0.0
    var iters = 0
    var converged = false
    // Non-identifiable fits must NOT report converged=true: a flat partial
    // likelihood (information 0 — e.g. only one cohort ever at risk when
    // events occur) gives Newton no direction, and a monotone likelihood
    // (complete separation) sends beta to ±infinity — detected by a bound
    // on |beta| well before exp(beta) degrades the p = w/(w+nb) terms.
    var identifiable = i0 > 0.0
    while (iters < CoxMaxIter && !converged && identifiable) {
      val (u, inf) = scoreInfo(b)
      if (inf <= 0.0 || inf.isNaN) identifiable = false
      else {
        val step = u / inf
        b += step
        if (math.abs(step) < CoxTol) converged = true
        else if (math.abs(b) > 35.0) identifiable = false
      }
      iters += 1
    }
    if (!identifiable) converged = false
    val (_, iHat) = scoreInfo(b)
    val se =
      if (identifiable && iHat > 0.0) 1.0 / math.sqrt(iHat) else Double.NaN
    val z = if (se.isNaN) Double.NaN else b / se
    val scoreChi2 = if (i0 > 0.0) u0 * u0 / i0 else Double.NaN
    Seq((grpA, rows.length.toLong, r6(b), r6(math.exp(b)), r6(se), r6(z),
      r6(z * z), r6(u0), r6(scoreChi2), iters.toLong, converged))
      .toDF("grp_a", "n_times", "beta", "hr", "se", "z", "wald_chi2",
        "score_u0", "score_chi2", "iters", "converged")
  }

  private def r6(x: Double): Double = math.rint(x * 1e6) / 1e6
}
