package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.commons.math3.special.Gamma

import graft.functions.Fns

/** K3 — per-probe two-group differential-methylation linear model with
  * empirical-Bayes variance moderation: the engine's restatement of the
  * reference's limma lmFit → contrasts.fit → eBayes → topTable chain
  * (/root/reference/plots.R:88-162, volcano.R:93-121,
  * Mouse_Microarray_General_Workflow.R:113-146).
  *
  * Three passes, all scale-friendly:
  *  1. one hash aggregate — per-probe per-group moments of M-values
  *     (single shuffle on probe_id, partial aggregation map-side);
  *  2. one tiny driver-side reduce — fit the inverse-gamma variance prior
  *     (d0, s0²) from the distribution of per-probe pooled variances. The
  *     collected input is ONE ROW (mean/var of adjusted log s²), so this
  *     step is O(1) on the driver at any probe cardinality;
  *  3. column expressions for the moderated t and p-value. The Student-t
  *     CDF and the digamma/trigamma adjustments are native codegen
  *     Expressions (functions/StudentT.scala, functions/GammaExprs.scala)
  *     — no scalar UDF anywhere in the kernel.
  *
  * Those expressions resolve by name, so the session must be built with
  * `graft.GraftExtensions` (as `graft.Sessions.local` builds it) or have had
  * `GraftExtensions.registerAll` called on it.
  */
object Dmp {

  /** Fitted variance prior: s²_g ~ s0² · F(df_g, d0). */
  final case class Prior(d0: Double, s02: Double)

  /** The reference requires >= 3 samples per group (reference
    * plots.R:73-76). */
  private val MinPerGroup = 3

  /** Pass 1: per-probe two-group moments of clamped M-values.
    * Input columns: probe_id, group, beta. Output adds n1/n2, mean1/mean2,
    * var1/var2, logfc = mean1-mean2, df = n1+n2-2, pooled s².
    * Group-size guard: [[MinPerGroup]] samples per group.
    */
  def moments(betaWithGroup: DataFrame, g1: String, g2: String,
              extraAggs: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val m = Fns.mValueClamped(col("beta"))
    val aggs = Seq(
      count(when(col("group") === g2, 1)).as("n2"),
      avg(when(col("group") === g1, m)).as("mean1"),
      avg(when(col("group") === g2, m)).as("mean2"),
      var_samp(when(col("group") === g1, m)).as("var1"),
      var_samp(when(col("group") === g2, m)).as("var2")) ++ extraAggs
    betaWithGroup.groupBy("probe_id")
      .agg(count(when(col("group") === g1, 1)).as("n1"), aggs: _*)
      .filter(col("n1") >= MinPerGroup && col("n2") >= MinPerGroup)
      .withColumn("logfc", col("mean1") - col("mean2"))
      .withColumn("df", (col("n1") + col("n2") - 2).cast("double"))
      .withColumn("s2",
        ((col("n1") - 1).cast("double") * col("var1") +
         (col("n2") - 1).cast("double") * col("var2")) / col("df"))
  }

  /** Inverse of the trigamma function (monotone decreasing on (0,∞)),
    * solved by bisection — needed to fit d0 from the spread of log s².
    */
  private[graft] def trigammaInverse(y: Double): Double = {
    if (y <= 0) return Double.PositiveInfinity
    var lo = 1e-6
    var hi = 1e7
    if (Gamma.trigamma(lo) < y) return lo
    if (Gamma.trigamma(hi) > y) return hi
    var i = 0
    while (i < 200 && (hi - lo) / hi > 1e-12) {
      val mid = (lo + hi) / 2
      if (Gamma.trigamma(mid) > y) lo = mid else hi = mid
      i += 1
    }
    (lo + hi) / 2
  }

  /** Pass 2: fit (d0, s0²) by method of moments on log s².
    * With s² ~ s0²·F(df, d0):
    *   E[log s²]   = log s0² + (ψ(df/2) − log(df/2)) − (ψ(d0/2) − log(d0/2))
    *   Var[log s²] = ψ′(df/2) + ψ′(d0/2)
    * Per-probe df may vary, so the ψ(df/2)−log(df/2) offset is removed
    * row-wise — from BOTH the mean and the spread (limma's fitFDist centers
    * the same adjusted variable; taking the variance of raw log s² would let
    * a df-varying mean offset inflate evar and under-moderate).
    */
  // native codegen expressions (functions/GammaExprs.scala), not UDFs —
  // these run once per probe, millions of rows at scale; the session's
  // GraftExtensions register them (see the object's scaladoc)
  private def adjCol(dfCol: String) =
    expr(s"graft_digamma(CAST($dfCol AS DOUBLE) / 2)") - log(col(dfCol) / 2)
  private def triCol(dfCol: String) =
    expr(s"graft_trigamma(CAST($dfCol AS DOUBLE) / 2)")

  private def priorFromMoments(emean: Double, evarAdj: Double, etri: Double): Prior = {
    val evar = evarAdj - etri
    if (evar > 0) {
      val d0 = 2 * trigammaInverse(evar)
      val s02 = math.exp(emean + Gamma.digamma(d0 / 2) - math.log(d0 / 2))
      Prior(d0, s02)
    } else {
      // No excess spread: variances fully shrink to the common value.
      Prior(Double.PositiveInfinity, math.exp(emean))
    }
  }

  def fitPrior(moments: DataFrame): Prior = fitPriorCounted(moments)._1

  /** [[fitPrior]] plus the TOTAL row count of `moments`, from the same
    * single aggregate job (r10): the count previously cost its own job
    * inside bhAdjust's dispatch. The prior moments run over the valid-s²
    * subset via null-skipping `when` guards — the identical value sequence
    * (same rows, same partition order) the old `filter(...)` formulation
    * aggregated, so the fitted prior is bit-unchanged.
    */
  private[ops] def fitPriorCounted(moments: DataFrame): (Prior, Long) = {
    val valid = col("s2") > 0 && !isnan(col("s2"))
    val z = when(valid, log(col("s2")) - adjCol("df"))
    val row = moments
      .select(avg(z).as("emean"), var_samp(z).as("evar"),
        avg(when(valid, triCol("df"))).as("etri"),
        count(lit(1)).as("rows"))
      .head()
    val rows = row.getLong(3)
    // 0 or 1 valid probes leave avg/var_samp null — same degenerate-input
    // guards as fitPriorsBy: no probes → flat unit prior; one probe → no
    // spread evidence, shrink fully to its value (df.prior = Inf).
    val prior =
      if (row.isNullAt(0)) Prior(Double.PositiveInfinity, 1.0)
      else if (row.isNullAt(1))
        Prior(Double.PositiveInfinity, math.exp(row.getDouble(0)))
      else priorFromMoments(row.getDouble(0), row.getDouble(1), row.getDouble(2))
    (prior, rows)
  }

  /** Per-group prior fit: one aggregate shuffled on `byCol`, C rows to the
    * driver (C = number of contrasts) — the grouped analog of [[fitPrior]],
    * used by the multi-contrast eBayes (reference
    * Mouse_Microarray_General_Workflow.R:113-146 fits eBayes once over all
    * coefficients; per-contrast MoM fit is the per-coef restatement).
    */
  def fitPriorsBy(moments: DataFrame, byCol: String): Map[String, Prior] = {
    val z = log(col("s2")) - adjCol("df")
    moments
      .filter(col("s2") > 0 && !isnan(col("s2")))
      .groupBy(byCol)
      .agg(avg(z).as("emean"), var_samp(z).as("evar"),
        avg(triCol("df")).as("etri"))
      .collect()
      .map { r =>
        // A single valid probe leaves var_samp null: no spread evidence →
        // shrink fully to the common value (limma's moderated.t with
        // df.prior = Inf), instead of NPE-ing on getDouble.
        val prior =
          if (r.isNullAt(2)) Prior(Double.PositiveInfinity, math.exp(r.getDouble(1)))
          else priorFromMoments(r.getDouble(1), r.getDouble(2), r.getDouble(3))
        r.getString(0) -> prior
      }
      .toMap
  }

  /** Pass 3: moderated statistics + BH FDR + the reference's significance
    * call (FDR < 0.05 AND |logFC| > log2(1.5), /root/reference/plots.R:165).
    * The t CDF is a native codegen Expression ([[graft.functions.StudentTPValue]]),
    * not a UDF — the projection stays inside whole-stage codegen.
    */
  def moderated(moments: DataFrame, prior: Prior,
                knownRows: Option[Long] = None): DataFrame = {
    val d0 = if (prior.d0.isInfinite) 1e12 else prior.d0
    val withT = moments
      .withColumn("s2_post",
        (lit(d0 * prior.s02) + col("df") * col("s2")) / (lit(d0) + col("df")))
      .withColumn("t_mod",
        col("logfc") / sqrt(col("s2_post") *
          (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double"))))
      .withColumn("p_value", expr(s"graft_t_pvalue(t_mod, df + ${d0}D)"))
    Analytic.bhAdjust(withT, "p_value", "probe_id", knownRows = knownRows)
      .withColumn("significant",
        col("fdr") < 0.05 && abs(col("logfc")) > math.log(1.5) / math.log(2))
  }

  /** Full K3 pipeline. The moments cache serves both the eager prior fit
    * and the final moderated pass (two actions, one input scan). It is a
    * deliberate multi-action cache, tracked in [[Caches]] so
    * session-sharing harnesses release it between queries.
    */
  def dmp(betaWithGroup: DataFrame, g1: String, g2: String,
          extraAggs: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    // extraAggs ride the SAME moments aggregate and pass through the
    // moderated tail untouched (r9: k03_volcano's delta_beta previously
    // cost a second full aggregate over the joined betas plus a
    // probe-keyed join back).
    val mom = Caches.track(moments(betaWithGroup, g1, g2,
      extraAggs = extraAggs).persist())
    // one aggregate job serves the prior fit, the bhAdjust dispatch count
    // AND the mom cache fill (r10 — the k12 consolidation template)
    val (prior, rows) = fitPriorCounted(mom)
    moderated(mom, prior, knownRows = Some(rows))
  }

  /** Multi-contrast variant (reference
    * /root/reference/Mouse_Microarray_General_Workflow.R:113-146 runs 16
    * contrasts in one limma fit): the contrasts are a broadcast dim table
    * and `comparison_id` becomes an extra grouping column, so all
    * comparisons run in ONE job — the moments pass shuffles once on
    * (comparison, probe) instead of looping per contrast.
    */
  def multiContrastMoments(betaWithGroup: DataFrame,
                           contrasts: Seq[(String, String, String)]): DataFrame = {
    val spark = betaWithGroup.sparkSession
    import spark.implicits._
    val c = contrasts.toDF("comparison_id", "g1", "g2")
    val m = Fns.mValueClamped(col("beta"))
    betaWithGroup
      .join(broadcast(c), col("group") === col("g1") || col("group") === col("g2"))
      .withColumn("side", when(col("group") === col("g1"), "A").otherwise("B"))
      .groupBy("comparison_id", "probe_id")
      .agg(
        count(when(col("side") === "A", 1)).as("n1"),
        count(when(col("side") === "B", 1)).as("n2"),
        avg(when(col("side") === "A", m)).as("mean1"),
        avg(when(col("side") === "B", m)).as("mean2"),
        var_samp(when(col("side") === "A", m)).as("var1"),
        var_samp(when(col("side") === "B", m)).as("var2"))
      .filter(col("n1") >= 3 && col("n2") >= 3)
      .withColumn("logfc", col("mean1") - col("mean2"))
      .withColumn("df", (col("n1") + col("n2") - 2).cast("double"))
      .withColumn("s2",
        ((col("n1") - 1).cast("double") * col("var1") +
         (col("n2") - 1).cast("double") * col("var2")) / col("df"))
  }

  /** Full multi-contrast eBayes: ONE moments job over all contrasts, then a
    * per-contrast prior fit (C rows to the driver), a broadcast join of the
    * priors, codegen moderated-t/p columns, and per-contrast BH. This is the
    * reference's contrasts.fit → eBayes → per-coef topTable loop
    * (Mouse_Microarray_General_Workflow.R:113-146) collapsed into two
    * shuffles (moments; per-contrast FDR window) regardless of how many
    * contrasts run.
    */
  def multiContrastModerated(betaWithGroup: DataFrame,
                             contrasts: Seq[(String, String, String)]): DataFrame = {
    val spark = betaWithGroup.sparkSession
    import spark.implicits._
    // reused by the prior-fit action and the final pass; released by the
    // harness between queries (ops.Caches)
    val mom = Caches.track(multiContrastMoments(betaWithGroup, contrasts).persist())
    val priors = fitPriorsBy(mom, "comparison_id")
    val pdf = priors.toSeq.map { case (cid, p) =>
      (cid, if (p.d0.isInfinite) 1e12 else p.d0, p.s02)
    }.toDF("comparison_id", "__d0", "__s02")
    // LEFT join: a contrast whose probes all have s2 <= 0 gets no fitted
    // prior — its rows must still come through (with null inference
    // columns and fdr 1.0), not silently vanish from the output.
    val withT = mom
      .join(broadcast(pdf), Seq("comparison_id"), "left")
      .withColumn("s2_post",
        (col("__d0") * col("__s02") + col("df") * col("s2")) / (col("__d0") + col("df")))
      .withColumn("t_mod",
        col("logfc") / sqrt(col("s2_post") *
          (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double"))))
      .withColumn("p_value", expr("graft_t_pvalue(t_mod, df + __d0)"))
    Analytic.bhAdjustBy(withT, "comparison_id", "p_value", "probe_id")
      .withColumn("significant",
        col("fdr") < 0.05 && abs(col("logfc")) > math.log(1.5) / math.log(2))
      .drop("__d0", "__s02")
  }
}
