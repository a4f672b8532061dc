package graft

/** DuckDB-SQL mirrors of the [[Tables]] synthetic views, shared by every
  * oracle query in SparkEntry.oracleSql. The CTE text must stay in exact
  * semantic lockstep with Tables.scala — both derive the long-form
  * methylation tables from lineitem/supplier/part with pure integer
  * arithmetic so Spark and DuckDB agree bit-for-bit.
  */
object SqlOracles {

  /** WITH-clause defining beta / detp / sheet / manifest / anno plus the
    * IDAT intensity model (idat / idat_detp / idat_beta — mirrors of
    * [[graft.Tables.idatLong]] and `ops/Poobah.scala`). Prepend to any
    * oracle query that touches the derived views. DuckDB prunes unused
    * CTEs, so including all of them is free.
    */
  val ctes: String =
    """WITH beta AS (
      |  SELECT probe_id, sample_id, min(beta_raw) AS beta FROM (
      |    SELECT printf('cg%07d', l_partkey) AS probe_id,
      |           printf('S%03d', l_suppkey) AS sample_id,
      |           CAST((CAST(round(l_extendedprice * 100) AS BIGINT) + l_linenumber) % 997 AS DOUBLE) / 997.0 AS beta_raw
      |    FROM lineitem)
      |  GROUP BY 1, 2),
      |detp AS (
      |  SELECT probe_id, sample_id, min(pval_raw) AS pval FROM (
      |    SELECT printf('cg%07d', l_partkey) AS probe_id,
      |           printf('S%03d', l_suppkey) AS sample_id,
      |           CAST((l_orderkey * 7 + l_linenumber) % 101 AS DOUBLE) / 1010.0 AS pval_raw
      |    FROM lineitem)
      |  GROUP BY 1, 2),
      |sheet AS (
      |  SELECT printf('S%03d', s_suppkey) AS sample_id,
      |         'run_' || CAST(s_suppkey % 3 AS VARCHAR) AS run,
      |         CASE WHEN s_suppkey % 2 = 0 THEN 'WT' ELSE 'MUT' END AS "group"
      |  FROM supplier),
      |manifest AS (
      |  SELECT printf('cg%07d', p_partkey) AS probe_id,
      |         CASE WHEN p_partkey % 2 = 0 THEN 1 ELSE 2 END AS design_type
      |  FROM part),
      |anno AS (
      |  SELECT printf('cg%07d', p_partkey) AS probe_id,
      |         CASE WHEN p_partkey % 23 = 21 THEN 'chrX'
      |              WHEN p_partkey % 23 = 22 THEN 'chrY'
      |              ELSE 'chr' || CAST(p_partkey % 23 + 1 AS VARCHAR) END AS chr
      |  FROM part),
      |idat_addr AS (
      |  SELECT p_partkey AS k, CAST(p_partkey AS BIGINT) AS addr, 2 AS design_type,
      |         'Grn' AS channel, TRUE AS in_band, 'M' AS bead
      |  FROM part WHERE p_partkey % 2 = 1
      |  UNION ALL SELECT p_partkey, CAST(p_partkey AS BIGINT), 2, 'Red', TRUE, 'U'
      |  FROM part WHERE p_partkey % 2 = 1
      |  UNION ALL SELECT p_partkey, CAST(p_partkey AS BIGINT) + 100000000, 1,
      |         CASE WHEN p_partkey % 4 = 0 THEN 'Grn' ELSE 'Red' END, TRUE, 'U'
      |  FROM part WHERE p_partkey % 2 = 0
      |  UNION ALL SELECT p_partkey, CAST(p_partkey AS BIGINT) + 200000000, 1,
      |         CASE WHEN p_partkey % 4 = 0 THEN 'Grn' ELSE 'Red' END, TRUE, 'M'
      |  FROM part WHERE p_partkey % 2 = 0
      |  UNION ALL SELECT p_partkey, CAST(p_partkey AS BIGINT) + 100000000, 1,
      |         CASE WHEN p_partkey % 4 = 0 THEN 'Red' ELSE 'Grn' END, FALSE, 'U'
      |  FROM part WHERE p_partkey % 2 = 0
      |  UNION ALL SELECT p_partkey, CAST(p_partkey AS BIGINT) + 200000000, 1,
      |         CASE WHEN p_partkey % 4 = 0 THEN 'Red' ELSE 'Grn' END, FALSE, 'M'
      |  FROM part WHERE p_partkey % 2 = 0),
      |idat AS (
      |  SELECT printf('S%03d', sk) AS sample_id, sk, channel,
      |         CAST(addr AS INTEGER) AS address,
      |         CAST(CASE WHEN in_band
      |                   THEN (addr * 7919 + sk * 104729 + CASE WHEN channel = 'Grn' THEN 0 ELSE 13 END) % 28000 + 1
      |                   ELSE (addr * 7919 + sk * 104729 + CASE WHEN channel = 'Grn' THEN 0 ELSE 13 END) % 6000 + 1
      |              END AS INTEGER) AS mean,
      |         CAST((addr * 31 + sk * 17 + CASE WHEN channel = 'Grn' THEN 0 ELSE 13 END) % 400 + 20 AS INTEGER) AS sd,
      |         CAST((addr + sk) % 16 + 4 AS INTEGER) AS nbeads,
      |         printf('2052439%05d', sk) AS barcode,
      |         'BeadChip-8x5' AS chip_type,
      |         printf('cg%07d', k) AS probe_id, design_type, in_band, bead
      |  FROM idat_addr JOIN
      |       (SELECT CAST(s_suppkey AS BIGINT) AS sk FROM supplier WHERE s_suppkey % 25 = 3)
      |       ON (k // 1000000) = (sk // 100000)),
      |idat_detp AS (
      |  SELECT sample_id, probe_id,
      |         min(1.0 - CAST(cnt AS DOUBLE) / CAST(noob AS DOUBLE)) AS detp
      |  FROM (
      |    SELECT sample_id, channel, probe_id, is_oob,
      |           sum(is_oob) OVER (PARTITION BY sample_id, channel
      |                             ORDER BY value ASC, is_oob DESC
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt,
      |           sum(is_oob) OVER (PARTITION BY sample_id, channel) AS noob
      |    FROM (
      |      SELECT sample_id, channel, CAST(mean AS BIGINT) AS value, 1 AS is_oob,
      |             CAST(NULL AS VARCHAR) AS probe_id
      |      FROM idat WHERE design_type = 1 AND NOT in_band
      |      UNION ALL
      |      SELECT sample_id, channel, CAST(sum(mean) AS BIGINT), 0, probe_id
      |      FROM idat WHERE design_type = 1 AND in_band GROUP BY sample_id, channel, probe_id
      |      UNION ALL
      |      SELECT sample_id, channel, CAST(mean AS BIGINT), 0, probe_id
      |      FROM idat WHERE design_type = 2))
      |  WHERE is_oob = 0 GROUP BY 1, 2),
      |idat_beta AS (
      |  SELECT sample_id, probe_id,
      |         CAST(m AS DOUBLE) / CAST(m + u AS DOUBLE) AS beta
      |  FROM (
      |    SELECT sample_id, probe_id,
      |           sum(CASE WHEN bead = 'M' THEN CAST(mean AS BIGINT) ELSE 0 END) AS m,
      |           sum(CASE WHEN bead = 'U' THEN CAST(mean AS BIGINT) ELSE 0 END) AS u
      |    FROM idat WHERE in_band GROUP BY 1, 2))
      |""".stripMargin

  /** SQL mirror of [[graft.functions.Fns.varFromMoments]] — identical double
    * op sequence over exact integer aggregates.
    */
  def varFromMoments(n: String, s: String, ss: String): String =
    s"(CAST($ss AS DOUBLE) - CAST($s AS DOUBLE) * CAST($s AS DOUBLE) / CAST($n AS DOUBLE)) / CAST($n - 1 AS DOUBLE)"

  /** SQL mirror of Fns.mValueClamped. */
  def mValueClamped(b: String): String = {
    val c = s"least(greatest($b, 0.001), 0.999)"
    s"log2($c / (1.0 - $c))"
  }

  /** SQL replay of the two-sided Student-t tail for INTEGER df — the
    * finite elementary forms of Abramowitz & Stegun 26.7.3/4 (with
    * θ = atan(|t|/√ν), u = cos²θ = ν/(ν+t²), sinθ = |t|/√(ν+t²)):
    * ν even → P(|T|≤t) = sinθ·Σ_{j<ν/2} C(2j,j)/4^j·u^j; ν odd →
    * (2/π)·(θ + sinθcosθ·Σ_{j≤(ν−3)/2} 4^j(j!)²/(2j+1)!·u^j); p = 1−P.
    * Coefficients via lgamma, terms all positive (no cancellation);
    * agreement with commons-math's regularized incomplete beta
    * (graft_t_pvalue) is ~1e-13 — far inside the round-6 comparison.
    * Expects a prior CTE named `longt` with columns ($passCols, t, nu)
    * where `nu` is the integer df; appends geom/terms/tsum/pv so
    * [[bhTail]] can follow (pv emits $passCols, t, p). `keys` are the
    * row-identity columns (⊆ passCols) the per-row term sum groups by.
    * Covers ν ≤ 3998 (range(0, 2000)); a larger ν raises a DuckDB
    * error() naming this cap, instead of silently truncating the series
    * into a plausible-but-wrong p (the sf0.01 gate runs ν ≤ a few
    * hundred — extend the range literal before replaying larger designs).
    */
  /** SQL replay of the digamma function ψ(x), x > 0 — the commons-math
    * shape (shift the argument up to the C_LIMIT = 49 asymptotic region
    * via ψ(x) = ψ(x+1) − 1/x, then the 3-term Bernoulli series;
    * x ≤ 1e-5 short-circuits to −γ − 1/x). The shift sum is an unordered
    * list_sum where commons-math unwinds sequentially — a ~1e-15 ulp
    * difference, far inside the round-6 comparison everywhere this is
    * used (per-probe prior moments, which are then AVERAGED).
    * `x` must be a bare column holding a positive double.
    */
  def digammaSql(x: String): String = {
    val n = s"CAST(greatest(0, ceil(49.0 - $x)) AS BIGINT)"
    val z = s"($x + $n)"
    val inv = s"(1.0 / ($z * $z))"
    val asympt =
      s"(ln($z) - 0.5 / $z - $inv * ((1.0 / 12.0) + $inv * (1.0 / 120.0 - $inv / 252.0)))"
    val shift =
      s"coalesce(list_sum(list_transform(generate_series(0, $n - 1), j -> 1.0 / ($x + j))), 0.0)"
    s"""CASE WHEN $x > 0 AND $x <= 1e-5
       |     THEN -0.577215664901532860606512090082 - 1.0 / $x
       |     ELSE $asympt - $shift
       |END""".stripMargin.replace("\n", " ").replaceAll("\\s+", " ")
  }

  /** SQL replay of the trigamma function ψ′(x), x > 0 — same commons-math
    * shape as [[digammaSql]] (shift via ψ′(x) = ψ′(x+1) + 1/x², 3-term
    * asymptotic at ≥ 49, 1/x² below 1e-5).
    */
  def trigammaSql(x: String): String = {
    val n = s"CAST(greatest(0, ceil(49.0 - $x)) AS BIGINT)"
    val z = s"($x + $n)"
    val inv = s"(1.0 / ($z * $z))"
    val asympt =
      s"(1.0 / $z + $inv / 2.0 + $inv / $z * (1.0 / 6.0 - $inv * (1.0 / 30.0 - $inv / 42.0)))"
    val shift =
      s"coalesce(list_sum(list_transform(generate_series(0, $n - 1), j -> 1.0 / (($x + j) * ($x + j)))), 0.0)"
    s"""CASE WHEN $x > 0 AND $x <= 1e-5 THEN 1.0 / ($x * $x)
       |     ELSE $asympt + $shift
       |END""".stripMargin.replace("\n", " ").replaceAll("\\s+", " ")
  }

  /** SQL replay of the k03 eBayes prior fit (ops/Dmp.scala fitPrior /
    * fitPriorsBy): per-probe z = ln s² − (ψ(df/2) − ln(df/2)) and
    * ψ′(df/2), method-of-moments (avg, var_samp, avg ψ′), then
    * d0 = 2·trigammaInverse(evar) by the SAME 200-step early-stop
    * bisection on [1e-6, 1e7] the driver runs (a keyed recursive CTE —
    * after the (hi−lo)/hi ≤ 1e-12 stop the state freezes, so the
    * fixed-depth recursion returns the driver loop's exact exit state),
    * and s0² = exp(emean + ψ(d0/2) − ln(d0/2)), with fitPrior's
    * degenerate branches (no valid probe → (1e12, 1), one probe →
    * (1e12, e^emean), evar ≤ 0 → (1e12, e^emean) — 1e12 is moderated()'s
    * finite stand-in for the ∞ prior). Expects `${pfx}mom` with columns
    * ($by?, probe_id, df, s2, …); emits `${pfx}prior` with ($by?, d0,
    * s02). `by` keys the fit per contrast (fitPriorsBy); None fits one
    * global prior — the emitted `${pfx}prior` then has exactly one row
    * to CROSS JOIN. Host WITH must be RECURSIVE.
    */
  def ebayesPriorSql(pfx: String, by: Option[String]): String = {
    val k = by.fold("")(c => s"$c, ")
    val grp = by.fold("")(c => s" GROUP BY $c")
    val rootJoin = by.fold(
      s"LEFT JOIN (SELECT (lo + hi) / 2.0 AS root FROM ${pfx}bi WHERE i = 200) r ON TRUE")(
      c => s"LEFT JOIN (SELECT $c, (lo + hi) / 2.0 AS root FROM ${pfx}bi WHERE i = 200) r USING ($c)")
    s""",
       |${pfx}z AS (
       |  SELECT ${k}z_raw.hdf,
       |         ln(z_raw.s2) - (${digammaSql("z_raw.hdf")} - ln(z_raw.hdf)) AS z,
       |         ${trigammaSql("z_raw.hdf")} AS tri
       |  FROM (SELECT ${k}df / 2.0 AS hdf, s2 FROM ${pfx}mom
       |        WHERE s2 > 0 AND NOT isnan(s2)) z_raw),
       |${pfx}y AS (
       |  SELECT ${k}emean, evar0 - etri AS y FROM (
       |    SELECT ${k}avg(z) AS emean, var_samp(z) AS evar0, avg(tri) AS etri
       |    FROM ${pfx}z$grp)),
       |${pfx}bi AS (
       |  SELECT ${k}0 AS i, CAST(1e-6 AS DOUBLE) AS lo, CAST(1e7 AS DOUBLE) AS hi, y
       |  FROM ${pfx}y WHERE y > 0
       |  UNION ALL
       |  SELECT ${k}i + 1,
       |         CASE WHEN stop THEN lo WHEN tm > y THEN mid ELSE lo END,
       |         CASE WHEN stop THEN hi WHEN tm > y THEN hi ELSE mid END, y
       |  FROM (
       |    SELECT *, CASE WHEN stop THEN CAST(0.0 AS DOUBLE)
       |                   ELSE ${trigammaSql("mid")} END AS tm
       |    FROM (SELECT *, (lo + hi) / 2.0 AS mid,
       |                 (hi - lo) / hi <= 1e-12 AS stop
       |          FROM ${pfx}bi WHERE i < 200))),
       |${pfx}edge AS (
       |  SELECT ${trigammaSql("exlo")} AS tlo, ${trigammaSql("exhi")} AS thi
       |  FROM (SELECT CAST(1e-6 AS DOUBLE) AS exlo, CAST(1e7 AS DOUBLE) AS exhi)),
       |${pfx}prior AS (
       |  SELECT ${k}CASE WHEN emean IS NULL OR y IS NULL OR y <= 0
       |              THEN CAST(1e12 AS DOUBLE) ELSE 2.0 * root0 END AS d0,
       |         CASE WHEN emean IS NULL THEN 1.0
       |              WHEN y IS NULL OR y <= 0 THEN exp(emean)
       |              ELSE exp(emean + ${digammaSql("root0")} - ln(root0)) END AS s02
       |  FROM (
       |    SELECT ${k}emean, y,
       |           CASE WHEN e.tlo < y THEN CAST(1e-6 AS DOUBLE)
       |                WHEN e.thi > y THEN CAST(1e7 AS DOUBLE)
       |                ELSE r.root END AS root0
       |    FROM ${pfx}y CROSS JOIN ${pfx}edge e
       |    $rootJoin))""".stripMargin
  }

  /** SQL replay of the asymptotic two-sided Kolmogorov p at t = the KS
    * statistic (the k11 series, factored in r9 so k19 can reuse it with a
    * prefix): Q(t) = 2Σ(−1)^{k−1}e^{−2k²t²} as an ordered ascending
    * running sum over range(1,101) with the absterm ≥ 1e-16 stop, the
    * t ≤ 0.05 → 1 short-circuit, and the [0,1] clamp — the identical
    * IEEE sequence graft_ks_sf runs. Expects `${pfx}st` with columns
    * (probe_id, $stPass..., t); emits `${pfx}terms/ssum/q/pv`, where
    * `${pfx}pv` carries (probe_id, $stPass..., t, p).
    */
  def kolmogorovPv(stPass: String, pfx: String = ""): String = {
    val carry =
      if (stPass.trim.isEmpty) ""
      else stPass.split(",").map(c => s"st.${c.trim}, ").mkString
    s""",
       |${pfx}terms AS (
       |  SELECT probe_id, kk.k,
       |         CASE WHEN kk.k % 2 = 1 THEN 1.0 ELSE -1.0 END
       |           * exp(-2.0 * kk.k * kk.k * t * t) AS term,
       |         exp(-2.0 * kk.k * kk.k * t * t) AS absterm
       |  FROM ${pfx}st, (SELECT unnest(range(1, 101)) AS k) kk
       |  WHERE t > 0.05),
       |${pfx}ssum AS (
       |  SELECT probe_id,
       |         sum(term) OVER (PARTITION BY probe_id ORDER BY k
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm,
       |         row_number() OVER (PARTITION BY probe_id ORDER BY k DESC) AS rk
       |  FROM ${pfx}terms WHERE absterm >= 1e-16),
       |${pfx}q AS (SELECT probe_id, least(1.0, greatest(0.0, 2.0 * sm)) AS p
       |      FROM ${pfx}ssum WHERE rk = 1),
       |${pfx}pv AS (
       |  SELECT st.probe_id, ${carry}st.t,
       |         CASE WHEN st.t <= 0.05 THEN 1.0 ELSE coalesce(q.p, 0.0) END AS p
       |  FROM ${pfx}st st LEFT JOIN ${pfx}q q USING (probe_id))""".stripMargin
  }

  def studentTIntDfPv(keys: String, passCols: String): String =
    s""",
       |geom AS (
       |  SELECT $passCols, t,
       |         CASE WHEN nu > 3998 THEN CAST(error(
       |             'studentTIntDfPv: nu > 3998 - extend the range literal') AS BIGINT)
       |              ELSE nu END AS nu,
       |         nu / (nu + t * t) AS u,
       |         abs(t) / sqrt(nu + t * t) AS sn,
       |         atan(abs(t) / sqrt(CAST(nu AS DOUBLE))) AS th
       |  FROM longt),
       |terms AS (
       |  SELECT $keys,
       |         CASE WHEN nu % 2 = 0
       |              THEN exp(lgamma(2.0 * kk.j + 1.0) - 2.0 * lgamma(kk.j + 1.0)
       |                       - kk.j * ln(4.0)) * power(u, kk.j)
       |              ELSE exp(kk.j * ln(4.0) + 2.0 * lgamma(kk.j + 1.0)
       |                       - lgamma(2.0 * kk.j + 2.0)) * power(u, kk.j)
       |         END AS term
       |  FROM geom, (SELECT unnest(range(0, 2000)) AS j) kk
       |  WHERE (nu % 2 = 0 AND kk.j <= (nu - 2) / 2)
       |     OR (nu % 2 = 1 AND nu >= 3 AND kk.j <= (nu - 3) / 2)),
       |tsum AS (SELECT $keys, sum(term) AS sm FROM terms GROUP BY $keys),
       |pv AS (
       |  SELECT $passCols, t,
       |         CASE WHEN nu % 2 = 0 THEN 1.0 - sn * sm
       |              WHEN nu = 1 THEN 1.0 - (2.0 / pi()) * th
       |              ELSE 1.0 - (2.0 / pi()) * (th + sn * sqrt(u) * sm)
       |         END AS p
       |  FROM geom LEFT JOIN tsum USING ($keys))""".stripMargin

  /** Horner-chain builder for the [[erfc]] rationals: starts at `lead·v`,
    * folds `(acc + cᵢ)·v`, appends `+ last` — the exact loop structure of
    * the SPECFUN CALERF reference, so the IEEE op order is the published
    * one.
    */
  private def horner(lead: Double, coeffs: Seq[Double], v: String,
                     last: Double): String = {
    def f(c: Double) = "%.17e".format(c)
    val body = coeffs.foldLeft(s"${f(lead)} * $v")((acc, c) => s"($acc + ${f(c)}) * $v")
    s"($body + ${f(last)})"
  }

  /** SQL replay of erfc(x) for a NON-NEGATIVE argument — W. J. Cody's
    * rational Chebyshev approximation (Math. Comp. 23 (1969) 631-637;
    * the netlib SPECFUN CALERF coefficient set), max relative error
    * ≲ 1e-16 over the three branches (|x| ≤ 0.46875 via the erf rational,
    * 0.46875 < x ≤ 4 via the erfc rational with the split-exponent
    * exp(−⌊16x⌋²/256)·exp(−Δ) trick, x > 4 via the asymptotic form).
    * This replays the engine's normal/χ²(1) survival functions in DuckDB:
    * two-sided normal p = erfc(|z|/√2) and χ²(1) sf = erfc(√(x/2)) — the
    * Spark side stays on commons-math's regularized gamma
    * (graft_chisq_sf), which agrees with Cody to ~1e-14, far inside the
    * round-6 comparison (the studentTIntDfPv convention). `x` MUST be a
    * bare column reference holding a non-negative double — the text is
    * substituted many times.
    */
  def erfc(x: String): String = {
    val s1 = s"($x * $x)"
    val num1 = horner(1.85777706184603153e-1, Seq(3.16112374387056560e0,
      1.13864154151050156e2, 3.77485237685302021e2), s1, 3.20937758913846947e3)
    val den1 = horner(1.0, Seq(2.36012909523441209e1, 2.44024637934444173e2,
      1.28261652607737228e3), s1, 2.84423683343917062e3)
    val num2 = horner(2.15311535474403846e-8, Seq(5.64188496988670089e-1,
      8.88314979438837594e0, 6.61191906371416295e1, 2.98635138197400131e2,
      8.81952221241769090e2, 1.71204761263407058e3, 2.05107837782607147e3),
      x, 1.23033935479799725e3)
    val den2 = horner(1.0, Seq(1.57449261107098347e1, 1.17693950891312499e2,
      5.37181101862009858e2, 1.62138957456669019e3, 3.29079923573345963e3,
      4.36261909014324716e3, 3.43936767414372164e3), x, 1.23033935480374942e3)
    val s3 = s"(1.0 / ($x * $x))"
    val num3 = horner(1.63153871373020978e-2, Seq(3.05326634961232344e-1,
      3.60344899949804439e-1, 1.25781726111229246e-1, 1.60837851487422766e-2),
      s3, 6.58749161529837803e-4)
    val den3 = horner(1.0, Seq(2.56852019228982242e0, 1.87295284992346047e0,
      5.27905102951428412e-1, 6.05183413124413191e-2), s3,
      2.33520497626869185e-3)
    // the split exponent: xq = ⌊16x⌋/16 is exact in binary, so exp(−xq²)
    // carries the magnitude and exp(−(x−xq)(x+xq)) the small correction —
    // CALERF's trick to avoid the x² rounding error inside one big exp
    val xq = s"(floor($x * 16.0) / 16.0)"
    val scale = s"exp(-$xq * $xq) * exp(-($x - $xq) * ($x + $xq))"
    s"""CASE WHEN $x < 0.46875 THEN 1.0 - $x * $num1 / $den1
       |     WHEN $x <= 4.0 THEN $scale * ($num2 / $den2)
       |     ELSE $scale
       |          * ((5.6418958354775628695e-1 - $s3 * $num3 / $den3) / $x)
       |END""".stripMargin.replace("\n", " ").replaceAll("\\s+", " ")
  }

  /** SQL replay of the two-sided Student-t tail for FRACTIONAL df (the
    * Welch–Satterthwaite family, where [[studentTIntDfPv]]'s finite
    * elementary forms do not exist): P(|T_df| ≥ t) = I_x(df/2, 1/2) with
    * x = df/(df+t²) — the regularized incomplete beta evaluated by the
    * SAME continued fraction commons-math's Beta.regularizedBeta uses
    * (b₂ₘ = m(b−m)x/((a+2m−1)(a+2m)), b₂ₘ₊₁ = −(a+m)(a+b+m)x/((a+2m)
    * (a+2m+1)), all partial numerators 1), run through modified Lentz as
    * a FIXED-depth recursive CTE (200 levels — the CF in the convergent
    * region reaches machine precision in well under 100; commons-math
    * stops at relative 1e-14, so the two evaluations agree to ~1e-13,
    * far inside the round-6 comparison), with commons-math's region
    * switch (x > (a+1)/(a+b+2) ∧ 1−x ≤ (b+1)/(a+b+2) → 1 − I₁₋ₓ(b,a))
    * and its 1e-50 small-value floor. The prefactor's log-beta is
    * lgamma(a)+lgamma(b)−lgamma(a+b) — DuckDB's C lgamma and
    * commons-math's Lanczos agree far below the rounding (the k29
    * precedent). Expects a prior CTE named `longt` with columns
    * ($passCols, t, df) where df is a DOUBLE; appends cf_* CTEs ending in
    * `pv` ($passCols, t, p) so [[bhTail]] can follow. The host query's
    * WITH must be declared RECURSIVE (the k24
    * `ctes.replaceFirst("WITH ", "WITH RECURSIVE ")` pattern).
    */
  def studentTFracDfPv(passCols: String, pfx: String = ""): String =
    s""",
       |${pfx}cf_in AS (
       |  SELECT $passCols, t,
       |         least(df, 1000000.0) / (least(df, 1000000.0) + t * t) AS x0,
       |         least(df, 1000000.0) / 2.0 AS a0, 0.5 AS b0
       |  FROM ${pfx}longt),
       |${pfx}cf_sw AS (
       |  SELECT $passCols, t, x0, a0, b0,
       |         (x0 > (a0 + 1.0) / (2.0 + b0 + a0)
       |          AND 1.0 - x0 <= (b0 + 1.0) / (2.0 + b0 + a0)) AS swap
       |  FROM ${pfx}cf_in),
       |${pfx}cf_arg AS (
       |  SELECT $passCols, t, swap,
       |         CASE WHEN swap THEN 1.0 - x0 ELSE x0 END AS x,
       |         CASE WHEN swap THEN b0 ELSE a0 END AS a,
       |         CASE WHEN swap THEN a0 ELSE b0 END AS b
       |  FROM ${pfx}cf_sw),
       |${pfx}cf_lz AS (
       |  -- the seeds MUST be DOUBLE: bare 1.0 literals are DECIMAL(2,1)
       |  -- in DuckDB, and a DECIMAL seed drags the whole recursion into
       |  -- scale-1 decimal arithmetic (measured: h froze at 0.2)
       |  SELECT $passCols, t, swap, x, a, b, 1 AS n,
       |         CAST(1.0 AS DOUBLE) AS h, CAST(1.0 AS DOUBLE) AS c,
       |         CAST(0.0 AS DOUBLE) AS d
       |  FROM ${pfx}cf_arg
       |  UNION ALL
       |  SELECT $passCols, t, swap, x, a, b, n + 1,
       |         h * (cn * dn) AS h, cn AS c, dn AS d
       |  FROM (
       |    SELECT *,
       |           CASE WHEN abs(1.0 + bn / c) < 1e-50 THEN 1e-50
       |                ELSE 1.0 + bn / c END AS cn,
       |           1.0 / (CASE WHEN abs(1.0 + bn * d) < 1e-50 THEN 1e-50
       |                       ELSE 1.0 + bn * d END) AS dn
       |    FROM (
       |      SELECT *,
       |             CASE WHEN n % 2 = 0
       |                  THEN (n // 2) * (b - (n // 2)) * x
       |                       / ((a + 2.0 * (n // 2) - 1.0) * (a + 2.0 * (n // 2)))
       |                  ELSE -(a + ((n - 1) // 2)) * (a + b + ((n - 1) // 2)) * x
       |                       / ((a + 2.0 * ((n - 1) // 2))
       |                          * (a + 2.0 * ((n - 1) // 2) + 1.0))
       |             END AS bn
       |      FROM ${pfx}cf_lz WHERE n <= 200))),
       |${pfx}cf_h AS (SELECT $passCols, t, swap, x, a, b, h FROM ${pfx}cf_lz WHERE n = 201),
       |${pfx}pv AS (
       |  SELECT $passCols, t,
       |         CASE WHEN swap THEN 1.0 - ib ELSE ib END AS p
       |  FROM (
       |    SELECT *,
       |           -- x = 0 (t = 0, swapped): commons-math's regularizedBeta
       |           -- evaluates exp(-inf) = 0 there, where DuckDB's ln(0) raises
       |           CASE WHEN x = 0.0 THEN 0.0
       |                ELSE exp(a * ln(x) + b * ln(1.0 - x) - ln(a)
       |                         - (lgamma(a) + lgamma(b) - lgamma(a + b))) * 1.0 / h
       |           END AS ib
       |    FROM ${pfx}cf_h))""".stripMargin

  /** Per-group flavor of [[bhTail]] — the SQL mirror of
    * [[graft.ops.Analytic.bhAdjustBy]] (rank, m and the suffix-min all
    * partition by `by`, which must be ⊆ passCols).
    */
  def bhTailBy(by: String, passCols: String, tieBreak: String): String =
    s""",
       |rr AS (SELECT $passCols, p,
       |              row_number() OVER (PARTITION BY $by ORDER BY p, $tieBreak) AS rn,
       |              count(*) OVER (PARTITION BY $by) AS mm
       |       FROM pv),
       |f AS (SELECT $passCols, p,
       |             least(min(p * CAST(mm AS DOUBLE) / CAST(rn AS DOUBLE))
       |                   OVER (PARTITION BY $by ORDER BY rn DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |                   1.0) AS fdr
       |      FROM rr)""".stripMargin

  /** SQL mirror of [[graft.ops.Analytic.bhScan]]'s step-up chain
    * (the w03 pattern), shared by every inference oracle so the BH replay
    * has exactly ONE definition: expects a prior CTE named `pv` with a
    * double column `p` plus `passCols` to carry through; appends `rr`/`f`
    * so the final SELECT reads `FROM f` with columns ($passCols, p, fdr).
    * `tieBreak` must match the Spark side's bhAdjust tie-break column.
    */
  def bhTail(passCols: String, tieBreak: String = "probe_id"): String =
    s""",
       |rr AS (SELECT $passCols, p,
       |              row_number() OVER (ORDER BY p, $tieBreak) AS rn,
       |              count(*) OVER () AS mm
       |       FROM pv),
       |f AS (SELECT $passCols, p,
       |             least(min(p * CAST(mm AS DOUBLE) / CAST(rn AS DOUBLE))
       |                   OVER (ORDER BY rn DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |                   1.0) AS fdr
       |      FROM rr)""".stripMargin
}
