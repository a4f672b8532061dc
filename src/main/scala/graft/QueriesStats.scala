package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.functions.Fns.d2
import graft.ops.{Analytic, Bmiq, Combat, Dmp, Hclust, Mds, Pca, Survival}
import SqlOracles.ctes

/** Statistical-kernel queries (SURVEY.md §2.9). The DuckDB-expressible
  * pass (K3 moments) carries a full oracle; the iterative/eigen kernels
  * (moderated eBayes, PCA, MDS) are registered rows-only and covered by
  * unit tests against hand-computed values.
  */
object QueriesStats {

  /** The K tier's moments builder: per `keys` group, in ONE conditional-sum
    * hash aggregate, the exact bigint count `n`, Σv `s` and Σv² `ss` over
    * all rows, and `n<sfx>`, `s<sfx>`, `ss<sfx>` over the rows each level's
    * condition holds on (a null condition counts as false). `v` is an
    * integer column, beta's grid value `k` for most callers, so every sum
    * is exact and order-independent and each statistic built on them is a
    * fixed double sequence. Columns a caller never reads are pruned from
    * the aggregate by the optimizer.
    */
  private[graft] def levelMoments(df: DataFrame, keys: Seq[String], v: Column,
                                  levels: Seq[(String, Column)]): DataFrame = {
    def on(c: Column, e: Column) = sum(when(c, e).otherwise(0L))
    val aggs = Seq(count(lit(1)).as("n"), sum(v).as("s"), sum(v * v).as("ss")) ++
      levels.flatMap { case (sfx, c) =>
        Seq(on(c, lit(1L)).as(s"n$sfx"), on(c, v).as(s"s$sfx"), on(c, v * v).as(s"ss$sfx"))
      }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The three instrument runs as levels `0`..`2`. */
  private[graft] val runLevels: Seq[(String, Column)] =
    (0 to 2).map(r => r.toString -> (col("run") === s"run_$r"))

  /** The two sheet groups as levels `1` (WT) and `2` (MUT). */
  private[graft] val groupLevels: Seq[(String, Column)] =
    Seq("1" -> (col("group") === "WT"), "2" -> (col("group") === "MUT"))

  /** Group within run, levels `<group>_<run>`: `1_0` = WT in run_0, …,
    * `2_2` = MUT in run_2 (k38's per-run effects).
    */
  private[graft] val runGroupLevels: Seq[(String, Column)] =
    for ((r, inRun) <- runLevels; (g, inGroup) <- groupLevels)
      yield s"${g}_$r" -> (inRun && inGroup)

  /** Per-probe WT/MUT grid moments of `bg`, probes with at least 3 samples
    * in each group: the input of [[welchT]], k31's effect sizes and the
    * k14/k41/e07 group deltas.
    */
  private def groupMoments(bg: DataFrame) =
    levelMoments(bg, Seq("probe_id"), col("k"), groupLevels)
      .filter(col("n1") >= 3 && col("n2") >= 3)

  /** Mean of level `a` minus mean of level `b`, in grid units. */
  private def meanDiff(a: String, b: String) =
    d2(s"s$a") / d2(s"n$a") - d2(s"s$b") / d2(s"n$b")

  /** Sample variance of level `sfx`. */
  private def levelVar(sfx: String) =
    Fns.varFromMoments(col(s"n$sfx"), col(s"s$sfx"), col(s"ss$sfx"))

  /** Squared standard error of level `sfx`'s mean: its sample variance / n. */
  private def seSq(sfx: String) = levelVar(sfx) / d2(s"n$sfx")

  /** The `top` probes of `bk` (probe_id, sample_id, k) with the largest
    * exact-moment sample variance, ties by probe_id: the k02/k09 selection,
    * identical in Spark and DuckDB.
    */
  private def topVarianceProbes(bk: DataFrame, top: Int) =
    levelMoments(bk, Seq("probe_id"), col("k"), Nil)
      .filter(col("n") >= 2)
      .select(col("probe_id"), Fns.varFromMoments(col("n"), col("s"), col("ss")).as("v"))
      .orderBy(col("v").desc, col("probe_id").asc)
      .limit(top).select("probe_id")

  /** The k15 clock panel: per probe the integer numerator of its age
    * coefficient (coef = coef_num/10). k15, k34 and e07 score it.
    */
  private def clockPanel(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.table(s, d, "part")
      .filter(col("p_partkey") % 17 === 3)
      .select(format_string("cg%07d", col("p_partkey")).as("probe_id"),
        (col("p_partkey") % 13 - 6).cast("long").as("coef_num"))

  /** The k16 reference profiles of cell types A and B on the beta grid,
    * probes where they differ. k16 and e07 project onto them.
    */
  private def cellProfiles(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.table(s, d, "part")
      .select(format_string("cg%07d", col("p_partkey")).as("probe_id"),
        (col("p_partkey") * 3 % 997).cast("long").as("pa"),
        (col("p_partkey") * 7 % 997).cast("long").as("pb"))
      .filter(col("pa") =!= col("pb"))

  /** `c` rounded to the 6 places the oracle compares, under its own name. */
  private def r6(c: String) = round(col(c), 6).as(c)

  /** Shared K17 statistic pass: per-probe Welch two-sample t (unequal
    * variances — the test scipy's `ttest_ind(equal_var=False)` runs and the
    * un-moderated counterpart of the K3 eBayes fit, reference
    * /root/reference/plots.R:139-162 where every probe gets a t + p): group-
    * conditional exact integer moments on beta's 0..996 grid in ONE hash
    * aggregate, then t and the Welch–Satterthwaite df as a fixed double
    * sequence. t is scale-invariant so it is computed directly in grid
    * units; `delta_beta` rescales by /997 for reporting. Unrounded output;
    * k17_welch_dmp rounds for the oracle, k17_welch_inference feeds
    * (t, df) to `graft_t_pvalue`.
    */
  private[graft] def welchT(s: org.apache.spark.sql.SparkSession, d: String) =
    groupMoments(Tables.betaGrid(s, d))
      .withColumn("se1", seSq("1")).withColumn("se2", seSq("2"))
      .withColumn("se", col("se1") + col("se2"))
      .filter(col("se") > 0.0)
      .select(col("probe_id"), col("n1"), col("n2"),
        (meanDiff("1", "2") / 997.0).as("delta_beta"),
        (sqrt(col("se")) / 997.0).as("se_beta"),
        (meanDiff("1", "2") / sqrt(col("se"))).as("t"),
        ((col("se") * col("se"))
          / (col("se1") * col("se1") / (d2("n1") - 1.0)
            + col("se2") * col("se2") / (d2("n2") - 1.0))).as("df"))

  /** Shared K18 statistic pass: Brown–Forsythe (median-centered Levene)
    * across the three instrument runs. Exact per-(probe,run) median on the
    * 0..996 grid (x.0/x.5 ⇒ |2k − 2·med| is an exact integer in doubled
    * units), then [[oneWayAnova]] on those integer deviations.
    * Unrounded output `(probe_id, n, df1, df2, bf_f)`.
    */
  private[graft] def brownForsythe(s: org.apache.spark.sql.SparkSession, d: String) = {
    val bg = Tables.betaGrid(s, d).select("probe_id", "run", "k")
    val med = bg.groupBy("probe_id", "run")
      .agg(expr("percentile(k, 0.5)").as("med"))
    val z = bg.join(med, Seq("probe_id", "run"))
      .withColumn("z2",
        abs(col("k") * 2 - round(col("med") * 2).cast("bigint")))
    oneWayAnova(levelMoments(z, Seq("probe_id"), col("z2"), runLevels))
      .select(col("probe_id"), col("n"), col("df1"), col("df2"), col("f").as("bf_f"))
  }

  /** Tie-cell rank moments shared by K20 (omnibus) and K37 (post-hoc):
    * `(probe_id, ncells, n0..n2, r0_2..r2_2, ties)` with ri_2 = the
    * group's DOUBLED pooled rank sum (exact bigint) and ties = Σ(t³−t).
    */
  private[graft] def kwMoments(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    // per-run counts of each (probe, beta) tie cell
    val cells = levelMoments(Tables.betaGrid(s, d), Seq("probe_id", "beta"), col("k"), runLevels)
      .withColumn("t", col("n0") + col("n1") + col("n2"))
    val w = Window.partitionBy("probe_id").orderBy("beta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells.withColumn("cum", sum("t").over(w))
      // doubled average rank of every member of this tie cell
      .withColumn("dr", col("cum") * 2 - (col("t") - 1))
    ranked.groupBy("probe_id").agg(
      count(lit(1)).as("ncells"),
      sum("n0").as("n0"), sum("n1").as("n1"), sum("n2").as("n2"),
      sum(col("n0") * col("dr")).as("r0_2"),
      sum(col("n1") * col("dr")).as("r1_2"),
      sum(col("n2") * col("dr")).as("r2_2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
  }

  /** Shared K20 statistic pass: Kruskal–Wallis H across the three
    * instrument runs — the k10 tie-cell machinery generalized to three
    * groups. Average ranks live in exact DOUBLED integer units (the tie
    * cell spanning global positions cum−t+1..cum has doubled average rank
    * 2·cum − (t−1)); per-run doubled rank sums Ri_2 are exact bigints, and
    * with Ri = Ri_2/2 the classic 12/(N(N+1))·ΣRi²/ni becomes
    * 3/(N(N+1))·ΣRi_2²/ni. Tie correction 1 − Σ(t³−t)/(N³−N). Unrounded
    * output `(probe_id, n, n0, n1, n2, h)`.
    */
  private[graft] def kruskalWallis(s: org.apache.spark.sql.SparkSession, d: String) = {
    val a = kwMoments(s, d)
    val n = d2("n0") + d2("n1") + d2("n2")
    val hRaw = lit(3.0) / (n * (n + 1.0)) *
      (d2("r0_2") * d2("r0_2") / d2("n0")
        + d2("r1_2") * d2("r1_2") / d2("n1")
        + d2("r2_2") * d2("r2_2") / d2("n2")) - lit(3.0) * (n + 1.0)
    val tieC = lit(1.0) - d2("ties") / (n * n * n - n)
    a.filter(col("n0") >= 2 && col("n1") >= 2 && col("n2") >= 2 &&
        col("ncells") > 1)
      .select(col("probe_id"),
        (col("n0") + col("n1") + col("n2")).as("n"),
        col("n0"), col("n1"), col("n2"), (hRaw / tieC).as("h"))
  }

  /** Shared K37 statistic pass: Dunn's post-hoc pairwise z for every run
    * pair, from the SAME tie-cell rank moments as the k20 omnibus —
    * z_ij = (R̄_i − R̄_j) / √((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/n_i+1/n_j))
    * with mean ranks read off the exact doubled rank sums. Pairs arrive by
    * a 3-row broadcast cross join with CASE picks (row-local; the moment
    * aggregate runs ONCE). Unrounded `(probe_id, pair, n, ni, nj, z)`.
    */
  private[graft] def dunnPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    val pairs = Seq((0, 1), (0, 2), (1, 2)).toDF("gi", "gj")
    val a = kwMoments(s, d)
      .filter(col("n0") >= 2 && col("n1") >= 2 && col("n2") >= 2 &&
        col("ncells") > 1)
    def pick(idx: org.apache.spark.sql.Column, c0: String, c1: String, c2: String) =
      when(idx === 0, col(c0)).when(idx === 1, col(c1)).otherwise(col(c2))
    val j = a.crossJoin(broadcast(pairs))
      .withColumn("ni", pick(col("gi"), "n0", "n1", "n2"))
      .withColumn("nj", pick(col("gj"), "n0", "n1", "n2"))
      .withColumn("ri", pick(col("gi"), "r0_2", "r1_2", "r2_2"))
      .withColumn("rj", pick(col("gj"), "r0_2", "r1_2", "r2_2"))
    val n = d2(col("n0") + col("n1") + col("n2"))
    val sigma2 = (n * (n + lit(1.0)) / lit(12.0)
      - d2(col("ties")) / (lit(12.0) * (n - lit(1.0)))) *
      (lit(1.0) / d2(col("ni")) + lit(1.0) / d2(col("nj")))
    j.withColumn("sigma2", sigma2)
      .filter(col("sigma2") > 0.0)
      .withColumn("z",
        (d2(col("ri")) / (lit(2.0) * d2(col("ni")))
          - d2(col("rj")) / (lit(2.0) * d2(col("nj")))) / sqrt(col("sigma2")))
      .select(col("probe_id"),
        concat(lit("run_"), col("gi").cast("string"),
          lit(" vs run_"), col("gj").cast("string")).as("pair"),
        (col("n0") + col("n1") + col("n2")).as("n"),
        col("ni"), col("nj"), col("z"))
  }

  /** Shared K21 statistic pass: per-probe Jarque–Bera from exact integer
    * moments Σk..Σk⁴ on the 0..996 grid, central/standardized moments as a
    * fixed double sequence (m2^1.5 written `m2·√m2` so the oracle's
    * sequence is identical). Unrounded `(probe_id, n, skew, kurt, jb)`.
    */
  private[graft] def jarqueBera(s: org.apache.spark.sql.SparkSession, d: String) = {
    val m = Tables.betaLong(s, d).withColumn("k", Fns.betaK).groupBy("probe_id").agg(
      count(lit(1)).as("n"), sum("k").as("s1"),
      sum(col("k") * col("k")).as("s2"),
      sum(col("k") * col("k") * col("k")).as("s3"),
      sum(col("k") * col("k") * col("k") * col("k")).as("s4"))
    val mu = d2("s1") / d2("n")
    val e2 = d2("s2") / d2("n")
    val e3 = d2("s3") / d2("n")
    val e4 = d2("s4") / d2("n")
    val m2 = e2 - mu * mu
    val m3 = e3 - lit(3.0) * mu * e2 + lit(2.0) * mu * mu * mu
    val m4 = e4 - lit(4.0) * mu * e3 + lit(6.0) * mu * mu * e2 -
      lit(3.0) * mu * mu * mu * mu
    m.withColumn("m2", m2).withColumn("m3", m3).withColumn("m4", m4)
      .filter(col("n") >= 8 && col("m2") > 0.0)
      .withColumn("skew", col("m3") / (col("m2") * sqrt(col("m2"))))
      .withColumn("kurt", col("m4") / (col("m2") * col("m2")))
      .select(col("probe_id"), col("n"), col("skew"), col("kurt"),
        (d2("n") / 6.0 * (col("skew") * col("skew")
          + (col("kurt") - 3.0) * (col("kurt") - 3.0) / 4.0)).as("jb"))
  }

  /** Shared K22 statistic pass: Mann–Kendall S from the bounded samples²
    * pair join (sample_id's fixed-width string order = collection order),
    * tie-corrected variance from one tie-cell aggregate, continuity-
    * corrected z. Unrounded `(probe_id, n, s_stat, z)`.
    */
  private[graft] def mannKendall(s: org.apache.spark.sql.SparkSession, d: String) = {
    val bk = Tables.betaLong(s, d).select(col("probe_id"), col("sample_id"), Fns.betaK.as("k"))
    val pairs = bk.as("a").join(bk.as("b"),
        col("a.probe_id") === col("b.probe_id") &&
          col("a.sample_id") < col("b.sample_id"))
      .groupBy(col("a.probe_id").as("probe_id"))
      .agg(sum(signum(col("b.k") - col("a.k")).cast("bigint")).as("s_stat"))
    val ties = bk.groupBy("probe_id", "k").agg(count(lit(1)).as("t"))
      .groupBy("probe_id")
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tsum"),
        sum("t").as("n"))
    pairs.join(ties, "probe_id")
      .withColumn("var_s",
        (d2("n") * (d2("n") - 1.0) * (d2("n") * 2.0 + 5.0) - d2("tsum")) / 18.0)
      .filter(col("n") >= 8 && col("var_s") > 0.0)
      .withColumn("z",
        when(col("s_stat") > 0, (d2("s_stat") - 1.0) / sqrt(col("var_s")))
          .when(col("s_stat") < 0, (d2("s_stat") + 1.0) / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      .select(col("probe_id"), col("n"), col("s_stat"), col("z"))
  }

  /** QC failure × `x` 2×2 counts per `keys` group (Nil: one table over
    * all samples). A sample fails when its mean detection p is ≥ 0.05,
    * compared exactly on detp's j/1010 grid. a = fail∧x, b = fail∧¬x,
    * c = ¬fail∧x, dd = ¬fail∧¬x, with margins r1, r2, c1, c2 and n. k29
    * and k32 test it.
    */
  private def failTable(s: org.apache.spark.sql.SparkSession, d: String, keys: Seq[String],
                        x: Column) = {
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    Tables.detpLong(s, d)
      .withColumn("k", round(col("pval") * 1010).cast("bigint"))
      .groupBy("sample_id").agg(sum("k").as("sk"), count(lit(1)).as("nn"))
      .withColumn("fail", col("sk") * 20 >= col("nn") * 1010)
      .join(broadcast(Tables.sampleSheet(s, d)), "sample_id")
      .withColumn("x", x)
      .groupBy(keys.map(col): _*).agg(
        cnt(col("fail") && col("x")).as("a"), cnt(col("fail") && !col("x")).as("b"),
        cnt(!col("fail") && col("x")).as("c"), cnt(!col("fail") && !col("x")).as("dd"))
      .withColumn("r1", col("a") + col("b"))
      .withColumn("r2", col("c") + col("dd"))
      .withColumn("c1", col("a") + col("c"))
      .withColumn("c2", col("b") + col("dd"))
      .withColumn("n", col("r1") + col("r2"))
  }

  /** Shared K32 statistic pass: Cochran–Mantel–Haenszel over the
    * run-stratified QC-failure × group 2×2 tables. One bounded aggregate
    * per stratum, hypergeometric E and V per stratum, the continuity-
    * corrected statistic (R mantelhaen.test correct=TRUE) and the
    * Mantel–Haenszel common odds ratio assembled from ordered running
    * sums over the 3-row strata table. Unrounded output
    * `(n_strata, sum_a, sum_e, sum_v, cmh, or_mh)`.
    */
  private[graft] def cmhTest(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.expressions.Window
    val strata = failTable(s, d, Seq("run"), col("group") === "WT")
      .filter(col("n") > 1)
    val wRun = Window.orderBy("run")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("run")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    strata
      .withColumn("e", d2("r1") * d2("c1") / d2("n"))
      .withColumn("v", d2("r1") * d2("r2") * d2("c1") * d2("c2")
        / (d2("n") * d2("n") * (d2("n") - 1.0)))
      .withColumn("sum_a", sum("a").over(wRun))
      .withColumn("sum_e", sum("e").over(wRun))
      .withColumn("sum_v", sum("v").over(wRun))
      .withColumn("or_num", sum(d2("a") * d2("dd") / d2("n")).over(wRun))
      .withColumn("or_den", sum(d2("b") * d2("c") / d2("n")).over(wRun))
      .withColumn("n_strata", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(Window.orderBy(col("run").desc)))
      .filter(col("rn") === 1)
      .withColumn("adiff", abs(col("sum_a").cast("double") - col("sum_e")))
      .select(col("n_strata"), col("sum_a"), col("sum_e"), col("sum_v"),
        when(col("sum_v") > 0.0, greatest(col("adiff") - 0.5, lit(0.0))
          * greatest(col("adiff") - 0.5, lit(0.0)) / col("sum_v")).as("cmh"),
        when(col("or_den") > 0.0, col("or_num") / col("or_den")).as("or_mh"))
  }

  /** Full R×C contingency grid for k27: observed lang × source counts
    * with absent combinations as GENUINE ZERO CELLS (they contribute
    * (0−E)²/E = E to the statistic — dropping them would understate χ²).
    * Grid = distinct-margins cross join (bounded, broadcast), zero-filled.
    */
  private def chisqCells(s: org.apache.spark.sql.SparkSession, d: String) = {
    val seen = Tables.table(s, d, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("obs"))
    seen.select("lang").distinct()
      .crossJoin(broadcast(seen.select("source").distinct()))
      .join(seen, Seq("lang", "source"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
  }

  /** Survival subject table for k28: one row per user — cohort (user-key
    * parity), integer duration in hours from first event to first
    * 'purchase' (event = 1) or to the last observed event (right-censored,
    * event = 0). ONE aggregate over events; durations are exact integer
    * microsecond arithmetic floored to hours.
    */
  private[graft] def kmSubjects(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        min(unix_micros(col("ts"))).as("entry_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("purch_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(
        when(col("user_id") % 2 === 0, "cohort_a").otherwise("cohort_b").as("grp"),
        expr("(coalesce(purch_us, last_us) - entry_us) div 3600000000")
          .as("duration_h"),
        when(col("purch_us").isNotNull, 1L).otherwise(0L).as("event"))

  /** Competing-risks subject table for k36: per user, first PURCHASE
    * (cause 1, conversion) races first ERROR (cause 2, failure); whichever
    * strikes first is the event (tie → cause 1, deterministic), neither →
    * censored (cause 0) at last activity. ONE events aggregate; exact
    * integer hour durations.
    */
  private[graft] def cifSubjects(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(
        min(unix_micros(col("ts"))).as("entry_us"),
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("p_us"),
        min(when(col("event_type") === "error", unix_micros(col("ts"))))
          .as("e_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .select(
        when(col("user_id") % 2 === 0, "cohort_a").otherwise("cohort_b").as("grp"),
        expr("""(coalesce(CASE WHEN p_us IS NOT NULL AND (e_us IS NULL OR p_us <= e_us)
               |              THEN p_us
               |              WHEN e_us IS NOT NULL THEN e_us END, last_us)
               | - entry_us) div 3600000000""".stripMargin.replace("\n", " "))
          .as("duration_h"),
        when(col("p_us").isNotNull &&
          (col("e_us").isNull || col("p_us") <= col("e_us")), 1L)
          .when(col("e_us").isNotNull, 2L).otherwise(0L).as("cause"))

  /** DuckDB mirror of [[kmSubjects]] + per-(grp, duration) counts. */
  private val kmSubjSql =
    """km_subj AS (
      |  SELECT CASE WHEN user_id % 2 = 0 THEN 'cohort_a' ELSE 'cohort_b' END AS grp,
      |         (coalesce(purch_us, last_us) - entry_us) // 3600000000 AS duration_h,
      |         CASE WHEN purch_us IS NOT NULL THEN 1 ELSE 0 END AS event
      |  FROM (
      |    SELECT user_id, min(epoch_us(ts)) AS entry_us,
      |           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS purch_us,
      |           max(epoch_us(ts)) AS last_us
      |    FROM events GROUP BY 1)),
      |km_dur AS (
      |  SELECT grp, duration_h, CAST(count(*) AS BIGINT) AS n_all,
      |         CAST(sum(event) AS BIGINT) AS d
      |  FROM km_subj GROUP BY 1, 2)""".stripMargin

  /** Shared per-event-time at-risk CTE chain (lr_grid → lr_d): DuckDB
    * mirror of [[graft.ops.Survival.riskTable]]'s union-and-running-count
    * construction. Used by BOTH the k28 log-rank oracle and the k35 Cox
    * risk-table oracle so a future fix to the at-risk window can never
    * leave the two oracles silently disagreeing about the same table.
    */
  private val lrRiskSql =
    """lr_grid AS (SELECT DISTINCT duration_h AS t FROM km_dur WHERE d > 0),
      |lr_groups AS (SELECT DISTINCT grp FROM km_subj),
      |lr_u AS (
      |  SELECT grp, duration_h AS t, n_all AS w, 0 AS is_grid FROM km_dur
      |  UNION ALL
      |  SELECT grp, t, CAST(0 AS BIGINT), 1 FROM lr_grid CROSS JOIN lr_groups),
      |lr_risk AS (
      |  SELECT grp, t,
      |         CAST(sum(w) OVER (PARTITION BY grp ORDER BY t DESC, is_grid ASC
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at,
      |         is_grid
      |  FROM lr_u),
      |lr_d AS (
      |  SELECT r.grp, r.t, r.n_at, coalesce(c.d, 0) AS d
      |  FROM lr_risk r LEFT JOIN km_dur c ON c.grp = r.grp AND c.duration_h = r.t
      |  WHERE r.is_grid = 1)""".stripMargin

  /** Shared statistic-chain CTE bodies: each is used VERBATIM by the
    * statistic oracle AND its inference oracle (which appends the CDF
    * replay + [[SqlOracles.bhTail]]), so a chain fix can never make the
    * two silently diverge.
    */
  private val anovaChainSql: String =
    """, bg AS (
      |  SELECT b.probe_id, CAST(round(b.beta * 997) AS BIGINT) AS k, s.run
      |  FROM beta b JOIN sheet s USING (sample_id)),
      |m AS (
      |  SELECT probe_id, count(*) AS n,
      |         CAST(sum(k) AS BIGINT) AS s, CAST(sum(k * k) AS BIGINT) AS ss,
      |         CAST(sum(CASE WHEN run = 'run_0' THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(sum(CASE WHEN run = 'run_1' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN run = 'run_2' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(sum(CASE WHEN run = 'run_0' THEN k ELSE 0 END) AS BIGINT) AS s0,
      |         CAST(sum(CASE WHEN run = 'run_1' THEN k ELSE 0 END) AS BIGINT) AS s1,
      |         CAST(sum(CASE WHEN run = 'run_2' THEN k ELSE 0 END) AS BIGINT) AS s2
      |  FROM bg GROUP BY 1),
      |e AS (
      |  SELECT probe_id, n, n0, n1, n2,
      |         (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |          + CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |          + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
      |         CAST(ss AS DOUBLE)
      |         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS sst
      |  FROM m)""".stripMargin

  private val kwChainSql: String =
    """, bg AS (
      |  SELECT b.probe_id, b.beta, s.run
      |  FROM beta b JOIN sheet s USING (sample_id)),
      |cells AS (
      |  SELECT probe_id, beta,
      |         CAST(sum(CASE WHEN run = 'run_0' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN run = 'run_1' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN run = 'run_2' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM bg GROUP BY 1, 2),
      |r AS (
      |  SELECT *, c0 + c1 + c2 AS t,
      |         sum(c0 + c1 + c2) OVER (PARTITION BY probe_id ORDER BY beta
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM cells),
      |a AS (
      |  SELECT probe_id, count(*) AS ncells,
      |         CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1,
      |         CAST(sum(c2) AS BIGINT) AS n2,
      |         CAST(sum(c0 * (2 * cum - (t - 1))) AS BIGINT) AS r0_2,
      |         CAST(sum(c1 * (2 * cum - (t - 1))) AS BIGINT) AS r1_2,
      |         CAST(sum(c2 * (2 * cum - (t - 1))) AS BIGINT) AS r2_2,
      |         CAST(sum(t * t * t - t) AS BIGINT) AS ties
      |  FROM r GROUP BY 1),
      |e AS (
      |  SELECT probe_id, n0 + n1 + n2 AS n, n0, n1, n2,
      |         (3.0 / (CAST(n0 + n1 + n2 AS DOUBLE) * CAST(n0 + n1 + n2 + 1 AS DOUBLE))
      |          * (CAST(r0_2 AS DOUBLE) * CAST(r0_2 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |             + CAST(r1_2 AS DOUBLE) * CAST(r1_2 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |             + CAST(r2_2 AS DOUBLE) * CAST(r2_2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |          - 3.0 * CAST(n0 + n1 + n2 + 1 AS DOUBLE))
      |         / (1.0 - CAST(ties AS DOUBLE)
      |                  / (CAST(n0 + n1 + n2 AS DOUBLE) * CAST(n0 + n1 + n2 AS DOUBLE)
      |                     * CAST(n0 + n1 + n2 AS DOUBLE)
      |                     - CAST(n0 + n1 + n2 AS DOUBLE))) AS h
      |  FROM a
      |  WHERE n0 >= 2 AND n1 >= 2 AND n2 >= 2 AND ncells > 1)""".stripMargin

  private val jbChainSql: String =
    """, bk AS (
      |  SELECT probe_id, CAST(round(beta * 997) AS BIGINT) AS k FROM beta),
      |m AS (
      |  SELECT probe_id, count(*) AS n, CAST(sum(k) AS BIGINT) AS s1,
      |         CAST(sum(k * k) AS BIGINT) AS s2,
      |         CAST(sum(k * k * k) AS BIGINT) AS s3,
      |         CAST(sum(k * k * k * k) AS BIGINT) AS s4
      |  FROM bk GROUP BY 1),
      |c AS (
      |  SELECT probe_id, n, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
      |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
      |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
      |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
      |  FROM m),
      |cm AS (
      |  SELECT probe_id, n,
      |         e2 - mu * mu AS m2,
      |         e3 - 3.0 * mu * e2 + 2.0 * mu * mu * mu AS m3,
      |         e4 - 4.0 * mu * e3 + 6.0 * mu * mu * e2
      |            - 3.0 * mu * mu * mu * mu AS m4
      |  FROM c),
      |st AS (
      |  SELECT probe_id, n, m3 / (m2 * sqrt(m2)) AS skew,
      |         m4 / (m2 * m2) AS kurt
      |  FROM cm WHERE n >= 8 AND m2 > 0.0)""".stripMargin

  private val spearmanChainSql: String =
    """, cells AS (
      |  SELECT sample_id, beta, count(*) AS t FROM beta GROUP BY 1, 2),
      |rk AS (
      |  SELECT sample_id, beta,
      |         2 * sum(t) OVER (PARTITION BY sample_id ORDER BY beta
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (t - 1) AS ar2
      |  FROM cells),
      |rkb AS (
      |  SELECT b.probe_id, b.sample_id, CAST(r.ar2 AS HUGEINT) AS ar2
      |  FROM beta b JOIN rk r ON b.sample_id = r.sample_id AND b.beta = r.beta),
      |m AS (
      |  SELECT a.sample_id AS sa, b.sample_id AS sb,
      |         CAST(count(*) AS HUGEINT) AS n,
      |         sum(a.ar2) AS sx, sum(b.ar2) AS sy,
      |         sum(a.ar2 * a.ar2) AS sxx, sum(b.ar2 * b.ar2) AS syy,
      |         sum(a.ar2 * b.ar2) AS sxy
      |  FROM rkb a JOIN rkb b ON a.probe_id = b.probe_id AND a.sample_id < b.sample_id
      |  GROUP BY 1, 2),
      |srho AS (
      |  SELECT sa, sb, CAST(n AS BIGINT) AS n_shared,
      |         CAST(n * sxy - sx * sy AS DOUBLE)
      |           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |                  * CAST(n * syy - sy * sy AS DOUBLE)) AS rho
      |  FROM m
      |  WHERE n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE)
      |                   * CAST(n * syy - sy * sy AS DOUBLE) > 0.0)""".stripMargin

  private val bfChainSql: String =
    """, bg AS (
      |  SELECT b.probe_id, s.run, CAST(round(b.beta * 997) AS BIGINT) AS k
      |  FROM beta b JOIN sheet s USING (sample_id)),
      |med AS (
      |  SELECT probe_id, run, quantile_cont(k, 0.5) AS med
      |  FROM bg GROUP BY 1, 2),
      |z AS (
      |  SELECT bg.probe_id, bg.run,
      |         abs(bg.k * 2 - CAST(round(m.med * 2) AS BIGINT)) AS z2
      |  FROM bg JOIN med m USING (probe_id, run)),
      |m AS (
      |  SELECT probe_id, count(*) AS n,
      |         CAST(sum(z2) AS BIGINT) AS sz, CAST(sum(z2 * z2) AS BIGINT) AS szz,
      |         CAST(sum(CASE WHEN run = 'run_0' THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(sum(CASE WHEN run = 'run_1' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN run = 'run_2' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(sum(CASE WHEN run = 'run_0' THEN z2 ELSE 0 END) AS BIGINT) AS s0,
      |         CAST(sum(CASE WHEN run = 'run_1' THEN z2 ELSE 0 END) AS BIGINT) AS s1,
      |         CAST(sum(CASE WHEN run = 'run_2' THEN z2 ELSE 0 END) AS BIGINT) AS s2
      |  FROM z GROUP BY 1),
      |e AS (
      |  SELECT probe_id, n, n0, n1, n2,
      |         (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)
      |          + CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |          + CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |         - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
      |         CAST(szz AS DOUBLE)
      |         - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / CAST(n AS DOUBLE) AS sst
      |  FROM m)""".stripMargin

  private def ksChain(pfx: String): String =
    s""", ${pfx}bg AS (
      |  SELECT b.probe_id, b.beta, s."group" AS grp
      |  FROM beta b JOIN sheet s USING (sample_id)),
      |${pfx}cells AS (
      |  SELECT probe_id, beta,
      |         CAST(sum(CASE WHEN grp = 'WT' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN grp = 'MUT' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM ${pfx}bg GROUP BY 1, 2),
      |${pfx}r AS (
      |  SELECT *,
      |         sum(c1) OVER (PARTITION BY probe_id ORDER BY beta
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
      |         sum(c2) OVER (PARTITION BY probe_id ORDER BY beta
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
      |         sum(c1) OVER (PARTITION BY probe_id) AS n1,
      |         sum(c2) OVER (PARTITION BY probe_id) AS n2
      |  FROM ${pfx}cells),
      |${pfx}a AS (
      |  SELECT probe_id, CAST(max(n1) AS BIGINT) AS n1,
      |         CAST(max(n2) AS BIGINT) AS n2,
      |         CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS gap
      |  FROM ${pfx}r GROUP BY 1)""".stripMargin

  private val ksChainSql: String = ksChain("")

  /** Mann–Whitney chain (k10 + its inference): tie-cell counts → doubled
    * ranks → exact integer moments → the z double sequence, ending in CTE
    * `mw` (probe_id, n1, n2, u1, z — z UNROUNDED so the inference oracle
    * can feed it to the erfc replay).
    */
  private def mwChain(pfx: String): String =
    s""", ${pfx}bg AS (
       |  SELECT b.probe_id, b.beta, s."group" AS grp
       |  FROM beta b JOIN sheet s USING (sample_id)),
       |${pfx}cells AS (
       |  SELECT probe_id, beta,
       |         CAST(sum(CASE WHEN grp = 'WT' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |         CAST(sum(CASE WHEN grp = 'MUT' THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM ${pfx}bg GROUP BY 1, 2),
       |${pfx}r AS (
       |  SELECT *, c1 + c2 AS t,
       |         sum(c1 + c2) OVER (PARTITION BY probe_id ORDER BY beta
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM ${pfx}cells),
       |${pfx}a AS (
       |  SELECT probe_id, CAST(sum(c1) AS BIGINT) AS n1,
       |         CAST(sum(c2) AS BIGINT) AS n2, count(*) AS ncells,
       |         CAST(sum(c1 * (2 * cum - (t - 1))) AS BIGINT) AS r1_2,
       |         CAST(sum(t * t * t - t) AS BIGINT) AS ties
       |  FROM ${pfx}r GROUP BY 1),
       |${pfx}mw AS (
       |  SELECT probe_id, n1, n2,
       |         CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
       |         (CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
       |          - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
       |         / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
       |                * (CAST(n1 + n2 AS DOUBLE) + 1.0
       |                   - CAST(ties AS DOUBLE)
       |                     / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0)))) AS z
       |  FROM ${pfx}a WHERE ncells > 1 AND n1 >= 3 AND n2 >= 3)""".stripMargin

  private val mwChainSql: String = mwChain("")

  /** Mann–Kendall chain (k22 + its inference): exact pair-sign S, tie-
    * corrected variance, continuity-corrected z — ending in CTE `mk`
    * (probe_id, n, s_stat, z UNROUNDED).
    */
  private val mkChainSql: String =
    """, bk AS (
      |  SELECT probe_id, sample_id, CAST(round(beta * 997) AS BIGINT) AS k
      |  FROM beta),
      |pairs AS (
      |  SELECT a.probe_id,
      |         CAST(sum(CASE WHEN b.k > a.k THEN 1
      |                       WHEN b.k < a.k THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM bk a JOIN bk b
      |    ON a.probe_id = b.probe_id AND a.sample_id < b.sample_id
      |  GROUP BY 1),
      |ties AS (
      |  SELECT probe_id, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum,
      |         CAST(sum(t) AS BIGINT) AS n
      |  FROM (SELECT probe_id, k, count(*) AS t FROM bk GROUP BY 1, 2)
      |  GROUP BY 1),
      |j AS (
      |  SELECT p.probe_id, t.n, p.s_stat,
      |         (CAST(t.n AS DOUBLE) * (CAST(t.n AS DOUBLE) - 1.0)
      |            * (2.0 * CAST(t.n AS DOUBLE) + 5.0)
      |          - CAST(t.tsum AS DOUBLE)) / 18.0 AS var_s
      |  FROM pairs p JOIN ties t USING (probe_id)),
      |mk AS (
      |  SELECT probe_id, n, s_stat,
      |         CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0) / sqrt(var_s)
      |              WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0) / sqrt(var_s)
      |              ELSE 0.0 END AS z
      |  FROM j WHERE n >= 8 AND var_s > 0.0)""".stripMargin

  /** Log-rank chain (k28 + its inference), appended after kmSubjSql +
    * lrRiskSql: pooled event-time O/E/V running sums ending in CTE `lr`
    * (grp_a, n_times, o_a, e_a, var_a, chi2 UNROUNDED).
    */
  private val lrChainSql: String =
    """lr_t AS (
      |  SELECT t,
      |         CAST(sum(CASE WHEN grp = 'cohort_a' THEN n_at ELSE 0 END) AS BIGINT) AS n_a,
      |         CAST(sum(CASE WHEN grp <> 'cohort_a' THEN n_at ELSE 0 END) AS BIGINT) AS n_b,
      |         CAST(sum(CASE WHEN grp = 'cohort_a' THEN d ELSE 0 END) AS BIGINT) AS d_a,
      |         CAST(sum(CASE WHEN grp <> 'cohort_a' THEN d ELSE 0 END) AS BIGINT) AS d_b
      |  FROM lr_d GROUP BY 1),
      |lr_ev AS (
      |  SELECT t, d_a,
      |         CAST(d_a + d_b AS DOUBLE)
      |           * (CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) AS e_a,
      |         CASE WHEN n_a + n_b > 1 THEN
      |           CAST(d_a + d_b AS DOUBLE)
      |             * (CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |             * (1.0 - CAST(n_a AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
      |             * (CAST(n_a + n_b AS DOUBLE) - CAST(d_a + d_b AS DOUBLE))
      |             / (CAST(n_a + n_b AS DOUBLE) - 1.0)
      |         ELSE 0.0 END AS v_a
      |  FROM lr_t),
      |lr_run AS (
      |  SELECT t,
      |         CAST(sum(d_a) OVER wasc AS BIGINT) AS o_a,
      |         sum(e_a) OVER wasc AS e_a,
      |         sum(v_a) OVER wasc AS var_a,
      |         CAST(count(*) OVER wasc AS BIGINT) AS n_times,
      |         lead(t, 1) OVER (ORDER BY t ASC) AS nxt
      |  FROM lr_ev
      |  WINDOW wasc AS (ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |lr AS (
      |  SELECT 'cohort_a' AS grp_a, n_times, o_a, e_a, var_a,
      |         (CAST(o_a AS DOUBLE) - e_a) * (CAST(o_a AS DOUBLE) - e_a) / var_a AS chi2
      |  FROM lr_run WHERE nxt IS NULL)""".stripMargin

  /** CMH chain (k32 + its inference): per-run 2×2s → hypergeometric E/V →
    * ordered running sums, ending in CTE `cmh` (n_strata, sum_a, sum_e,
    * sum_v, cmh, or_mh — cmh/or_mh UNROUNDED).
    */
  private val cmhChainSql: String =
    """, ch_qc AS (
      |  SELECT q.sample_id, (q.sk * 20 >= q.nn * 1010) AS fail,
      |         (s."group" = 'WT') AS wt, s.run
      |  FROM (SELECT sample_id,
      |               CAST(sum(CAST(round(pval * 1010) AS BIGINT)) AS BIGINT) AS sk,
      |               count(*) AS nn
      |        FROM detp GROUP BY 1) q
      |  JOIN sheet s USING (sample_id)),
      |ch_tab AS (
      |  SELECT run,
      |         CAST(sum(CASE WHEN fail AND wt THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |         CAST(sum(CASE WHEN fail AND NOT wt THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |         CAST(sum(CASE WHEN NOT fail AND wt THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |         CAST(sum(CASE WHEN NOT fail AND NOT wt THEN 1 ELSE 0 END) AS BIGINT) AS dd
      |  FROM ch_qc GROUP BY 1),
      |ch_m AS (
      |  SELECT run, a, b, c, dd, a + b AS r1, c + dd AS r2, a + c AS c1,
      |         b + dd AS c2, a + b + c + dd AS n
      |  FROM ch_tab WHERE a + b + c + dd > 1),
      |ch_ev AS (
      |  SELECT run, a, b, c, dd, n,
      |         CAST(r1 AS DOUBLE) * CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE) AS e,
      |         CAST(r1 AS DOUBLE) * CAST(r2 AS DOUBLE) * CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)
      |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS v
      |  FROM ch_m),
      |ch_run AS (
      |  SELECT run,
      |         CAST(sum(a) OVER wr AS BIGINT) AS sum_a,
      |         sum(e) OVER wr AS sum_e,
      |         sum(v) OVER wr AS sum_v,
      |         sum(CAST(a AS DOUBLE) * CAST(dd AS DOUBLE) / CAST(n AS DOUBLE)) OVER wr AS or_num,
      |         sum(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) OVER wr AS or_den,
      |         CAST(count(*) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_strata,
      |         row_number() OVER (ORDER BY run DESC) AS rn
      |  FROM ch_ev
      |  WINDOW wr AS (ORDER BY run ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |cmh AS (
      |  SELECT n_strata, sum_a, sum_e, sum_v,
      |         CASE WHEN sum_v > 0.0
      |              THEN greatest(abs(CAST(sum_a AS DOUBLE) - sum_e) - 0.5, 0.0)
      |                   * greatest(abs(CAST(sum_a AS DOUBLE) - sum_e) - 0.5, 0.0) / sum_v
      |         END AS cmh,
      |         CASE WHEN or_den > 0.0 THEN or_num / or_den END AS or_mh
      |  FROM ch_run WHERE rn = 1)""".stripMargin

  /** Dunn post-hoc chain (k37 + its inference): shared-rank tie cells →
    * per-pair z under the pooled KW variance, ending in CTE `dunn`
    * (probe_id, pair, n, ni, nj, z UNROUNDED).
    */
  private val dunnChainSql: String =
    """, bg AS (
      |  SELECT b.probe_id, b.beta, s.run
      |  FROM beta b JOIN sheet s USING (sample_id)),
      |cells AS (
      |  SELECT probe_id, beta,
      |         CAST(sum(CASE WHEN run = 'run_0' THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |         CAST(sum(CASE WHEN run = 'run_1' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |         CAST(sum(CASE WHEN run = 'run_2' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM bg GROUP BY 1, 2),
      |r AS (
      |  SELECT *, c0 + c1 + c2 AS t,
      |         sum(c0 + c1 + c2) OVER (PARTITION BY probe_id ORDER BY beta
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM cells),
      |du_a AS (
      |  SELECT probe_id, count(*) AS ncells,
      |         CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1,
      |         CAST(sum(c2) AS BIGINT) AS n2,
      |         CAST(sum(c0 * (2 * cum - (t - 1))) AS BIGINT) AS r0_2,
      |         CAST(sum(c1 * (2 * cum - (t - 1))) AS BIGINT) AS r1_2,
      |         CAST(sum(c2 * (2 * cum - (t - 1))) AS BIGINT) AS r2_2,
      |         CAST(sum(t * t * t - t) AS BIGINT) AS ties
      |  FROM r GROUP BY 1
      |  HAVING n0 >= 2 AND n1 >= 2 AND n2 >= 2 AND count(*) > 1),
      |du_p AS (SELECT * FROM (VALUES (0, 1), (0, 2), (1, 2)) p(gi, gj)),
      |du_j AS (
      |  SELECT probe_id, gi, gj, n0 + n1 + n2 AS n, ties,
      |         CASE gi WHEN 0 THEN n0 WHEN 1 THEN n1 ELSE n2 END AS ni,
      |         CASE gj WHEN 0 THEN n0 WHEN 1 THEN n1 ELSE n2 END AS nj,
      |         CASE gi WHEN 0 THEN r0_2 WHEN 1 THEN r1_2 ELSE r2_2 END AS ri,
      |         CASE gj WHEN 0 THEN r0_2 WHEN 1 THEN r1_2 ELSE r2_2 END AS rj
      |  FROM du_a CROSS JOIN du_p),
      |du_s AS (
      |  SELECT *,
      |         (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 12.0
      |          - CAST(ties AS DOUBLE) / (12.0 * (CAST(n AS DOUBLE) - 1.0)))
      |         * (1.0 / CAST(ni AS DOUBLE) + 1.0 / CAST(nj AS DOUBLE)) AS sigma2
      |  FROM du_j),
      |dunn AS (
      |  SELECT probe_id,
      |         'run_' || CAST(gi AS VARCHAR) || ' vs run_' || CAST(gj AS VARCHAR) AS pair,
      |         n, ni, nj,
      |         (CAST(ri AS DOUBLE) / (2.0 * CAST(ni AS DOUBLE))
      |          - CAST(rj AS DOUBLE) / (2.0 * CAST(nj AS DOUBLE))) / sqrt(sigma2) AS z
      |  FROM du_s WHERE sigma2 > 0.0)""".stripMargin

  /** Welch chain (k17/k40 + inference): group-conditional exact integer
    * moments → the t / Welch–Satterthwaite df double sequence, ending in
    * CTE `welch` (probe_id, n1, n2, delta_beta, se_beta, t, df — ALL
    * unrounded, mirroring [[welchT]]'s output column for column).
    */
  private def welchChain(pfx: String): String =
    s""", ${pfx}bg AS (
      |  SELECT b.probe_id, CAST(round(b.beta * 997) AS BIGINT) AS k,
      |         s."group" AS grp
      |  FROM beta b JOIN sheet s USING (sample_id)),
      |${pfx}m AS (
      |  SELECT probe_id,
      |         CAST(sum(CASE WHEN grp = 'WT' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |         CAST(sum(CASE WHEN grp = 'WT' THEN k ELSE 0 END) AS BIGINT) AS s1,
      |         CAST(sum(CASE WHEN grp = 'WT' THEN k * k ELSE 0 END) AS BIGINT) AS ss1,
      |         CAST(sum(CASE WHEN grp = 'MUT' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |         CAST(sum(CASE WHEN grp = 'MUT' THEN k ELSE 0 END) AS BIGINT) AS s2,
      |         CAST(sum(CASE WHEN grp = 'MUT' THEN k * k ELSE 0 END) AS BIGINT) AS ss2
      |  FROM ${pfx}bg GROUP BY 1),
      |${pfx}e AS (
      |  SELECT probe_id, n1, n2,
      |         (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      |           / (CAST(n1 AS DOUBLE) - 1.0) / CAST(n1 AS DOUBLE) AS se1,
      |         (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |           / (CAST(n2 AS DOUBLE) - 1.0) / CAST(n2 AS DOUBLE) AS se2,
      |         CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |           - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS md
      |  FROM ${pfx}m WHERE n1 >= 3 AND n2 >= 3),
      |${pfx}welch AS (
      |  SELECT probe_id, n1, n2,
      |         md / 997.0 AS delta_beta,
      |         sqrt(se1 + se2) / 997.0 AS se_beta,
      |         md / sqrt(se1 + se2) AS t,
      |         (se1 + se2) * (se1 + se2)
      |           / (se1 * se1 / (CAST(n1 AS DOUBLE) - 1.0)
      |              + se2 * se2 / (CAST(n2 AS DOUBLE) - 1.0)) AS df
      |  FROM ${pfx}e WHERE se1 + se2 > 0.0)""".stripMargin

  private val welchChainSql: String = welchChain("")

  /** One-way ANOVA across the three runs over [[levelMoments]] by
    * [[runLevels]]: keeps probes with at least 2 values per run and a
    * positive within-run sum of squares, and adds `ssb`, `ssw`, `df1` = 2,
    * `df2` = n − 3 and `f`. k13 runs it on the beta grid, k18 on the
    * Brown–Forsythe deviations, and k39 reads its sums of squares.
    */
  private def oneWayAnova(m: DataFrame) = {
    val grand = d2("s") * d2("s") / d2("n")
    val ssb = (d2("s0") * d2("s0") / d2("n0")
      + d2("s1") * d2("s1") / d2("n1")
      + d2("s2") * d2("s2") / d2("n2")) - grand
    m.filter(col("n0") >= 2 && col("n1") >= 2 && col("n2") >= 2)
      .withColumn("ssb", ssb).withColumn("ssw", d2("ss") - grand - col("ssb"))
      .filter(col("ssw") > 0.0)
      .withColumn("df1", lit(2L)).withColumn("df2", col("n") - lit(3L))
      .withColumn("f", (col("ssb") / 2.0) / (col("ssw") / (d2("n") - 3.0)))
  }

  /** k13's run moments of the beta grid, through [[oneWayAnova]]. */
  private def anovaSs(s: org.apache.spark.sql.SparkSession, d: String) =
    oneWayAnova(levelMoments(Tables.betaGrid(s, d), Seq("probe_id"), col("k"), runLevels))

  /** Shared K13 statistic pass: per-probe one-way ANOVA across the three
    * instrument runs in ONE hash aggregate — run-conditional integer
    * moments (beta scaled to its exact 0..996 grid, the k08 trick), then
    * SSB/SSW as a fixed double sequence over the pivoted run columns (no
    * data-dependent summation order → bit-reproducible). Unrounded output
    * `(probe_id, n, ssb, ssw, df1, df2, f)`; k13_anova_f rounds it for the
    * oracle, k13_anova_inference feeds `f` to `graft_f_sf`.
    */
  private[graft] def anovaF(s: org.apache.spark.sql.SparkSession, d: String) =
    anovaSs(s, d).select("probe_id", "n", "ssb", "ssw", "df1", "df2", "f")

  /** Shared K38 statistic pass: DerSimonian–Laird random-effects
    * meta-analysis of the WT−MUT effect ACROSS the three instrument runs
    * (the multi-site/batch pattern, public: DerSimonian & Laird 1986):
    * per-run Welch effect y_r = Δ group means and its SE² from ONE hash
    * aggregate of 12 run×group conditional integer moments; Q, τ², and
    * the re-weighted pooled estimate as a FIXED pivoted double sequence
    * (runs are explicit columns — no data-dependent summation anywhere,
    * the k13 move). Unrounded
    * `(probe_id, y_fe, q, tau2, y_re, se_re)` in 0..996 grid units.
    */
  private[graft] def randomEffects(s: org.apache.spark.sql.SparkSession, d: String) = {
    val m = levelMoments(Tables.betaGrid(s, d), Seq("probe_id"), col("k"), runGroupLevels)
      .filter((0 to 2).map(r =>
        col(s"n1_$r") >= 2 && col(s"n2_$r") >= 2).reduce(_ && _))
    def y(r: Int) = meanDiff(s"1_$r", s"2_$r")
    def v(r: Int) = seSq(s"1_$r") + seSq(s"2_$r")
    val withYV = m
      .withColumn("y0", y(0)).withColumn("y1", y(1)).withColumn("y2", y(2))
      .withColumn("v0", v(0)).withColumn("v1", v(1)).withColumn("v2", v(2))
      .filter(col("v0") > 0.0 && col("v1") > 0.0 && col("v2") > 0.0)
      .withColumn("w0", lit(1.0) / col("v0"))
      .withColumn("w1", lit(1.0) / col("v1"))
      .withColumn("w2", lit(1.0) / col("v2"))
      .withColumn("sw", col("w0") + col("w1") + col("w2"))
      .withColumn("swy",
        col("w0") * col("y0") + col("w1") * col("y1") + col("w2") * col("y2"))
      .withColumn("swy2",
        col("w0") * col("y0") * col("y0") + col("w1") * col("y1") * col("y1")
          + col("w2") * col("y2") * col("y2"))
      .withColumn("sw2",
        col("w0") * col("w0") + col("w1") * col("w1") + col("w2") * col("w2"))
      .withColumn("q", col("swy2") - col("swy") * col("swy") / col("sw"))
      .withColumn("tau2",
        greatest((col("q") - lit(2.0)) / (col("sw") - col("sw2") / col("sw")),
          lit(0.0)))
      .withColumn("u0", lit(1.0) / (col("v0") + col("tau2")))
      .withColumn("u1", lit(1.0) / (col("v1") + col("tau2")))
      .withColumn("u2", lit(1.0) / (col("v2") + col("tau2")))
      .withColumn("su", col("u0") + col("u1") + col("u2"))
    withYV.select(col("probe_id"),
      (col("swy") / col("sw")).as("y_fe"), col("q"), col("tau2"),
      ((col("u0") * col("y0") + col("u1") * col("y1") + col("u2") * col("y2"))
        / col("su")).as("y_re"),
      (lit(1.0) / sqrt(col("su"))).as("se_re"))
  }

  /** Shared oracle CTE prefix for the k42/k43/k44 regression family:
    * covariate panel, the nine exact integer moments (HAVING n ≥ 8),
    * exact-bigint det/cofactors (det > 0 rank gate), and the Cramer
    * coefficient solve — the SQL mirror of [[probeOlsMoments]].
    */
  private val olsCte: String =
    """, ols_cov AS (
      |  SELECT printf('S%03d', s_suppkey) AS sample_id,
      |         CAST(s_suppkey % 2 AS BIGINT) AS g,
      |         CAST(s_suppkey * 13 % 41 AS BIGINT) AS a
      |  FROM supplier),
      |ols_m AS (
      |  SELECT b.probe_id, CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(c.g) AS BIGINT) AS sg,
      |         CAST(sum(c.a) AS BIGINT) AS sa,
      |         CAST(sum(c.a * c.a) AS BIGINT) AS saa,
      |         CAST(sum(c.g * c.a) AS BIGINT) AS sga,
      |         CAST(sum(k) AS BIGINT) AS sy,
      |         CAST(sum(c.g * k) AS BIGINT) AS sgy,
      |         CAST(sum(c.a * k) AS BIGINT) AS say,
      |         CAST(sum(k * k) AS BIGINT) AS syy
      |  FROM (SELECT probe_id, sample_id,
      |               CAST(round(beta * 997) AS BIGINT) AS k FROM beta) b
      |  JOIN ols_cov c USING (sample_id)
      |  GROUP BY 1 HAVING count(*) >= 8),
      |ols_d AS (
      |  SELECT *,
      |         n * (sg * saa - sga * sga) - sg * (sg * saa - sga * sa)
      |           + sa * (sg * sga - sg * sa) AS det,
      |         sg * saa - sga * sga AS cof00,
      |         n * saa - sa * sa AS cof11,
      |         n * sg - sg * sg AS cof22
      |  FROM ols_m),
      |ols_b AS (
      |  SELECT *,
      |         (CAST(sy AS DOUBLE) * (CAST(sg AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sga AS DOUBLE) * CAST(sga AS DOUBLE))
      |          - CAST(sg AS DOUBLE) * (CAST(sgy AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sga AS DOUBLE) * CAST(say AS DOUBLE))
      |          + CAST(sa AS DOUBLE) * (CAST(sgy AS DOUBLE) * CAST(sga AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(say AS DOUBLE)))
      |         / CAST(det AS DOUBLE) AS b0,
      |         (CAST(n AS DOUBLE) * (CAST(sgy AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sga AS DOUBLE) * CAST(say AS DOUBLE))
      |          - CAST(sy AS DOUBLE) * (CAST(sg AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sga AS DOUBLE) * CAST(sa AS DOUBLE))
      |          + CAST(sa AS DOUBLE) * (CAST(sg AS DOUBLE) * CAST(say AS DOUBLE) - CAST(sgy AS DOUBLE) * CAST(sa AS DOUBLE)))
      |         / CAST(det AS DOUBLE) AS b1,
      |         (CAST(n AS DOUBLE) * (CAST(sg AS DOUBLE) * CAST(say AS DOUBLE) - CAST(sgy AS DOUBLE) * CAST(sga AS DOUBLE))
      |          - CAST(sg AS DOUBLE) * (CAST(sg AS DOUBLE) * CAST(say AS DOUBLE) - CAST(sgy AS DOUBLE) * CAST(sa AS DOUBLE))
      |          + CAST(sy AS DOUBLE) * (CAST(sg AS DOUBLE) * CAST(sga AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sa AS DOUBLE)))
      |         / CAST(det AS DOUBLE) AS b2
      |  FROM ols_d WHERE det > 0)""".stripMargin

  /** k03 pass-1 DuckDB restatement — shared by k03_dmp_pass1 (Scala API)
    * and e15_sql_tvf_pass1 (the same computation driven through the
    * graft_dmp_pass1 SQL table function): both must hash-match this
    * exactly, which is itself the TVF-parity proof.
    */
  private val dmpPass1OracleSql: String = ctes +
    s""", bg AS (
       |  SELECT b.probe_id, s."group" AS grp, ${SqlOracles.mValueClamped("b.beta")} AS m
       |  FROM beta b JOIN sheet s USING (sample_id)),
       |agg AS (
       |  SELECT probe_id,
       |         count(CASE WHEN grp = 'WT' THEN 1 END) AS n1,
       |         count(CASE WHEN grp = 'MUT' THEN 1 END) AS n2,
       |         avg(CASE WHEN grp = 'WT' THEN m END) AS mean1,
       |         avg(CASE WHEN grp = 'MUT' THEN m END) AS mean2,
       |         var_samp(CASE WHEN grp = 'WT' THEN m END) AS var1,
       |         var_samp(CASE WHEN grp = 'MUT' THEN m END) AS var2
       |  FROM bg GROUP BY 1)
       |SELECT probe_id, n1, n2,
       |       round(mean1 - mean2, 4) AS logfc,
       |       round((CAST(n1 - 1 AS DOUBLE) * var1 + CAST(n2 - 1 AS DOUBLE) * var2)
       |             / CAST(n1 + n2 - 2 AS DOUBLE), 4) AS s2_pooled
       |FROM agg WHERE n1 >= 3 AND n2 >= 3 ORDER BY probe_id""".stripMargin

  /** k03 UNROUNDED moments chain ending in CTE `dm_mom` (probe_id, n1,
    * n2, logfc, df, s2 — Dmp.moments column for column), shared by the
    * moderated/volcano oracles; [[SqlOracles.ebayesPriorSql]] consumes it
    * with pfx = "dm_".
    */
  private val dmpMomSql: String =
    s""", dm_bg AS (
       |  SELECT b.probe_id, s."group" AS grp, ${SqlOracles.mValueClamped("b.beta")} AS m
       |  FROM beta b JOIN sheet s USING (sample_id)),
       |dm_agg AS (
       |  SELECT probe_id,
       |         count(CASE WHEN grp = 'WT' THEN 1 END) AS n1,
       |         count(CASE WHEN grp = 'MUT' THEN 1 END) AS n2,
       |         avg(CASE WHEN grp = 'WT' THEN m END) AS mean1,
       |         avg(CASE WHEN grp = 'MUT' THEN m END) AS mean2,
       |         var_samp(CASE WHEN grp = 'WT' THEN m END) AS var1,
       |         var_samp(CASE WHEN grp = 'MUT' THEN m END) AS var2
       |  FROM dm_bg GROUP BY 1),
       |dm_mom AS (
       |  SELECT probe_id, n1, n2, mean1 - mean2 AS logfc,
       |         CAST(n1 + n2 - 2 AS DOUBLE) AS df,
       |         (CAST(n1 - 1 AS DOUBLE) * var1 + CAST(n2 - 1 AS DOUBLE) * var2)
       |           / CAST(n1 + n2 - 2 AS DOUBLE) AS s2
       |  FROM dm_agg WHERE n1 >= 3 AND n2 >= 3)""".stripMargin

  /** The moderated-statistics tail shared by the k03_dmp_moderated and
    * e14 oracles: eBayes prior → s2_post/t_mod → fractional-df CF p → BH
    * → the significance call. Appends to [[dmpMomSql]]; host WITH must be
    * RECURSIVE.
    */
  private val dmpModeratedTailSql: String =
    SqlOracles.ebayesPriorSql("dm_", None) +
      """,
        |dm_md AS (
        |  SELECT m.probe_id, m.n1, m.n2, m.logfc, m.df, p.d0,
        |         ((p.d0 * p.s02) + m.df * m.s2) / (p.d0 + m.df) AS s2_post
        |  FROM dm_mom m CROSS JOIN dm_prior p),
        |longt AS (
        |  SELECT probe_id, n1, n2, logfc,
        |         logfc / sqrt(s2_post * (1.0 / CAST(n1 AS DOUBLE)
        |                                 + 1.0 / CAST(n2 AS DOUBLE))) AS t,
        |         df + d0 AS df
        |  FROM dm_md)""".stripMargin +
      SqlOracles.studentTFracDfPv("probe_id, n1, n2, logfc") +
      SqlOracles.bhTail("probe_id, n1, n2, logfc, t")

  def all: Seq[Q] = Seq(

    // K3 pass 1 — per-probe two-group M-value moments, pooled variance,
    // logFC (reference lmFit/topTable inputs, /root/reference/plots.R:130-159).
    Q("k03_dmp_pass1", (s, d) => {
      Dmp.moments(Tables.betaGrid(s, d), "WT", "MUT")
        .select(col("probe_id"), col("n1"), col("n2"),
          round(col("logfc"), 4).as("logfc"),
          round(col("s2"), 4).as("s2_pooled"))
        .orderBy("probe_id")
    }, Some(dmpPass1OracleSql)),

    // SQL-surface tier (r8): the k03 lifecycle driven ENTIRELY from SQL
    // through the injected graft_dmp table function — what a platform
    // team exposes to analysts who never touch the Scala API. The TVF
    // builder hands the analyzer the same logical plan as the Scala
    // query, so Catalyst optimizes TVF body + outer query as one plan.
    // FULLY oracle-checked since r9: the moderated surface replays end to
    // end (see k03_dmp_moderated), so the TVF is held to the IDENTICAL
    // DuckDB SQL — full moderated-lifecycle TVF parity, not just pass-1.
    Q("e14_sql_tvf_dmp", (s, d) => {
      s.sql(s"SELECT * FROM graft_dmp('$d') ORDER BY probe_id")
    }, Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") + dmpMomSql +
      dmpModeratedTailSql + "\n" +
      """SELECT probe_id, n1, n2, round(logfc, 6) AS logfc,
        |       round(t, 6) AS t_mod, round(p, 6) AS p_value,
        |       round(fdr, 6) AS fdr,
        |       (fdr < 0.05 AND abs(logfc) > ln(1.5) / ln(2.0)) AS significant
        |FROM f ORDER BY probe_id""".stripMargin)),

    // ... and the fully ORACLE-CHECKED slice of the same SQL surface: the
    // graft_dmp_pass1 TVF must hash-match the identical DuckDB SQL the
    // Scala-API k03_dmp_pass1 matches — TVF parity, end to end.
    Q("e15_sql_tvf_pass1", (s, d) => {
      s.sql(s"SELECT * FROM graft_dmp_pass1('$d') ORDER BY probe_id")
    }, Some(dmpPass1OracleSql)),

    // K3 full — moderated t / p / BH FDR / significance call. FULLY
    // oracle-checked (r9): the whole eBayes lifecycle replays in DuckDB —
    // the method-of-moments prior via digamma/trigamma scalar replays and
    // the driver's exact 200-step early-stop bisection for
    // trigammaInverse (a recursive CTE whose state freezes at the stop),
    // the moderated t row-locally, and p at the FRACTIONAL df + d0
    // through the continued-fraction replay. The driver-side scalars
    // (d0, s0²) agree to ~1e-12 (aggregate moments + bisection width),
    // far inside the round-6 comparison.
    Q("k03_dmp_moderated", (s, d) => {
      Dmp.dmp(Tables.betaGrid(s, d), "WT", "MUT")
        .select(col("probe_id"), col("n1"), col("n2"), r6("logfc"), r6("t_mod"), r6("p_value"),
          r6("fdr"), col("significant"))
        .orderBy("probe_id")
    }, Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") + dmpMomSql +
      dmpModeratedTailSql + "\n" +
      """SELECT probe_id, n1, n2, round(logfc, 6) AS logfc,
        |       round(t, 6) AS t_mod, round(p, 6) AS p_value,
        |       round(fdr, 6) AS fdr,
        |       (fdr < 0.05 AND abs(logfc) > ln(1.5) / ln(2.0)) AS significant
        |FROM f ORDER BY probe_id""".stripMargin)),

    // E3 — the volcano/DMP result table (reference plots.R:139-165,
    // volcano.R:117-166): moderated stats + delta-beta + -log10(p) +
    // sigUp/sigDown/notSig partition (SO4 rbind restated as a tag column).
    Q("k03_volcano_table", (s, d) => {
      // delta_beta rides the moments aggregate (Dmp.dmp extraAggs, r9) —
      // the separate groupBy + probe-keyed join-back cost a second full
      // pass over the joined betas; same groups, same avg, so the value
      // (and the oracle's separate-CTE replay) is unchanged
      Dmp.dmp(Tables.betaGrid(s, d), "WT", "MUT", extraAggs = Seq(
          (avg(when(col("group") === "WT", col("beta"))) -
            avg(when(col("group") === "MUT", col("beta")))).as("delta_beta")))
        .withColumn("neg_log10_p", Fns.negLog10(col("p_value")))
        .withColumn("category",
          when(col("significant") && col("logfc") > 0, "sigUp")
            .when(col("significant") && col("logfc") < 0, "sigDown")
            .otherwise("notSig"))
        .select(col("probe_id"), r6("logfc"), r6("delta_beta"), r6("neg_log10_p"),
          r6("fdr"), col("category"))
        .orderBy("probe_id")
    }, Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") + dmpMomSql +
      dmpModeratedTailSql +
      """,
        |vol_db AS (
        |  SELECT b.probe_id,
        |         avg(CASE WHEN s."group" = 'WT' THEN b.beta END)
        |           - avg(CASE WHEN s."group" = 'MUT' THEN b.beta END) AS delta_beta
        |  FROM beta b JOIN sheet s USING (sample_id) GROUP BY 1)
        |SELECT f.probe_id, round(f.logfc, 6) AS logfc,
        |       round(v.delta_beta, 6) AS delta_beta,
        |       round(CASE WHEN f.p > 0 THEN -log10(f.p) END, 6) AS neg_log10_p,
        |       round(f.fdr, 6) AS fdr,
        |       CASE WHEN f.fdr < 0.05 AND abs(f.logfc) > ln(1.5) / ln(2.0)
        |                 AND f.logfc > 0 THEN 'sigUp'
        |            WHEN f.fdr < 0.05 AND abs(f.logfc) > ln(1.5) / ln(2.0)
        |                 AND f.logfc < 0 THEN 'sigDown'
        |            ELSE 'notSig' END AS category
        |FROM f JOIN vol_db v USING (probe_id)
        |ORDER BY f.probe_id""".stripMargin)),

    // K3 multi-contrast — all comparisons in one job, comparison_id as an
    // extra grouping column (reference 16-contrast variant,
    // Mouse_Microarray_General_Workflow.R:113-146).
    Q("k03_dmp_multicontrast", (s, d) => {
      val bg = Tables.betaGrid(s, d)
        .withColumn("group", concat_ws("_", col("group"), col("run")))
      val contrasts = Seq(
        ("c_run0", "WT_run_0", "MUT_run_0"),
        ("c_run1", "WT_run_1", "MUT_run_1"),
        ("c_run2", "WT_run_2", "MUT_run_2"))
      Dmp.multiContrastMoments(bg, contrasts)
        .select(col("comparison_id"), col("probe_id"), col("n1"), col("n2"),
          round(col("logfc"), 4).as("logfc"),
          round(col("s2"), 4).as("s2_pooled"))
        .orderBy("comparison_id", "probe_id")
    }, Some(ctes +
      s""", bg AS (
         |  SELECT b.probe_id, s."group" || '_' || s.run AS grp,
         |         ${SqlOracles.mValueClamped("b.beta")} AS m
         |  FROM beta b JOIN sheet s USING (sample_id)),
         |c(comparison_id, g1, g2) AS (VALUES
         |  ('c_run0', 'WT_run_0', 'MUT_run_0'),
         |  ('c_run1', 'WT_run_1', 'MUT_run_1'),
         |  ('c_run2', 'WT_run_2', 'MUT_run_2')),
         |j AS (SELECT c.comparison_id, bg.probe_id,
         |             CASE WHEN bg.grp = c.g1 THEN 'A' ELSE 'B' END AS side, bg.m
         |      FROM bg JOIN c ON bg.grp = c.g1 OR bg.grp = c.g2),
         |agg AS (SELECT comparison_id, probe_id,
         |               count(CASE WHEN side = 'A' THEN 1 END) AS n1,
         |               count(CASE WHEN side = 'B' THEN 1 END) AS n2,
         |               avg(CASE WHEN side = 'A' THEN m END) AS m1,
         |               avg(CASE WHEN side = 'B' THEN m END) AS m2,
         |               var_samp(CASE WHEN side = 'A' THEN m END) AS v1,
         |               var_samp(CASE WHEN side = 'B' THEN m END) AS v2
         |        FROM j GROUP BY 1, 2)
         |SELECT comparison_id, probe_id, n1, n2, round(m1 - m2, 4) AS logfc,
         |       round((CAST(n1 - 1 AS DOUBLE) * v1 + CAST(n2 - 1 AS DOUBLE) * v2)
         |             / CAST(n1 + n2 - 2 AS DOUBLE), 4) AS s2_pooled
         |FROM agg WHERE n1 >= 3 AND n2 >= 3
         |ORDER BY comparison_id, probe_id""".stripMargin)),

    // K3 multi-contrast eBayes — per-contrast prior fit + moderated t/p +
    // per-contrast BH, all contrasts in one moments job (reference
    // Mouse_Microarray_General_Workflow.R:113-146 contrasts.fit → eBayes →
    // per-coef topTable). FULLY oracle-checked (r9): the k03_dmp_moderated
    // replay, keyed — ebayesPriorSql fits each contrast's prior with its
    // own bisection (one recursive CTE carrying comparison_id), the CF p
    // runs at each contrast's fractional df + d0, and BH partitions by
    // contrast (bhTailBy). DmpSpec additionally asserts each contrast's
    // prior matches the single-contrast fit on that slice.
    Q("k03_dmp_multicontrast_moderated", (s, d) => {
      val bg = Tables.betaGrid(s, d)
        .withColumn("group", concat_ws("_", col("group"), col("run")))
      val contrasts = Seq(
        ("c_run0", "WT_run_0", "MUT_run_0"),
        ("c_run1", "WT_run_1", "MUT_run_1"),
        ("c_run2", "WT_run_2", "MUT_run_2"))
      Dmp.multiContrastModerated(bg, contrasts)
        .select(col("comparison_id"), col("probe_id"), col("n1"), col("n2"), r6("logfc"),
          r6("t_mod"), r6("p_value"), r6("fdr"), col("significant"))
        .orderBy("comparison_id", "probe_id")
    }, Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", dmc_bgx AS (
         |  SELECT b.probe_id, s."group" || '_' || s.run AS grp,
         |         ${SqlOracles.mValueClamped("b.beta")} AS m
         |  FROM beta b JOIN sheet s USING (sample_id)),
         |dmc_c(comparison_id, g1, g2) AS (VALUES
         |  ('c_run0', 'WT_run_0', 'MUT_run_0'),
         |  ('c_run1', 'WT_run_1', 'MUT_run_1'),
         |  ('c_run2', 'WT_run_2', 'MUT_run_2')),
         |dmc_j AS (SELECT c.comparison_id, bg.probe_id,
         |                 CASE WHEN bg.grp = c.g1 THEN 'A' ELSE 'B' END AS side, bg.m
         |          FROM dmc_bgx bg JOIN dmc_c c ON bg.grp = c.g1 OR bg.grp = c.g2),
         |dmc_agg AS (SELECT comparison_id, probe_id,
         |                   count(CASE WHEN side = 'A' THEN 1 END) AS n1,
         |                   count(CASE WHEN side = 'B' THEN 1 END) AS n2,
         |                   avg(CASE WHEN side = 'A' THEN m END) AS m1,
         |                   avg(CASE WHEN side = 'B' THEN m END) AS m2,
         |                   var_samp(CASE WHEN side = 'A' THEN m END) AS v1,
         |                   var_samp(CASE WHEN side = 'B' THEN m END) AS v2
         |            FROM dmc_j GROUP BY 1, 2),
         |dmc_mom AS (
         |  SELECT comparison_id, probe_id, n1, n2, m1 - m2 AS logfc,
         |         CAST(n1 + n2 - 2 AS DOUBLE) AS df,
         |         (CAST(n1 - 1 AS DOUBLE) * v1 + CAST(n2 - 1 AS DOUBLE) * v2)
         |           / CAST(n1 + n2 - 2 AS DOUBLE) AS s2
         |  FROM dmc_agg WHERE n1 >= 3 AND n2 >= 3)""".stripMargin +
      SqlOracles.ebayesPriorSql("dmc_", Some("comparison_id")) +
      """,
        |dmc_md AS (
        |  SELECT m.comparison_id, m.probe_id, m.n1, m.n2, m.logfc, m.df, p.d0,
        |         ((p.d0 * p.s02) + m.df * m.s2) / (p.d0 + m.df) AS s2_post
        |  FROM dmc_mom m LEFT JOIN dmc_prior p USING (comparison_id)),
        |longt AS (
        |  SELECT comparison_id, probe_id, n1, n2, logfc,
        |         logfc / sqrt(s2_post * (1.0 / CAST(n1 AS DOUBLE)
        |                                 + 1.0 / CAST(n2 AS DOUBLE))) AS t,
        |         df + d0 AS df
        |  FROM dmc_md)""".stripMargin +
      SqlOracles.studentTFracDfPv("comparison_id, probe_id, n1, n2, logfc") +
      SqlOracles.bhTailBy("comparison_id",
        "comparison_id, probe_id, n1, n2, logfc, t", "probe_id") + "\n" +
      """SELECT comparison_id, probe_id, n1, n2, round(logfc, 6) AS logfc,
        |       round(t, 6) AS t_mod, round(p, 6) AS p_value,
        |       round(fdr, 6) AS fdr,
        |       (fdr < 0.05 AND abs(logfc) > ln(1.5) / ln(2.0)) AS significant
        |FROM f ORDER BY comparison_id, probe_id""".stripMargin)),

    // K1 — StandardScaler+PCA flavor (reference pca_analysis.py:38-48).
    Q("k01_pca_scaled", (s, d) =>
      Pca.pcaCoords(Tables.betaLong(s, d), topK = 50, k = 3, scale = true),
      None),

    // K1 — centered-only prcomp flavor (reference workflow.R:218,321).
    Q("k01_pca_centered", (s, d) =>
      Pca.pcaCoords(Tables.betaLong(s, d), topK = 50, k = 2, scale = false),
      None),

    // K1 — all-CpG scale path: NO top-k selection, unbounded feature axis
    // via the dual RowMatrix SVD (Gram = samples², probes never
    // materialize as a dimension — ops/Pca.pcaAllCpg). Rows-only;
    // PcaMdsSpec asserts sign-aligned equivalence with the bounded path
    // on complete input.
    Q("k01_pca_allcpg", (s, d) =>
      Pca.pcaAllCpg(Tables.betaLong(s, d), k = 3),
      None),

    // K2 — classical MDS coords on top-100 probes (reference
    // Mouse_Microarray_General_Workflow.R:66-75).
    Q("k02_mds_coords", (s, d) =>
      Mds.mdsCoords(s, Tables.betaLong(s, d), topK = 100),
      None),

    // K5 — ComBat batch adjustment on M-values, batch = run, covariate =
    // group (reference workflow.R:132-150). Rows-only; CombatSpec asserts
    // the batch-mean-spread-shrinks / grand-mean-preserved invariants.
    Q("k05_combat_adjust", (s, d) => {
      val m = Tables.betaLong(s, d)
        .withColumn("m", Fns.mValueClamped(col("beta")))
        .select("probe_id", "sample_id", "m")
      Combat.combat(m, Tables.sampleSheet(s, d))
        .select(col("probe_id"), col("sample_id"), col("run"), col("group"),
          r6("m"), r6("m_adj"))
        .orderBy("probe_id", "sample_id")
    }, None),

    // K5, pycombat flavor — the reference's other ComBat entry point
    // (combat_norm.py:41-73): raw betas, complete-cases, NO covariate,
    // batch = which merged source file the sample column came from. The
    // testdata mirror of the reference's file1_2/file3_4 split is
    // {run_0, run_1} vs {run_2}. minCoverage 0.30: the reference's strict
    // no-NaN gate (1.0) assumes a near-complete wide matrix (it dropped
    // 0.5% of probes); the synthetic long table is ~26% dense with max 41%
    // coverage, so 1.0 would pass nothing — the e02 QC-threshold precedent.
    // Rows-only (iterative EB kernel); CombatSpec asserts the beta-flavor
    // invariants (batch-mean spread shrinks, grand mean preserved,
    // complete-cases gate at 1.0).
    Q("k05_combat_betas", (s, d) => {
      val batchOf = Tables.sampleSheet(s, d)
        .select(col("sample_id"),
          when(col("run").isin("run_0", "run_1"), "file1_2")
            .otherwise("file3_4").as("batch"))
      Combat.combatBetas(Tables.betaLong(s, d), broadcast(batchOf),
          minCoverage = 0.30)
        .select(col("probe_id"), col("sample_id"), col("batch"), r6("beta"), r6("beta_adj"))
        .orderBy("probe_id", "sample_id")
    }, None),

    // K5 interior oracle (the k08/k09 move applied to ComBat): the
    // standardization stage of the batch-only (pycombat) flavor is exactly
    // SQL-expressible — with no group dummies the normal equations are
    // diagonal, so the ridge solve collapses to β_b = s_b/(n_b + ridge)
    // and stand_mean / var_pooled / γ̂ / δ̂² are fixed double sequences
    // over the cell moments. This pins a REAL interior surface of the EB
    // kernel (everything up to the hyperprior fit) against DuckDB, per
    // probe × batch.
    Q("k05_combat_stand", (s, d) => {
      val batchOf = Tables.sampleSheet(s, d)
        .select(col("sample_id"),
          when(col("run").isin("run_0", "run_1"), "file1_2")
            .otherwise("file3_4").as("batch"))
      val b = Tables.betaLong(s, d)
      val nSamples = batchOf.select("sample_id").distinct().count()
      val keep = b.groupBy("probe_id")
        .agg(countDistinct("sample_id").as("ns"))
        .filter(col("ns") >= math.ceil(0.30 * nSamples).toLong)
        .select("probe_id")
      val sheet = batchOf.select(col("sample_id"), col("batch").as("run"),
        lit("all").as("group"))
      val m = b.join(keep, Seq("probe_id"), "left_semi")
        .select(col("probe_id"), col("sample_id"), col("beta").as("m"))
      Combat.standStats(m, sheet)
        .select(col("probe_id"), col("batch"), r6("stand_mean"), r6("var_pooled"),
          r6("gamma_hat"), r6("delta2_hat"))
        .orderBy("probe_id", "batch")
    }, Some(ctes +
      """, batchof AS (
        |  SELECT sample_id,
        |         CASE WHEN run IN ('run_0', 'run_1') THEN 'file1_2'
        |              ELSE 'file3_4' END AS batch
        |  FROM sheet),
        |keep AS (
        |  SELECT probe_id FROM beta GROUP BY 1
        |  HAVING count(DISTINCT sample_id) >=
        |    CAST(ceil(0.30 * (SELECT count(DISTINCT sample_id) FROM batchof)) AS BIGINT)),
        |cells AS (
        |  SELECT b.probe_id, o.batch, CAST(count(*) AS BIGINT) AS n,
        |         sum(b.beta) AS s, sum(b.beta * b.beta) AS ss
        |  FROM beta b JOIN batchof o USING (sample_id)
        |  JOIN keep k USING (probe_id)
        |  GROUP BY 1, 2),
        |-- diagonal ridge solve: trace = Σn_b, p = 2 batches, β_b = s_b/(n_b+ridge)
        |probe AS (
        |  SELECT probe_id, CAST(sum(n) AS BIGINT) AS ntot, sum(ss) AS yy,
        |         1e-8 * (CAST(sum(n) AS DOUBLE) / 2 + 1.0) AS ridge
        |  FROM cells GROUP BY 1),
        |solved AS (
        |  SELECT c.probe_id, c.batch, c.n, c.s, c.ss, p.ntot, p.yy,
        |         c.s / (CAST(c.n AS DOUBLE) + p.ridge) AS beta_b
        |  FROM cells c JOIN probe p USING (probe_id)),
        |pool AS (
        |  SELECT probe_id,
        |         (max(yy) - sum(beta_b * s)) / CAST(max(ntot) AS DOUBLE) AS var_pooled,
        |         sum(beta_b * CAST(n AS DOUBLE) / CAST(ntot AS DOUBLE)) AS grand
        |  FROM solved GROUP BY 1),
        |z AS (
        |  SELECT s.probe_id, s.batch, s.n,
        |         p.grand AS stand_mean, p.var_pooled,
        |         (s.s - CAST(s.n AS DOUBLE) * p.grand) / sqrt(p.var_pooled) AS zs,
        |         (s.ss - 2 * p.grand * s.s + CAST(s.n AS DOUBLE) * p.grand * p.grand)
        |           / p.var_pooled AS zss
        |  FROM solved s JOIN pool p USING (probe_id)
        |  WHERE p.var_pooled > 1e-12)
        |SELECT probe_id, batch,
        |       round(stand_mean, 6) AS stand_mean,
        |       round(var_pooled, 6) AS var_pooled,
        |       round(zs / CAST(n AS DOUBLE), 6) AS gamma_hat,
        |       round(CASE WHEN n > 1
        |                  THEN greatest((zss - zs * zs / CAST(n AS DOUBLE))
        |                                / CAST(n - 1 AS DOUBLE), 1e-8)
        |                  ELSE 1.0 END, 6) AS delta2_hat
        |FROM z
        |ORDER BY probe_id, batch""".stripMargin)),

    // K6 — BMIQ normalization (reference bmiq/BMIQ_1.4.R). Rows-only;
    // BmiqSpec asserts identity-on-type-I / range / guard invariants.
    Q("k06_bmiq_normalize", (s, d) =>
      Bmiq.bmiq(Tables.betaLong(s, d), Tables.probeManifest(s, d))
        .select(col("probe_id"), col("sample_id"), r6("beta"),
          r6("beta_norm"), col("design_type"))
        .orderBy("probe_id", "sample_id"),
      None),

    // K6 interior oracle (the k08/k09 move applied to BMIQ): type-I probes
    // are the reference distribution and pass through IDENTICALLY
    // (BMIQ_1.4.R:210 — ops/Bmiq.scala:255), so the kernel's type-I output
    // slice is SQL-expressible: every (probe, sample) with design_type 1
    // must appear exactly once with beta_norm = beta. Runs the REAL
    // kernel — a routing/drop/mutation bug in the per-sample normalize
    // would hash-mismatch here even though the full kernel has no SQL
    // analog.
    Q("k06_bmiq_type1", (s, d) =>
      Bmiq.bmiq(Tables.betaLong(s, d), Tables.probeManifest(s, d))
        .filter(col("design_type") === 1)
        .select(col("probe_id"), col("sample_id"), r6("beta"), r6("beta_norm"))
        .orderBy("probe_id", "sample_id"),
      Some(ctes +
        """SELECT b.probe_id, b.sample_id,
          |       round(b.beta, 6) AS beta, round(b.beta, 6) AS beta_norm
          |FROM beta b JOIN manifest m USING (probe_id)
          |WHERE m.design_type = 1
          |ORDER BY probe_id, sample_id""".stripMargin)),

    // K — between-sample quantile normalization (preprocessCore
    // normalize.quantiles analog; binned-reference restatement for the
    // ragged long model, ops/QuantileNorm.scala). Exact-rational bin means
    // (beta = k/997) make the whole map oracle-checkable bit-for-bit.
    Q("k07_quantile_normalize", (s, d) =>
      graft.ops.QuantileNorm
        .normalizeBinned(Tables.betaLong(s, d), "probe_id", "sample_id",
          "beta", bins = 100, denom = 997)
        .select(col("probe_id"), col("sample_id"), col("beta"), r6("p"), col("qn_value"))
        .orderBy("probe_id", "sample_id"),
      Some(ctes +
        s""", ranked AS (
           |  SELECT probe_id, sample_id, beta,
           |         row_number() OVER (PARTITION BY sample_id
           |                            ORDER BY beta, probe_id) AS rank,
           |         count(*) OVER (PARTITION BY sample_id) AS n
           |  FROM beta),
           |binned AS (
           |  SELECT *, CAST(least(floor(p * 100), 99) AS INT) AS bin FROM (
           |    SELECT *, CASE WHEN n > 1
           |             THEN CAST(rank - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
           |             ELSE 0.0 END AS p
           |    FROM ranked)),
           |ref AS (
           |  SELECT bin, CAST(sum(CAST(round(beta * 997) AS BIGINT)) AS DOUBLE)
           |              / (CAST(997 AS DOUBLE) * count(*)) AS qn_value
           |  FROM binned GROUP BY 1)
           |SELECT b.probe_id, b.sample_id, b.beta, round(b.p, 6) AS p,
           |       r.qn_value
           |FROM binned b JOIN ref r USING (bin)
           |ORDER BY b.probe_id, b.sample_id""".stripMargin)),

    // K2's distributed input, oracle-checked: the pairwise sample-distance
    // matrix the MDS kernel eigendecomposes (ops/Mds.scala computes this
    // exact shape before its bounded driver collect). beta = k/997 makes
    // the squared-difference sums exact integers, so the self-join +
    // aggregate is bit-checkable — the iterative eigen step stays
    // spec-only, but its input no longer is. Scale shape: equi-join on
    // probe_id, output bounded by samples² (samples are the bounded axis).
    Q("k08_sample_distance_matrix", (s, d) =>
      Hclust.sampleDistances(Tables.betaLong(s, d)
          .select(col("probe_id"), col("sample_id"), Fns.betaK.as("k")))
        .orderBy("sa", "sb"),
    Some(ctes +
      s""", kb AS (
         |  SELECT probe_id, sample_id, CAST(round(beta * 997) AS BIGINT) AS k
         |  FROM beta)
         |SELECT sa, sb, n_shared, d2_num,
         |       CAST(d2_num AS DOUBLE) / (994009.0 * CAST(n_shared AS DOUBLE)) AS d2
         |FROM (
         |  SELECT a.sample_id AS sa, b.sample_id AS sb, count(*) AS n_shared,
         |         CAST(sum((a.k - b.k) * (a.k - b.k)) AS BIGINT) AS d2_num
         |  FROM kb a JOIN kb b ON a.probe_id = b.probe_id AND a.sample_id < b.sample_id
         |  GROUP BY 1, 2)
         |ORDER BY sa, sb""".stripMargin)),

    // K2's driver stage, oracle-checked one step further than k08: the
    // DOUBLE-CENTERED Gram matrix B = −½·J·D²·J (J = I − 11ᵀ/n) whose
    // eigendecomposition IS classical MDS — so of the whole k02 kernel
    // only the eigensolve itself stays spec-only. Missing pairs (no
    // shared probes) read as d2 = 0, the same zeros-initialized matrix
    // ops/Mds.scala builds; row/grand means are over ALL n samples.
    // Double sums of many pair terms are engine-order-dependent, so gram
    // is rounded at 9 (the k09 convention); the d2 inputs themselves are
    // single exact-integer divisions. Scale shape: one probe-key
    // equi-join bounded by samples² (the bounded axis) + a samples-sized
    // centering join — nothing grows with probes beyond the k08 join.
    Q("k02_mds_gram", (s, d) => {
      val bk0 = Tables.betaLong(s, d)
        .select(col("probe_id"), col("sample_id"), Fns.betaK.as("k"))
      // the kernel's top-100-variance probe filter (k02_mds_coords passes
      // topK = 100), ranked here by exact integer moments (the k09 fixed
      // double sequence) so Spark and DuckDB select the identical set.
      // The kernel itself ranks by float var_samp — equal orderings in
      // exact arithmetic on the beta grid, but a near-tie at rank 100
      // could flip under float summation; PcaMdsSpec asserts the two
      // selections coincide on the fixture, so the "only the eigensolve
      // stays spec-only" claim is checked rather than assumed
      val bk = bk0.join(broadcast(topVarianceProbes(bk0, 100)), "probe_id")
      // pairs persists FIRST (the CC/graph r9 fix): materializing the
      // two-orientation union directly would run the expansion join once
      // per union branch
      val pairs = graft.ops.Caches.track(
        Hclust.sampleDistances(bk).select("sa", "sb", "d2").persist())
      val sym = graft.ops.Caches.track(pairs
        .unionByName(pairs.select(col("sb").as("sa"), col("sa").as("sb"),
          col("d2")))
        .persist()) // three consumers: row sums, grand sum, grid join
      val samples = graft.ops.Caches.track(
        bk.select("sample_id").distinct().persist())
      val cnt = samples.agg(count(lit(1)).cast("double").as("n_samp"))
      val grand = sym.agg(sum("d2").as("gsum"))
      val rowm = samples.select(col("sample_id"))
        .join(sym.groupBy("sa").agg(sum("d2").as("rs")),
          col("sample_id") === col("sa"), "left")
        .select(col("sample_id"), coalesce(col("rs"), lit(0.0)).as("rs"))
      val grid = samples.select(col("sample_id").as("sa"))
        .crossJoin(samples.select(col("sample_id").as("sb")))
        .filter(col("sa") <= col("sb"))
      grid.join(sym, Seq("sa", "sb"), "left")
        .join(broadcast(rowm.select(col("sample_id").as("sa"),
          col("rs").as("rs_a"))), Seq("sa"))
        .join(broadcast(rowm.select(col("sample_id").as("sb"),
          col("rs").as("rs_b"))), Seq("sb"))
        .crossJoin(broadcast(cnt)).crossJoin(broadcast(grand))
        .select(col("sa"), col("sb"),
          round(lit(-0.5) * (coalesce(col("d2"), lit(0.0))
            - col("rs_a") / col("n_samp") - col("rs_b") / col("n_samp")
            + col("gsum") / (col("n_samp") * col("n_samp"))), 9).as("gram"))
        .orderBy("sa", "sb")
    }, Some(ctes +
      s""", mg_kb0 AS (
         |  SELECT probe_id, sample_id, CAST(round(beta * 997) AS BIGINT) AS k
         |  FROM beta),
         |mg_mom AS (
         |  SELECT probe_id, count(*) AS n, CAST(sum(k) AS BIGINT) AS s,
         |         CAST(sum(k * k) AS BIGINT) AS ss
         |  FROM mg_kb0 GROUP BY 1),
         |mg_top AS (
         |  SELECT probe_id FROM mg_mom WHERE n >= 2
         |  ORDER BY ${SqlOracles.varFromMoments("n", "s", "ss")} DESC, probe_id
         |  LIMIT 100),
         |mg_kb AS (SELECT mg_kb0.* FROM mg_kb0 JOIN mg_top USING (probe_id)),
         |mg_p AS (
         |  SELECT a.sample_id AS sa, b.sample_id AS sb,
         |         CAST(sum((a.k - b.k) * (a.k - b.k)) AS DOUBLE)
         |           / (994009.0 * CAST(count(*) AS DOUBLE)) AS d2
         |  FROM mg_kb a JOIN mg_kb b
         |    ON a.probe_id = b.probe_id AND a.sample_id < b.sample_id
         |  GROUP BY 1, 2),
         |mg_sym AS (SELECT sa, sb, d2 FROM mg_p
         |           UNION ALL SELECT sb, sa, d2 FROM mg_p),
         |mg_s AS (SELECT DISTINCT sample_id FROM mg_kb),
         |mg_cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n_samp FROM mg_s),
         |mg_g AS (SELECT sum(d2) AS gsum FROM mg_sym),
         |mg_rm AS (SELECT s.sample_id, coalesce(r.rs, 0.0) AS rs
         |          FROM mg_s s LEFT JOIN
         |            (SELECT sa, sum(d2) AS rs FROM mg_sym GROUP BY 1) r
         |            ON r.sa = s.sample_id)
         |SELECT g.sa, g.sb,
         |       round(-0.5 * (coalesce(y.d2, 0.0)
         |             - ra.rs / c.n_samp - rb.rs / c.n_samp
         |             + gg.gsum / (c.n_samp * c.n_samp)), 9) AS gram
         |FROM (SELECT a.sample_id AS sa, b.sample_id AS sb
         |      FROM mg_s a CROSS JOIN mg_s b WHERE a.sample_id <= b.sample_id) g
         |LEFT JOIN mg_sym y ON y.sa = g.sa AND y.sb = g.sb
         |JOIN mg_rm ra ON ra.sample_id = g.sa
         |JOIN mg_rm rb ON rb.sample_id = g.sb
         |CROSS JOIN mg_cnt c CROSS JOIN mg_g gg
         |ORDER BY g.sa, g.sb""".stripMargin)),

    // K1's distributed input, oracle-checked (the k08 move applied to
    // PCA): pairwise covariances of the top-20 most-variable probes —
    // exactly the covariance entries the PCA kernel eigendecomposes.
    // Exact-integer moments end-to-end (k = beta·997): the top-k variance
    // ranking and every covariance come from integer sums with one fixed
    // double sequence, so the whole pre-eigen pipeline is bit-checkable.
    // Pairwise-complete semantics: each pair's covariance is over the
    // samples observing BOTH probes (the long-model restatement of the
    // dense matrix's complete columns).
    Q("k09_probe_covariance", (s, d) => {
      val bk = Tables.betaLong(s, d)
        .select(col("probe_id"), col("sample_id"), Fns.betaK.as("k"))
      val t = bk.join(broadcast(topVarianceProbes(bk, 20)), "probe_id")
      val a = t.select(col("probe_id").as("pa"), col("sample_id"), col("k").as("ka"))
      val b = t.select(col("probe_id").as("pb"), col("sample_id"), col("k").as("kb"))
      a.join(b, "sample_id").filter(col("pa") <= col("pb"))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_shared"), sum("ka").as("sa"),
          sum("kb").as("sb"), sum(col("ka") * col("kb")).as("sab"))
        .filter(col("n_shared") >= 2)
        .select(col("pa"), col("pb"), col("n_shared"),
          round((col("sab").cast("double")
            - col("sa").cast("double") * col("sb").cast("double")
              / col("n_shared").cast("double"))
            / (col("n_shared") - 1).cast("double") / 994009.0, 9).as("cov"))
        .orderBy("pa", "pb")
    }, Some(ctes +
      s""", bk AS (
         |  SELECT probe_id, sample_id, CAST(round(beta * 997) AS BIGINT) AS k
         |  FROM beta),
         |mom AS (
         |  SELECT probe_id, count(*) AS n, CAST(sum(k) AS BIGINT) AS s,
         |         CAST(sum(k * k) AS BIGINT) AS ss
         |  FROM bk GROUP BY 1),
         |top AS (
         |  SELECT probe_id FROM mom WHERE n >= 2
         |  ORDER BY ${SqlOracles.varFromMoments("n", "s", "ss")} DESC, probe_id
         |  LIMIT 20),
         |t AS (SELECT bk.* FROM bk JOIN top USING (probe_id))
         |SELECT a.probe_id AS pa, b.probe_id AS pb, count(*) AS n_shared,
         |       round((CAST(sum(a.k * b.k) AS DOUBLE)
         |              - CAST(sum(a.k) AS DOUBLE) * CAST(sum(b.k) AS DOUBLE)
         |                / CAST(count(*) AS DOUBLE))
         |             / CAST(count(*) - 1 AS DOUBLE) / 994009.0, 9) AS cov
         |FROM t a JOIN t b ON a.sample_id = b.sample_id AND a.probe_id <= b.probe_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY 1, 2""".stripMargin)),

    // K10 — nonparametric DMP: per-probe two-sample Mann–Whitney U
    // (WT vs MUT), the rank-based alternative the methylation literature
    // reaches for when the moderated-t normality assumption is suspect.
    // Rank-invariant, so raw beta is tested directly (no M-transform
    // needed — same U either way). One data shuffle (tie cells), then
    // windows/aggregates on the per-probe cell table; U exact by integer
    // half-rank units, tie-corrected z a fixed double sequence.
    Q("k10_ranksum_dmp", (s, d) => {
      val bg = Tables.betaGrid(s, d)
      Analytic.mannWhitney(bg, "probe_id", "beta", "group", "WT", "MUT")
        .filter(col("n1") >= 3 && col("n2") >= 3)
        .select(col("probe_id"), col("n1"), col("n2"), col("u1"), r6("z"))
        .orderBy("probe_id")
    }, Some(ctes + mwChainSql + "\n" +
      """SELECT probe_id, n1, n2, u1, round(z, 6) AS z
        |FROM mw ORDER BY probe_id""".stripMargin)),

    // K10 inferential completion (the a23→a25 pattern): two-sided normal
    // p from the native codegen chi-square survival function (z² ~ χ²₁),
    // BH-adjusted across probes. FULLY oracle-checked (r9): χ²(1)'s
    // survival function is erfc(√(x/2)), which DuckDB replays via Cody's
    // rational approximation (SqlOracles.erfc, ≲1e-16) — commons-math's
    // regularized gamma agrees to ~1e-14, far inside round-6. The z
    // feeding it is the shared mwChainSql statistic, verbatim from k10's
    // own oracle.
    Q("k10_ranksum_inference", (s, d) => {
      val bg = Tables.betaGrid(s, d)
      val stats = Analytic.mannWhitney(bg, "probe_id", "beta", "group", "WT", "MUT")
        .filter(col("n1") >= 3 && col("n2") >= 3)
        .withColumn("p_value", expr("graft_chisq_sf(z * z, 1.0)"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n1"), col("n2"), col("u1"), r6("z"), r6("p_value"),
          r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes + mwChainSql +
      """,
        |pvarg AS (SELECT probe_id, n1, n2, u1, z, sqrt(z * z / 2.0) AS ex FROM mw),
        |pv AS (SELECT probe_id, n1, n2, u1, z,
        |""".stripMargin +
      s"       ${SqlOracles.erfc("ex")} AS p\n" +
      "FROM pvarg)" +
      SqlOracles.bhTail("probe_id, n1, n2, u1, z") + "\n" +
      """SELECT probe_id, n1, n2, u1, round(z, 6) AS z,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K11 — per-probe two-sample Kolmogorov–Smirnov: max CDF gap between
    // the WT and MUT beta distributions (sensitive to shape differences a
    // location test misses — the distributional QC companion to k10).
    // Same cell+window shape; D exact via the integer gap |cum1·n2−cum2·n1|.
    Q("k11_ks_dmp", (s, d) => {
      val bg = Tables.betaGrid(s, d)
      Analytic.ksTest(bg, "probe_id", "beta", "group", "WT", "MUT")
        .filter(col("n1") >= 3 && col("n2") >= 3)
        .select(col("probe_id"), col("n1"), col("n2"),
          round(col("d"), 9).as("d"), r6("ks_stat"))
        .orderBy("probe_id")
    }, Some(ctes + ksChainSql + "\n" +
      """SELECT probe_id, n1, n2,
        |       round(CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 9) AS d,
        |       round(CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |             * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))), 6) AS ks_stat
        |FROM a WHERE n1 > 0 AND n2 > 0 AND n1 >= 3 AND n2 >= 3
        |ORDER BY probe_id""".stripMargin)),

    // K11 inferential completion (the a23→a25/k10 pattern): asymptotic
    // Kolmogorov p from the native codegen series Q(t)=2Σ(-1)^{k-1}e^{-2k²t²}
    // at t = ks_stat, BH-adjusted across probes. FULLY oracle-checked (r8):
    // the series is a FIXED ascending sum with a deterministic stop rule
    // (first term < 1e-16; terms decrease monotonically in k, so the stop
    // is a filter), which DuckDB replays as an ordered running sum over
    // range(1,101) — same IEEE sequence, same t ≤ 0.05 short-circuit, same
    // [0,1] clamp. RankTestSpec asserts the series against commons-math
    // approximateP.
    Q("k11_ks_inference", (s, d) => {
      val bg = Tables.betaGrid(s, d)
      val stats = Analytic.ksTest(bg, "probe_id", "beta", "group", "WT", "MUT")
        .filter(col("n1") >= 3 && col("n2") >= 3)
        .withColumn("p_value", expr("graft_ks_sf(ks_stat)"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n1"), col("n2"),
          round(col("d"), 9).as("d"), r6("ks_stat"), r6("p_value"), r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes + ksChainSql +
      """,
        |st AS (
        |  SELECT probe_id, n1, n2,
        |         CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d,
        |         CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |           * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) AS t
        |  FROM a WHERE n1 > 0 AND n2 > 0 AND n1 >= 3 AND n2 >= 3)""".stripMargin +
      SqlOracles.kolmogorovPv("n1, n2, d") +
      SqlOracles.bhTail("probe_id, n1, n2, d, t") + "\n" +
      """SELECT probe_id, n1, n2, round(d, 9) AS d, round(t, 6) AS ks_stat,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K19 — Fisher's combined probability (meta-analysis): per probe,
    // fuse the three independent-family evidence streams the engine
    // already computes — Welch t (parametric location), Mann–Whitney
    // (rank location), KS (distribution shape) — into one statistic
    // X = −2·Σ ln p ~ χ²(2k), p through the codegen chi-square survival
    // function, BH across probes. The classic multi-test consolidation a
    // screening pipeline runs before committing to a probe list. Each
    // input p rides its own oracle-checked statistic chain; the three
    // stats passes share the SAME bg join and each is one aggregate, so
    // the whole query is three co-keyed aggregates + two joins. FULLY
    // oracle-checked (r9): all three component CDFs now replay — Welch t
    // via the fractional-df continued fraction, Mann–Whitney via the Cody
    // erfc, KS via the shared Kolmogorov series — over the prefix-
    // parameterized statistic chains (w_/r_/s_ instances of the SAME
    // chain definitions k17/k10/k11 use), and the fused χ²(6) survival is
    // the finite even-df series exp(−x/2)·(1 + x/2 + (x/2)²/2).
    Q("k19_fisher_combined", (s, d) => {
      val bg = Tables.betaGrid(s, d)
      val pWelch = welchT(s, d)
        .select(col("probe_id"), expr("graft_t_pvalue(t, df)").as("p_w"))
      val pRank = Analytic.mannWhitney(bg, "probe_id", "beta", "group", "WT", "MUT")
        .filter(col("n1") >= 3 && col("n2") >= 3)
        .select(col("probe_id"), expr("graft_chisq_sf(z * z, 1.0)").as("p_r"))
      val pKs = Analytic.ksTest(bg, "probe_id", "beta", "group", "WT", "MUT")
        .filter(col("n1") >= 3 && col("n2") >= 3)
        .select(col("probe_id"), expr("graft_ks_sf(ks_stat)").as("p_k"))
      // ln(p) guards: a p that underflows to 0 clamps to the smallest
      // positive double (ln ≈ −744.4) so X stays finite and ordering holds
      def lnp(c: org.apache.spark.sql.Column) = log(greatest(c, lit(4.9e-324)))
      val fused = pWelch.join(pRank, "probe_id").join(pKs, "probe_id")
        .withColumn("x2", lit(-2.0) * (lnp(col("p_w")) + lnp(col("p_r")) + lnp(col("p_k"))))
        .withColumn("p_value", expr("graft_chisq_sf(x2, 6.0)"))
      Analytic.bhAdjust(fused, "p_value", "probe_id")
        .select(col("probe_id"), r6("p_w"), r6("p_r"), r6("p_k"), r6("x2"),
          r6("p_value"), r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      welchChain("w_") + mwChain("r_") + ksChain("s_") +
      """,
        |w_longt AS (SELECT probe_id, df, t FROM w_welch)""".stripMargin +
      SqlOracles.studentTFracDfPv("probe_id, df", "w_") +
      """,
        |r_pvarg AS (SELECT probe_id, sqrt(z * z / 2.0) AS ex FROM r_mw),
        |r_pv AS (SELECT probe_id,
        |""".stripMargin +
      s"       ${SqlOracles.erfc("ex")} AS p\n" +
      "FROM r_pvarg)" +
      """,
        |s_st AS (
        |  SELECT probe_id, n1, n2,
        |         CAST(gap AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |           * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))) AS t
        |  FROM s_a WHERE n1 > 0 AND n2 > 0 AND n1 >= 3 AND n2 >= 3)""".stripMargin +
      SqlOracles.kolmogorovPv("", "s_") +
      """,
        |fused AS (
        |  SELECT w.probe_id, w.p AS p_w, r.p AS p_r, s.p AS p_k,
        |         -2.0 * (ln(greatest(w.p, 4.9e-324))
        |                 + ln(greatest(r.p, 4.9e-324))
        |                 + ln(greatest(s.p, 4.9e-324))) AS x2
        |  FROM w_pv w JOIN r_pv r USING (probe_id) JOIN s_pv s USING (probe_id)),
        |pv AS (
        |  SELECT probe_id, p_w, p_r, p_k, x2,
        |         exp(-x2 / 2.0)
        |           * (1.0 + x2 / 2.0 + (x2 / 2.0) * (x2 / 2.0) / 2.0) AS p
        |  FROM fused)""".stripMargin +
      SqlOracles.bhTail("probe_id, p_w, p_r, p_k, x2") + "\n" +
      """SELECT probe_id, round(p_w, 6) AS p_w, round(p_r, 6) AS p_r,
        |       round(p_k, 6) AS p_k, round(x2, 6) AS x2,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K12 — sample×sample Spearman correlation matrix (the QC-heatmap
    // companion to k08's euclidean distances; rank-based, so outlier
    // probes can't dominate a pair). Ranks are per-sample over that
    // sample's observed probes, pairs correlate over shared probes — the
    // pairwise-complete convention k09 established. Exact end to end:
    // ranks in doubled-rank integer units (one per-sample window pass;
    // ties exact, the integers the oracle's k10 tie-cell chain produces),
    // Pearson-on-ranks from exact integer moments — bigint while the
    // largest per-sample row count is ≤ 1.3M, decimal(38,0) above — and
    // one fixed double sequence at the end. Plan (Analytic.spearman): one
    // persisted rank table, one per-sample count collect, then either the
    // driver-local kernel (≤ 1.3M rank rows, ≤ 256 samples) or the k08
    // probe self-join — samples stay the bounded axis, probes scale freely.
    Q("k12_spearman_corr", (s, d) =>
      Analytic.spearmanMatrix(Tables.betaLong(s, d),
          "probe_id", "sample_id", "beta")
        .select(col("sa"), col("sb"), col("n_shared"), r6("rho"))
        .orderBy("sa", "sb"),
    Some(ctes + spearmanChainSql + "\n" +
      """SELECT sa, sb, n_shared, round(rho, 6) AS rho
        |FROM srho ORDER BY sa, sb""".stripMargin)),

    // K12 inferential completion: the rank-correlation t-transform
    // t = ρ·√((n−2)/(1−ρ²)) ~ t_{n−2} under H₀, p through the existing
    // codegen Student-t survival chain (graft_t_pvalue — the same
    // expression k03's moderated t uses), BH-adjusted across sample
    // pairs. FULLY oracle-checked (r8): df = n_shared − 2 is an INTEGER,
    // and for integer df the Student-t tail has the finite elementary
    // forms of A&S 26.7.3/4 — with θ = atan(|t|/√ν), u = cos²θ:
    // ν even → P(|T|≤t) = sinθ·Σ_{j<ν/2} C(2j,j)/4^j·u^j; ν odd →
    // (2/π)(θ + sinθcosθ·Σ_{j≤(ν−3)/2} 4^j(j!)²/(2j+1)!·u^j) — which
    // DuckDB replays per pair (coefficients via lgamma, all-positive
    // terms). The rho/t doubles are IEEE-identical (exact integer moments
    // cast to double on both sides); commons-math's regularized
    // incomplete beta agrees with the closed forms to ~1e-13, far inside
    // round-6. The Spark side stays generic in df.
    Q("k12_spearman_inference", (s, d) => {
      val stats = Analytic.spearmanMatrix(Tables.betaLong(s, d),
          "probe_id", "sample_id", "beta")
        .filter(col("n_shared") >= 4 && abs(col("rho")) < 1.0)
        .withColumn("t_stat", col("rho") *
          sqrt((col("n_shared") - 2).cast("double") /
            (lit(1.0) - col("rho") * col("rho"))))
        .withColumn("p_value",
          expr("graft_t_pvalue(t_stat, CAST(n_shared - 2 AS DOUBLE))"))
        .withColumn("pair", concat(col("sa"), lit("|"), col("sb")))
      Analytic.bhAdjust(stats, "p_value", "pair")
        .select(col("sa"), col("sb"), col("n_shared"), r6("rho"), r6("t_stat"),
          r6("p_value"), r6("fdr"))
        .orderBy("sa", "sb")
    }, Some(ctes + spearmanChainSql +
      """,
        |longt AS (
        |  SELECT sa, sb, n_shared, rho,
        |         rho * sqrt(CAST(n_shared - 2 AS DOUBLE) / (1.0 - rho * rho)) AS t,
        |         n_shared - 2 AS nu
        |  FROM srho WHERE n_shared >= 4 AND abs(rho) < 1.0)""".stripMargin +
      SqlOracles.studentTIntDfPv("sa, sb", "sa, sb, n_shared, rho") +
      SqlOracles.bhTail("sa, sb, n_shared, rho, t", "sa || '|' || sb") + "\n" +
      """SELECT sa, sb, n_shared, round(rho, 6) AS rho,
        |       round(t, 6) AS t_stat, round(p, 6) AS p_value,
        |       round(fdr, 6) AS fdr
        |FROM f ORDER BY sa, sb""".stripMargin)),

    // K12 thresholded production variant (r8): only |ρ| ≥ τ pairs, via
    // the deterministic sign-sketch pre-filter (Analytic.spearman-
    // Thresholded) — candidates from banded random-hyperplane buckets,
    // exact k12 moments only on candidates, so the plan stops being
    // unconditionally samples². FULLY ORACLE-CHECKED: the sketch is
    // md5-derived ±1 signs + integer projections, so DuckDB replays the
    // identical bucket structure, candidate set, and bit-exact ρ.
    // τ = 0.25 here because the synthetic grid's |ρ| tops out at ~0.32
    // (sf0.01) — a non-empty oracle beats a vacuous one. The ScaleSmoke
    // 64× row runs THIS registered query (same τ = 0.25; τ only changes
    // the final filter, not the sketch/verify plan cost — PERF.md's
    // sweep row documents the recall observed there).
    Q("k12_spearman_thresholded", (s, d) =>
      Analytic.spearmanThresholded(Tables.betaLong(s, d),
          "probe_id", "sample_id", "beta", tau = 0.25)
        .select(col("sa"), col("sb"), col("n_shared"), r6("rho"))
        .orderBy("sa", "sb"),
    Some(ctes +
      """, cells AS (
        |  SELECT sample_id, beta, count(*) AS t FROM beta GROUP BY 1, 2),
        |rk AS (
        |  SELECT sample_id, beta,
        |         2 * sum(t) OVER (PARTITION BY sample_id ORDER BY beta
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (t - 1) AS ar2
        |  FROM cells),
        |rkb AS (
        |  SELECT b.probe_id, b.sample_id, CAST(r.ar2 AS HUGEINT) AS ar2
        |  FROM beta b JOIN rk r ON b.sample_id = r.sample_id AND b.beta = r.beta),
        |params AS (
        |  SELECT (SELECT min(r) FROM (SELECT unnest(range(4, 31)) AS r)
        |          WHERE 4 * power(2, r) >=
        |                (SELECT count(DISTINCT sample_id) FROM beta)) AS r),
        |signs AS (
        |  SELECT p.probe_id, b.j,
        |         CASE WHEN substring(md5(p.probe_id || '#' || CAST(b.j AS VARCHAR)), 1, 1) < '8'
        |              THEN 1 ELSE -1 END AS s
        |  FROM (SELECT DISTINCT probe_id FROM beta) p,
        |       (SELECT j FROM (SELECT unnest(range(0, 240)) AS j), params
        |        WHERE j < 8 * r) b),
        |proj AS (
        |  SELECT rkb.sample_id, signs.j,
        |         CAST(count(*) AS HUGEINT) AS n, sum(rkb.ar2) AS sr,
        |         sum(signs.s * rkb.ar2) AS sdot,
        |         CAST(sum(signs.s) AS HUGEINT) AS ssum
        |  FROM rkb JOIN signs ON rkb.probe_id = signs.probe_id
        |  GROUP BY 1, 2),
        |bits AS (
        |  SELECT sample_id, j,
        |         CASE WHEN n * sdot - sr * ssum >= 0 THEN 1 ELSE 0 END AS bit
        |  FROM proj),
        |bsig AS (
        |  SELECT sample_id, j // r AS band,
        |         sum(bit * CAST(power(2, j % r) AS BIGINT)) AS sig,
        |         max(CASE WHEN j % r = 0 THEN bit END) AS lead
        |  FROM bits, params GROUP BY 1, 2),
        |csig AS (
        |  SELECT sample_id, band,
        |         CASE WHEN lead = 1 THEN CAST(power(2, r) AS BIGINT) - 1 - sig
        |              ELSE sig END AS canon
        |  FROM bsig, params),
        |cand AS (
        |  SELECT DISTINCT a.sample_id AS sa, b.sample_id AS sb
        |  FROM csig a JOIN csig b
        |    ON a.band = b.band AND a.canon = b.canon AND a.sample_id < b.sample_id),
        |m AS (
        |  SELECT c.sa, c.sb, CAST(count(*) AS HUGEINT) AS n,
        |         sum(a.ar2) AS sx, sum(b.ar2) AS sy,
        |         sum(a.ar2 * a.ar2) AS sxx, sum(b.ar2 * b.ar2) AS syy,
        |         sum(a.ar2 * b.ar2) AS sxy
        |  FROM cand c
        |  JOIN rkb a ON a.sample_id = c.sa
        |  JOIN rkb b ON b.sample_id = c.sb AND b.probe_id = a.probe_id
        |  GROUP BY 1, 2),
        |rho AS (
        |  SELECT sa, sb, CAST(n AS BIGINT) AS n_shared,
        |         CAST(n * sxy - sx * sy AS DOUBLE)
        |           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |                  * CAST(n * syy - sy * sy AS DOUBLE)) AS rho
        |  FROM m
        |  WHERE n >= 2 AND CAST(n * sxx - sx * sx AS DOUBLE)
        |                   * CAST(n * syy - sy * sy AS DOUBLE) > 0.0)
        |SELECT sa, sb, n_shared, round(rho, 6) AS rho
        |FROM rho WHERE abs(rho) >= 0.25
        |ORDER BY sa, sb""".stripMargin)),

    // K13 — one-way ANOVA F per probe across the three instrument runs:
    // the batch-effect screen that motivates ComBat (a probe whose means
    // differ by run before adjustment is the batch signal k05 removes).
    // ONE hash aggregate per probe: run-conditional integer moments
    // (beta scaled to its exact 0..996 integer grid, the k08 trick), then
    // SSB/SSW as a fixed double sequence over the pivoted run columns —
    // no data-dependent summation order, so bit-reproducible. The F CDF
    // (incomplete beta) has no SQL analog; statistic + dfs are the
    // oracle-checked surface, the a23/k10 convention.
    Q("k13_anova_f", (s, d) =>
      anovaF(s, d)
        .select(col("probe_id"), col("n"), r6("ssb"), r6("ssw"),
          col("df1"), col("df2"), r6("f"))
        .orderBy("probe_id"),
    Some(ctes + anovaChainSql + "\n" +
      """SELECT probe_id, n, round(ssb, 6) AS ssb, round(sst - ssb, 6) AS ssw,
        |       CAST(2 AS BIGINT) AS df1, n - 3 AS df2,
        |       round((ssb / 2.0) / ((sst - ssb) / (CAST(n AS DOUBLE) - 3.0)), 6) AS f
        |FROM e
        |WHERE n0 >= 2 AND n1 >= 2 AND n2 >= 2 AND sst - ssb > 0.0
        |ORDER BY probe_id""".stripMargin)),

    // K13 inferential completion: per-probe ANOVA p-value from the native
    // codegen F survival function (regularized incomplete beta — the one
    // special function the engine was missing; reference tests always
    // return p-values, /root/reference/plots.R:139-162), BH-adjusted
    // across probes. FULLY oracle-checked (r8): with the three-run design
    // df1 = 2, and I_x(a, 1) = x^a, so P(F_{2,d2} ≥ f) collapses to the
    // elementary (d2/(d2+2f))^{d2/2} — DuckDB replays the whole p + BH
    // chain (the Spark side stays generic via regularized incomplete
    // beta; commons-math agrees with the power form to ~1e-14, far inside
    // round-6). ExtensionsSpec asserts graft_f_sf against commons-math
    // FDistribution.
    Q("k13_anova_inference", (s, d) => {
      val stats = anovaF(s, d)
        .withColumn("p_value",
          expr("graft_f_sf(f, CAST(df1 AS DOUBLE), CAST(df2 AS DOUBLE))"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n"), col("df1"), col("df2"), r6("f"), r6("p_value"),
          r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes + anovaChainSql +
      """,
        |fq AS (
        |  SELECT probe_id, n, CAST(2 AS BIGINT) AS df1, n - 3 AS df2,
        |         (ssb / 2.0) / ((sst - ssb) / (CAST(n AS DOUBLE) - 3.0)) AS f
        |  FROM e
        |  WHERE n0 >= 2 AND n1 >= 2 AND n2 >= 2 AND sst - ssb > 0.0),
        |pv AS (
        |  SELECT probe_id, n, df1, df2, f,
        |         power(CAST(df2 AS DOUBLE) / (CAST(df2 AS DOUBLE) + 2.0 * f),
        |               CAST(df2 AS DOUBLE) / 2.0) AS p
        |  FROM fq)""".stripMargin +
      SqlOracles.bhTail("probe_id, n, df1, df2, f") + "\n" +
      """SELECT probe_id, n, df1, df2, round(f, 6) AS f, round(p, 6) AS p_value,
        |       round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K14 — DMR detection (bumphunter-style region merge): the downstream
    // step every methylation analysis runs after per-probe testing —
    // consecutive same-direction significant probes along the genome merge
    // into differentially methylated REGIONS. Per-probe group delta-beta
    // from ONE hash aggregate of exact integer moments (the k08 0..996
    // grid trick, so the statistic is a fixed double sequence), then the
    // gaps-and-islands window per (chr, direction) — the w08
    // sessionization shape transplanted onto genomic coordinates. Probe
    // position derives from the probe id (the synthetic genome's
    // coordinate); maxGap 115 = 5 probe steps. Regions need >= 2 probes
    // (the bumphunter convention). One data shuffle + one window on the
    // thinned significant set.
    Q("k14_dmr_regions", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val delta = groupMoments(Tables.betaGrid(s, d))
        .withColumn("delta_beta", meanDiff("1", "2") / 997.0)
        .filter(abs(col("delta_beta")) >= 0.05)
      val sig = delta
        .join(broadcast(Tables.chipAnnotation(s, d)), "probe_id")
        // unbounded 2-arg substr: a fixed length would silently truncate
        // ids with longer numeric suffixes and diverge from the oracle's
        // substr(probe_id, 3)
        .withColumn("pos", expr("CAST(substr(probe_id, 3) AS BIGINT)"))
        .withColumn("dir", when(col("delta_beta") > 0, 1).otherwise(-1))
      val w = Window.partitionBy("chr", "dir").orderBy("pos")
      val runs = sig
        .withColumn("new_reg",
          when(col("pos") - lag("pos", 1).over(w) <= 115, 0).otherwise(1))
        .withColumn("reg", sum("new_reg").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      runs.groupBy("chr", "dir", "reg")
        .agg(min("pos").as("start_pos"), max("pos").as("end_pos"),
          count(lit(1)).as("n_probes"),
          round(avg("delta_beta"), 6).as("mean_delta"))
        .filter(col("n_probes") >= 2)
        .select(col("chr"), col("dir"), col("start_pos"), col("end_pos"),
          col("n_probes"), col("mean_delta"))
        .orderBy("chr", "dir", "start_pos")
    }, Some(ctes +
      """, bg AS (
        |  SELECT b.probe_id, CAST(round(b.beta * 997) AS BIGINT) AS k,
        |         s."group" AS grp
        |  FROM beta b JOIN sheet s USING (sample_id)),
        |delta AS (
        |  SELECT probe_id,
        |         CAST(sum(CASE WHEN grp = 'WT' THEN k END) AS BIGINT) AS s1,
        |         CAST(sum(CASE WHEN grp = 'MUT' THEN k END) AS BIGINT) AS s2,
        |         count(CASE WHEN grp = 'WT' THEN 1 END) AS n1,
        |         count(CASE WHEN grp = 'MUT' THEN 1 END) AS n2
        |  FROM bg GROUP BY 1),
        |sig AS (
        |  SELECT d.probe_id, a.chr,
        |         CAST(substr(d.probe_id, 3) AS BIGINT) AS pos,
        |         (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |          - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 997.0 AS delta_beta,
        |         CASE WHEN (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |                    - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 997.0 > 0
        |              THEN 1 ELSE -1 END AS dir
        |  FROM delta d JOIN anno a USING (probe_id)
        |  WHERE n1 >= 3 AND n2 >= 3
        |    AND abs((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |             - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / 997.0) >= 0.05),
        |isl AS (
        |  SELECT *, CASE WHEN pos - lag(pos) OVER (PARTITION BY chr, dir ORDER BY pos) <= 115
        |                 THEN 0 ELSE 1 END AS new_reg
        |  FROM sig),
        |runs AS (
        |  SELECT *, sum(new_reg) OVER (PARTITION BY chr, dir ORDER BY pos
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS reg
        |  FROM isl)
        |SELECT chr, dir, min(pos) AS start_pos, max(pos) AS end_pos,
        |       count(*) AS n_probes, round(avg(delta_beta), 6) AS mean_delta
        |FROM runs GROUP BY chr, dir, reg
        |HAVING count(*) >= 2
        |ORDER BY chr, dir, start_pos""".stripMargin)),

    // K15 — epigenetic-clock-style linear age predictor (the Horvath 2013
    // pattern, public: a bounded CpG coefficient panel, per-sample age =
    // intercept + Σ coef·beta). The panel (353 probes for the original
    // clock) is a broadcast dim; the dot product runs from exact integer
    // numerators (beta = k/997 on its grid, coef = m/10) so the sum is
    // error-free until one final division — no float-summation order
    // anywhere. The canonical 100 TB scoring shape: broadcast join +
    // ONE hash aggregate, one partial row per (sample, partition) on the
    // shuffle, samples the bounded output axis.
    Q("k15_clock_predictor", (s, d) => {
      Tables.betaLong(s, d)
        .withColumn("k", Fns.betaK)
        .join(broadcast(clockPanel(s, d)), "probe_id")
        .groupBy("sample_id")
        .agg(count(lit(1)).as("n_panel"),
          sum(col("k") * col("coef_num")).as("dot"))
        .select(col("sample_id"), col("n_panel"),
          round(lit(20.0) + col("dot").cast("double") / 9970.0, 6).as("age_pred"))
        .orderBy("sample_id")
    }, Some(ctes +
      """, coef AS (
        |  SELECT printf('cg%07d', p_partkey) AS probe_id,
        |         p_partkey % 13 - 6 AS coef_num
        |  FROM part WHERE p_partkey % 17 = 3)
        |SELECT sample_id, count(*) AS n_panel,
        |       round(20.0 + CAST(sum(CAST(round(beta * 997) AS BIGINT) * coef_num) AS DOUBLE) / 9970.0, 6) AS age_pred
        |FROM beta JOIN coef USING (probe_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // K16 — reference-based cell-type deconvolution (the Houseman 2012
    // pattern, public: estimate per-sample cell-mixture proportions by
    // projecting the sample's methylome onto reference cell-type
    // profiles). Two-type closed form: w = Σ(β−pB)(pA−pB) / Σ(pA−pB)²
    // clamped to [0,1] — the constrained-projection special case that
    // needs no iterative solver. Profiles live on the same 0..996 integer
    // grid as beta, so both sums are exact integers and the one division
    // happens on the final moments row — no float-summation order. Shape:
    // broadcast profile panel ⋈ long betas → ONE per-sample hash
    // aggregate; samples the bounded output axis (the PCA/MDS posture).
    Q("k16_cell_deconvolution", (s, d) => {
      Tables.betaLong(s, d)
        .withColumn("k", Fns.betaK)
        .join(broadcast(cellProfiles(s, d)), "probe_id")
        .groupBy("sample_id")
        .agg(count(lit(1)).as("n_probes"),
          sum((col("k") - col("pb")) * (col("pa") - col("pb"))).as("num"),
          sum((col("pa") - col("pb")) * (col("pa") - col("pb"))).as("den"))
        .select(col("sample_id"), col("n_probes"),
          round(least(lit(1.0), greatest(lit(0.0),
            col("num").cast("double") / col("den").cast("double"))), 6)
            .as("frac_type_a"))
        .orderBy("sample_id")
    }, Some(ctes +
      """, prof AS (
        |  SELECT printf('cg%07d', p_partkey) AS probe_id,
        |         p_partkey * 3 % 997 AS pa, p_partkey * 7 % 997 AS pb
        |  FROM part WHERE p_partkey * 3 % 997 <> p_partkey * 7 % 997)
        |SELECT sample_id, count(*) AS n_probes,
        |       round(least(1.0, greatest(0.0,
        |         CAST(sum((CAST(round(beta * 997) AS BIGINT) - pb) * (pa - pb)) AS DOUBLE)
        |         / CAST(sum((pa - pb) * (pa - pb)) AS DOUBLE))), 6) AS frac_type_a
        |FROM beta JOIN prof USING (probe_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // E7 — the methylation DOWNSTREAM lifecycle as one DAG: QC gates →
    // two-group delta screen → clock + deconvolution panels → per-sample
    // subject report (the deliverable a study hands back per subject).
    // Counterpart to e02 (which ends at PCA): every stage here is
    // SQL-expressible, so the whole pipeline hash-checks against DuckDB
    // the way e06 does for the web lifecycle. QC thresholds compare in
    // exact integer form (detp = j/1010 on its grid: avg < 0.05 ⟺
    // 2·Σj < 101·n) — no float-summation boundary anywhere. Shape: two
    // QC aggregates + semi-joins, one screen aggregate collapsing to a
    // 1-row broadcast, two broadcast-panel aggregates, one per-sample
    // rollup — shuffles all on natural keys, output bounded by samples.
    Q("e07_downstream_pipeline", (s, d) => {
      val detp = Tables.detpLong(s, d)
        .withColumn("j", round(col("pval") * 1010).cast("long"))
      def gate(df: org.apache.spark.sql.DataFrame, key: String) =
        df.groupBy(key)
          .agg(sum("j").as("sj"), count(lit(1)).as("n"))
          .filter(col("sj") * 2 < col("n") * 101)
          .select(key)
      val goodS = gate(detp, "sample_id")
      val goodP = gate(detp.join(goodS, Seq("sample_id"), "left_semi"), "probe_id")
      val qc = graft.ops.Caches.track(Tables.betaLong(s, d)
        .join(goodS, Seq("sample_id"), "left_semi")
        .join(goodP, Seq("probe_id"), "left_semi")
        .withColumn("k", Fns.betaK)
        .persist())
      val sheet = broadcast(Tables.sampleSheet(s, d))
      // two-group delta screen (the k14 significance gate) → 1-row scalar
      val nSig = groupMoments(qc.join(sheet, "sample_id"))
        .filter(abs(meanDiff("1", "2") / 997.0) >= 0.05)
        .agg(count(lit(1)).as("n_sig_probes"))
      // panels on the QC'd betas (k15/k16 over the gated table)
      val clock = qc.join(broadcast(clockPanel(s, d)), "probe_id")
        .groupBy("sample_id")
        .agg(round(lit(20.0) +
          sum(col("k") * col("coef_num")).cast("double") / 9970.0, 6).as("age_pred"))
      val deconv = qc.join(broadcast(cellProfiles(s, d)), "probe_id")
        .groupBy("sample_id")
        .agg(round(least(lit(1.0), greatest(lit(0.0),
          sum((col("k") - col("pb")) * (col("pa") - col("pb"))).cast("double")
            / sum((col("pa") - col("pb")) * (col("pa") - col("pb"))).cast("double"))), 6)
          .as("frac_type_a"))
      qc.groupBy("sample_id").agg(count(lit(1)).as("n_probes"))
        .join(clock, Seq("sample_id"), "left")
        .join(deconv, Seq("sample_id"), "left")
        .join(sheet, "sample_id")
        .crossJoin(broadcast(nSig))
        .select(col("sample_id"), col("run"), col("group"), col("n_probes"),
          col("age_pred"), col("frac_type_a"), col("n_sig_probes"))
        .orderBy("sample_id")
    }, Some(ctes +
      """, dj AS (
        |  SELECT probe_id, sample_id, CAST(round(pval * 1010) AS BIGINT) AS j
        |  FROM detp),
        |goods AS (
        |  SELECT sample_id FROM dj GROUP BY 1
        |  HAVING sum(j) * 2 < count(*) * 101),
        |goodp AS (
        |  SELECT probe_id FROM dj JOIN goods USING (sample_id) GROUP BY 1
        |  HAVING sum(j) * 2 < count(*) * 101),
        |qc AS (
        |  SELECT b.probe_id, b.sample_id,
        |         CAST(round(b.beta * 997) AS BIGINT) AS k
        |  FROM beta b
        |  JOIN goods USING (sample_id) JOIN goodp USING (probe_id)),
        |nsig AS (
        |  SELECT count(*) AS n_sig_probes FROM (
        |    SELECT q.probe_id,
        |           CAST(sum(CASE WHEN s."group" = 'WT' THEN q.k END) AS BIGINT) AS s1,
        |           CAST(sum(CASE WHEN s."group" = 'MUT' THEN q.k END) AS BIGINT) AS s2,
        |           count(CASE WHEN s."group" = 'WT' THEN 1 END) AS n1,
        |           count(CASE WHEN s."group" = 'MUT' THEN 1 END) AS n2
        |    FROM qc q JOIN sheet s USING (sample_id) GROUP BY 1)
        |  WHERE n1 >= 3 AND n2 >= 3
        |    AND abs((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / 997.0) >= 0.05),
        |clock AS (
        |  SELECT sample_id,
        |         round(20.0 + CAST(sum(k * (p_partkey % 13 - 6)) AS DOUBLE) / 9970.0, 6) AS age_pred
        |  FROM qc JOIN (SELECT printf('cg%07d', p_partkey) AS probe_id, p_partkey
        |                FROM part WHERE p_partkey % 17 = 3) USING (probe_id)
        |  GROUP BY 1),
        |deconv AS (
        |  SELECT sample_id,
        |         round(least(1.0, greatest(0.0,
        |           CAST(sum((k - pb) * (pa - pb)) AS DOUBLE)
        |           / CAST(sum((pa - pb) * (pa - pb)) AS DOUBLE))), 6) AS frac_type_a
        |  FROM qc JOIN (SELECT printf('cg%07d', p_partkey) AS probe_id,
        |                       p_partkey * 3 % 997 AS pa, p_partkey * 7 % 997 AS pb
        |                FROM part
        |                WHERE p_partkey * 3 % 997 <> p_partkey * 7 % 997) USING (probe_id)
        |  GROUP BY 1)
        |SELECT q.sample_id, s.run, s."group",
        |       count(*) AS n_probes, any_value(c.age_pred) AS age_pred,
        |       any_value(dv.frac_type_a) AS frac_type_a,
        |       any_value(n.n_sig_probes) AS n_sig_probes
        |FROM qc q
        |JOIN sheet s USING (sample_id)
        |LEFT JOIN clock c ON q.sample_id = c.sample_id
        |LEFT JOIN deconv dv ON q.sample_id = dv.sample_id
        |CROSS JOIN nsig n
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // E2 — the full reference lifecycle (QC → BMIQ → ComBat → top-k → PCA)
    // chained as one DAG; output is the workflow's final plot-ready PCA
    // coordinate table. Rows-only. Its thresholds (QC 0.09, BMIQ ≥ 10
    // probes per type, top 50 probes, 3 PCs) are Pipelines constants.
    Q("e02_full_workflow", (s, d) =>
      graft.ops.Pipelines.fullWorkflow(
        Tables.betaLong(s, d), Tables.detpLong(s, d),
        Tables.sampleSheet(s, d), Tables.probeManifest(s, d)),
      None),

    // E4 — the LLM-curation lifecycle as one DAG: exact dedup → near-dup
    // best-of-cluster → quality gate → decontamination → chunk → pack.
    // Benchmark set = the first 5 docs (every pipeline needs SOME eval
    // holdout to scrub); output is packed training sequences with
    // provenance. Rows-only (clustering + packing are iterative kernels;
    // every stage is individually oracle-checked). The cluster stage runs
    // with the d10 df guard at its r8 DEFAULT policy: the cap derives
    // from the corpus's MEASURED duplication factor
    // (Curation.AutoMaxDf → max(256, 4·docs/approx-distinct-text-prefix)).
    // A fixed 256 was a silent behavior cliff (a sweep past 256×
    // replication loses exactly the most-duplicated content with no
    // warning — the r7 ADVICE item), and corpus-SIZE-derived caps
    // (√docs, docs/16) were both MEASURED to OOM the 64× sweep: under
    // reps-fold duplication genuine shingles sit at df = reps but junk
    // sits at df = reps·(base df), so the duplication factor is the only
    // axis that separates them. On the real corpus dupFactor = 1 → the
    // 256 floor binds → provable no-op (max shingle df 25 at sf0.1);
    // at the 64× sweep the derived cap lands at 256 → r7-parity wall
    // (72.2 s on the default 8 g heap).
    Q("e04_curation_pipeline", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val bench = docs.filter(col("doc_id") < 5)
      graft.ops.Pipelines.curationPipeline(docs.filter(col("doc_id") >= 5), bench)
        .orderBy("src_doc", "chunk_id")
    }, None),

    // K17 — per-probe Welch two-sample t (unequal-variance): the classic
    // group-difference screen beside the moderated K3 fit and the
    // nonparametric k10/k11 pair. Statistic + Welch–Satterthwaite df are a
    // fixed double sequence over ONE aggregate of exact integer moments —
    // fully oracle-checkable.
    Q("k17_welch_dmp", (s, d) =>
      welchT(s, d)
        .select(col("probe_id"), col("n1"), col("n2"), r6("delta_beta"), r6("t"), r6("df"))
        .orderBy("probe_id"),
    Some(ctes + welchChainSql + "\n" +
      """SELECT probe_id, n1, n2, round(delta_beta, 6) AS delta_beta,
        |       round(t, 6) AS t, round(df, 6) AS df
        |FROM welch ORDER BY probe_id""".stripMargin)),

    // K18 — Brown–Forsythe variance-homogeneity screen (Levene's test with
    // median centers): the pre-test that decides between pooled and
    // Welch/heteroscedastic analyses, run across the three instrument runs
    // (the k13 batch axis — unequal run VARIANCE is the other batch
    // pathology ComBat's δ² corrects). Per-(probe,run) EXACT median (the
    // w11 percentile idiom; on the 0..996 integer grid the median is x.0
    // or x.5 exactly, so the absolute deviation in DOUBLED grid units
    // |2k − 2·med| is an exact integer), then the k13 one-way-F machinery
    // on those integer deviations — moments exact, F a fixed double
    // sequence, fully oracle-checkable. Two co-keyed shuffles (median agg,
    // deviation join + moment agg).
    Q("k18_brown_forsythe", (s, d) =>
      brownForsythe(s, d)
        .select(col("probe_id"), col("n"), col("df1"), col("df2"), r6("bf_f"))
        .orderBy("probe_id"),
    Some(ctes + bfChainSql + "\n" +
      """SELECT probe_id, n, CAST(2 AS BIGINT) AS df1, n - 3 AS df2,
        |       round((ssb / 2.0) / ((sst - ssb) / (CAST(n AS DOUBLE) - 3.0)), 6) AS bf_f
        |FROM e
        |WHERE n0 >= 2 AND n1 >= 2 AND n2 >= 2 AND sst - ssb > 0.0
        |ORDER BY probe_id""".stripMargin)),

    // K18 inferential completion: Brown–Forsythe p through the codegen F
    // survival function + BH (the k13 pattern). FULLY oracle-checked (r8):
    // df1 = 2 collapses the F survival to (d2/(d2+2f))^{d2/2} — the same
    // I_x(a,1) = x^a move as k13, replayed on the shared statistic chain.
    Q("k18_bf_inference", (s, d) => {
      val stats = brownForsythe(s, d)
        .withColumn("p_value",
          expr("graft_f_sf(bf_f, CAST(df1 AS DOUBLE), CAST(df2 AS DOUBLE))"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n"), col("df1"), col("df2"), r6("bf_f"),
          r6("p_value"), r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes + bfChainSql +
      """,
        |fq AS (
        |  SELECT probe_id, n, CAST(2 AS BIGINT) AS df1, n - 3 AS df2,
        |         (ssb / 2.0) / ((sst - ssb) / (CAST(n AS DOUBLE) - 3.0)) AS bf_f
        |  FROM e
        |  WHERE n0 >= 2 AND n1 >= 2 AND n2 >= 2 AND sst - ssb > 0.0),
        |pv AS (
        |  SELECT probe_id, n, df1, df2, bf_f,
        |         power(CAST(df2 AS DOUBLE) / (CAST(df2 AS DOUBLE) + 2.0 * bf_f),
        |               CAST(df2 AS DOUBLE) / 2.0) AS p
        |  FROM fq)""".stripMargin +
      SqlOracles.bhTail("probe_id, n, df1, df2, bf_f") + "\n" +
      """SELECT probe_id, n, df1, df2, round(bf_f, 6) AS bf_f,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K17 inferential completion (the k13/k10 pattern): two-sided p from
    // the native codegen Student-t survival function at the Welch
    // fractional df, BH-adjusted across probes. FULLY oracle-checked
    // (r9): the fractional-df t tail is I_x(df/2, 1/2), which DuckDB
    // evaluates by the SAME continued fraction commons-math uses, run as
    // a fixed-depth Lentz recursion (SqlOracles.studentTFracDfPv) over
    // the shared welchChainSql (t, df) — agreement ~1e-13, far inside
    // round-6.
    Q("k17_welch_inference", (s, d) => {
      val stats = welchT(s, d).withColumn("p_value", expr("graft_t_pvalue(t, df)"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n1"), col("n2"), r6("t"), r6("df"),
          r6("p_value"), r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") + welchChainSql +
      """,
        |longt AS (SELECT probe_id, n1, n2, df, t FROM welch)""".stripMargin +
      SqlOracles.studentTFracDfPv("probe_id, n1, n2, df") +
      SqlOracles.bhTail("probe_id, n1, n2, df, t") + "\n" +
      """SELECT probe_id, n1, n2, round(t, 6) AS t, round(df, 6) AS df,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K20 — Kruskal–Wallis H across the three instrument runs: the
    // nonparametric one-way ANOVA (rank analog of k13, multi-group analog
    // of k10's Mann–Whitney — closes the nonparametric family). Same
    // tie-cell shape as k10: one data shuffle to (probe, beta) cells with
    // per-run counts, a per-probe cumulative window for average ranks in
    // exact DOUBLED integer units, then H with the tie correction as a
    // fixed double sequence. Rank sums are exact bigints; only the final
    // combination is floating point, so the DuckDB oracle is bit-for-bit.
    Q("k20_kruskal_wallis", (s, d) =>
      kruskalWallis(s, d)
        .select(col("probe_id"), col("n"), col("n0"), col("n1"), col("n2"), r6("h"))
        .orderBy("probe_id"),
    Some(ctes + kwChainSql + "\n" +
      """SELECT probe_id, n, n0, n1, n2, round(h, 6) AS h
        |FROM e ORDER BY probe_id""".stripMargin)),

    // K20 inferential completion: H ~ χ²(k−1) under H0 → p via the codegen
    // chi-square survival function + BH. FULLY oracle-checked (r8): the
    // three-run design fixes df = 2, whose survival function is the
    // elementary exp(−x/2) — DuckDB replays the whole p + BH chain (the
    // k21 move; commons-math agrees with exp(−x/2) to ~1 ulp, far inside
    // round-6).
    Q("k20_kw_inference", (s, d) => {
      val stats = kruskalWallis(s, d)
        .withColumn("p_value", expr("graft_chisq_sf(h, 2.0)"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n"), r6("h"), r6("p_value"), r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes + kwChainSql +
      """,
        |pv AS (SELECT probe_id, n, h, exp(-h / 2.0) AS p FROM e)""".stripMargin +
      SqlOracles.bhTail("probe_id, n, h") + "\n" +
      """SELECT probe_id, n, round(h, 6) AS h, round(p, 6) AS p_value,
        |       round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K37 — Dunn's post-hoc pairwise comparisons after the k20 omnibus
    // (public: Dunn 1964): WHICH run pair drives a significant H? Three z
    // rows per probe from the same one-aggregate tie-cell moments, exact
    // integers until the final double sequence — fully oracle-checked.
    Q("k37_dunn_posthoc", (s, d) =>
      dunnPairs(s, d)
        .select(col("probe_id"), col("pair"), col("n"), col("ni"), col("nj"), r6("z"))
        .orderBy("probe_id", "pair"),
    Some(ctes + dunnChainSql + "\n" +
      """SELECT probe_id, pair, n, ni, nj, round(z, 6) AS z
        |FROM dunn ORDER BY 1, 2""".stripMargin)),

    // K37 inferential completion: two-sided p per pair via χ²(1) on z²,
    // BH across ALL (probe, pair) hypotheses — the full screen → omnibus
    // → post-hoc → adjust chain. FULLY oracle-checked (r9): the erfc
    // replay over the shared dunnChainSql statistic, BH tie-broken on the
    // same probe|pair key as the Spark side.
    Q("k37_dunn_inference", (s, d) => {
      val stats = dunnPairs(s, d)
        .withColumn("p_value", expr("graft_chisq_sf(z * z, 1.0)"))
        .withColumn("key", concat(col("probe_id"), lit("|"), col("pair")))
      Analytic.bhAdjust(stats, "p_value", "key")
        .select(col("probe_id"), col("pair"), r6("z"), r6("p_value"), r6("fdr"))
        .orderBy("probe_id", "pair")
    }, Some(ctes + dunnChainSql +
      """,
        |pvarg AS (SELECT probe_id, pair, z, sqrt(z * z / 2.0) AS ex FROM dunn),
        |pv AS (SELECT probe_id, pair, z,
        |""".stripMargin +
      s"       ${SqlOracles.erfc("ex")} AS p\n" +
      "FROM pvarg)" +
      SqlOracles.bhTail("probe_id, pair, z", "probe_id || '|' || pair") + "\n" +
      """SELECT probe_id, pair, round(z, 6) AS z,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id, pair""".stripMargin)),

    // K41 — percentile BOOTSTRAP confidence interval for the per-probe
    // WT−MUT effect: the CI companion of the k30 permutation test (k30
    // answers "could this difference be chance", k41 answers "how big is
    // it, with what uncertainty"). POISSON bootstrap (the large-scale
    // standard — per-record independent Poisson(1) multiplicities,
    // Chamandy et al. 2012): each row's weight in rep r derives ON THE
    // FLY inside PoissonBootAgg from the deterministic device
    // u = (key·2654435761 + r·97561) mod 104729 (key = the sample's
    // integer id) through an integer-threshold inverse CDF — no broadcast
    // multiplicity vectors, no row×B materialization anywhere; the
    // aggregator accumulates all B weighted (sum, count) pairs per probe
    // per group in ONE pass of mergeable bigint state, and the percentile
    // CI is a row-local array_sort + element pick (ranks 5/196 of 200 =
    // 2.5% trimmed). Probes must have all 200 reps valid (≥1 weighted
    // member per group) — exact-integer state end to end, so the whole CI
    // surface hash-matches the DuckDB oracle's independent join+groupBy
    // replay of the same integer device.
    Q("k41_bootstrap_ci", (s, d) => {
      val nB = 200
      val sheet = Tables.sampleSheet(s, d)
      val bk = Tables.betaLong(s, d)
        .select(col("probe_id"), col("sample_id"), Fns.betaK.as("k"))
      val obs = groupMoments(bk.join(broadcast(sheet), "sample_id"))
      val boot = udaf(new graft.functions.PoissonBootAgg(nB))
      // repartition the SKINNY rows (4 scalars) by probe before the
      // object aggregation: with >128 keys/partition the typed-aggregator
      // path falls back to sort-based with a partial+final pair, and the
      // final exchange would carry one 6.4 KB buffer per (probe,
      // partition) — pre-shuffling the raw rows makes the partial output
      // one buffer per probe and satisfies the final's distribution, so
      // the big buffers never cross an exchange
      val st = bk.join(broadcast(sheet), "sample_id")
        // unbounded 2-arg substr — must agree with the oracle's
        // substr(sample_id, 2) and the spec replay's drop(1) for ids of
        // ANY suffix width (a fixed length diverged silently past 8 digits)
        .withColumn("key", expr("CAST(substr(sample_id, 2) AS LONG)"))
        .withColumn("is_wt", col("group") === "WT")
        .select("probe_id", "k", "is_wt", "key")
        .repartition(col("probe_id"))
        .groupBy("probe_id")
        .agg(boot(col("k"), col("is_wt"), col("key")).as("st"))
      // state layout: sa_wt 1..B, na_wt B+1..2B, sa_mut 2B+1..3B, na_mut 3B+1..4B
      def sl(off: Int) = s"element_at(st, cast(r + ${off * nB} as int))"
      st.join(obs, "probe_id")
        .withColumn("deltas", expr(
          s"""transform(sequence(1, $nB), r ->
             | CASE WHEN ${sl(1)} >= 1 AND ${sl(3)} >= 1
             |      THEN (CAST(${sl(0)} AS DOUBLE) / CAST(${sl(1)} AS DOUBLE)
             |            - CAST(${sl(2)} AS DOUBLE) / CAST(${sl(3)} AS DOUBLE)) / 997.0
             | END)""".stripMargin.replace("\n", " ")))
        .filter(expr(s"size(filter(deltas, x -> x IS NOT NULL)) = $nB"))
        .withColumn("ds", array_sort(col("deltas")))
        .select(col("probe_id"), col("n1"), col("n2"),
          round(meanDiff("1", "2") / 997.0, 6).as("delta_obs"),
          round(element_at(col("ds"), 5), 6).as("ci_lo"),
          round(element_at(col("ds"), 196), 6).as("ci_hi"))
        .orderBy("probe_id")
    }, Some(ctes +
      """, bc_u AS (
        |  SELECT s.sample_id, s."group" AS grp, r.rep,
        |         (CAST(substr(s.sample_id, 2) AS BIGINT) * 2654435761
        |          + r.rep * 97561) % 104729 AS u
        |  FROM sheet s
        |  CROSS JOIN (SELECT unnest(generate_series(1, 200)) AS rep) r),
        |bc_w AS (
        |  SELECT grp, rep, sample_id,
        |         CASE WHEN u < 38527 THEN 0 WHEN u < 77055 THEN 1
        |              WHEN u < 96319 THEN 2 WHEN u < 102740 THEN 3
        |              WHEN u < 104345 THEN 4 WHEN u < 104666 THEN 5
        |              WHEN u < 104720 THEN 6 WHEN u < 104727 THEN 7
        |              ELSE 8 END AS w
        |  FROM bc_u WHERE u >= 38527),
        |bc_bk AS (
        |  SELECT probe_id, sample_id, CAST(round(beta * 997) AS BIGINT) AS k
        |  FROM beta),
        |bc_obs AS (
        |  SELECT b.probe_id,
        |         sum(CASE WHEN g."group" = 'WT' THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN g."group" = 'WT' THEN k ELSE 0 END) AS s1,
        |         sum(CASE WHEN g."group" = 'MUT' THEN 1 ELSE 0 END) AS n2,
        |         sum(CASE WHEN g."group" = 'MUT' THEN k ELSE 0 END) AS s2
        |  FROM bc_bk b JOIN sheet g USING (sample_id)
        |  GROUP BY 1 HAVING n1 >= 3 AND n2 >= 3),
        |bc_rs AS (
        |  SELECT b.probe_id, w.rep,
        |         sum(CASE WHEN w.grp = 'WT' THEN w.w ELSE 0 END) AS nwt,
        |         sum(CASE WHEN w.grp = 'WT' THEN w.w * b.k ELSE 0 END) AS swt,
        |         sum(CASE WHEN w.grp = 'MUT' THEN w.w ELSE 0 END) AS nmut,
        |         sum(CASE WHEN w.grp = 'MUT' THEN w.w * b.k ELSE 0 END) AS smut
        |  FROM bc_bk b JOIN bc_w w USING (sample_id)
        |  GROUP BY 1, 2),
        |bc_d AS (
        |  SELECT probe_id, rep,
        |         (CAST(swt AS DOUBLE) / CAST(nwt AS DOUBLE)
        |          - CAST(smut AS DOUBLE) / CAST(nmut AS DOUBLE)) / 997.0 AS delta
        |  FROM bc_rs WHERE nwt >= 1 AND nmut >= 1),
        |bc_ok AS (
        |  SELECT probe_id, list_sort(list(delta)) AS ds
        |  FROM bc_d GROUP BY 1 HAVING count(*) = 200)
        |SELECT o.probe_id, CAST(o.n1 AS BIGINT) AS n1, CAST(o.n2 AS BIGINT) AS n2,
        |       round((CAST(o.s1 AS DOUBLE) / CAST(o.n1 AS DOUBLE)
        |              - CAST(o.s2 AS DOUBLE) / CAST(o.n2 AS DOUBLE)) / 997.0, 6) AS delta_obs,
        |       round(k.ds[5], 6) AS ci_lo,
        |       round(k.ds[196], 6) AS ci_hi
        |FROM bc_obs o JOIN bc_ok k USING (probe_id) ORDER BY 1""".stripMargin)),

    // K40 — TOST equivalence testing (two one-sided tests, public:
    // Schuirmann 1987): the question significance testing cannot answer —
    // "is the WT−MUT effect WITHIN ±δ?" (absence of evidence ≠ evidence
    // of absence; TOST gives the latter). Rides the k17 Welch pass:
    // t₁ = (Δ−δ)/se against H₀: Δ ≥ δ and t₂ = (Δ+δ)/se against
    // H₀: Δ ≤ −δ, p_tost = max of the one-sided p's through the codegen
    // Student-t (one-sided from the symmetric two-sided survival
    // function, row-local). FULLY oracle-checked (r9): both one-sided
    // tails replay through the fractional-df continued fraction
    // (SqlOracles.studentTFracDfPv, two rows per probe via a side union)
    // over the shared welchChainSql; ExactInferenceSpec additionally pins
    // both one-sided p's against commons-math's TDistribution cdf.
    Q("k40_tost_equivalence", (s, d) => {
      val delta = 0.20 // equivalence margin in beta units — wide enough
      // that ~11% of sf0.01 probes DEMONSTRATE equivalence at these n (the
      // gate binds both ways; at 0.1 the per-group SEs swamp every margin)
      welchT(s, d)
        .filter(col("se_beta") > 0.0)
        .withColumn("t1", (col("delta_beta") - lit(delta)) / col("se_beta"))
        .withColumn("t2", (col("delta_beta") + lit(delta)) / col("se_beta"))
        // p_upper = P(T < t1) (reject Δ ≥ δ), p_lower = P(T > t2)
        .withColumn("p_upper",
          when(col("t1") >= 0, lit(1.0) - expr("graft_t_pvalue(t1, df)") / 2.0)
            .otherwise(expr("graft_t_pvalue(-t1, df)") / 2.0))
        .withColumn("p_lower",
          when(col("t2") >= 0, expr("graft_t_pvalue(t2, df)") / 2.0)
            .otherwise(lit(1.0) - expr("graft_t_pvalue(-t2, df)") / 2.0))
        .withColumn("p_tost", greatest(col("p_upper"), col("p_lower")))
        .select(col("probe_id"), r6("delta_beta"), r6("se_beta"), r6("p_tost"),
          (col("p_tost") < 0.05).as("equivalent"))
        .orderBy("probe_id")
    }, Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") + welchChainSql +
      """,
        |longt AS (
        |  SELECT probe_id, 1 AS side, delta_beta, se_beta,
        |         (delta_beta - CAST(0.2 AS DOUBLE)) / se_beta AS t, df
        |  FROM welch WHERE se_beta > 0.0
        |  UNION ALL
        |  SELECT probe_id, 2 AS side, delta_beta, se_beta,
        |         (delta_beta + CAST(0.2 AS DOUBLE)) / se_beta AS t, df
        |  FROM welch WHERE se_beta > 0.0)""".stripMargin +
      SqlOracles.studentTFracDfPv("probe_id, side, delta_beta, se_beta") +
      """,
        |tq AS (
        |  SELECT probe_id, delta_beta, se_beta,
        |         max(CASE WHEN side = 1 THEN
        |               CASE WHEN t >= 0 THEN 1.0 - p / 2.0 ELSE p / 2.0 END
        |             END) AS p_upper,
        |         max(CASE WHEN side = 2 THEN
        |               CASE WHEN t >= 0 THEN p / 2.0 ELSE 1.0 - p / 2.0 END
        |             END) AS p_lower
        |  FROM pv GROUP BY 1, 2, 3)
        |SELECT probe_id, round(delta_beta, 6) AS delta_beta,
        |       round(se_beta, 6) AS se_beta,
        |       round(greatest(p_upper, p_lower), 6) AS p_tost,
        |       greatest(p_upper, p_lower) < 0.05 AS equivalent
        |FROM tq ORDER BY probe_id""".stripMargin)),

    // K38 — random-effects meta-analysis (DerSimonian–Laird) of the
    // WT−MUT effect across the three instrument runs: the multi-site
    // answer to "what is the effect, letting each batch have its own
    // truth". Per-run Welch effects + SE² from ONE 12-column conditional
    // aggregate, Q/τ²/pooled estimate as a fixed pivoted sequence —
    // fully oracle-checked.
    Q("k38_random_effects", (s, d) =>
      randomEffects(s, d)
        .select(col("probe_id"),
          round(col("y_fe") / 997.0, 6).as("delta_fe"), r6("q"), r6("tau2"),
          round(col("y_re") / 997.0, 6).as("delta_re"),
          round(col("se_re") / 997.0, 6).as("se_re"))
        .orderBy("probe_id"),
    Some(ctes +
      """, re_bg AS (
        |  SELECT b.probe_id, s.run, s."group" AS grp,
        |         CAST(round(b.beta * 997) AS BIGINT) AS k
        |  FROM beta b JOIN sheet s USING (sample_id)),
        |re_m AS (
        |  SELECT probe_id,
        |         CAST(sum(CASE WHEN run='run_0' AND grp='WT' THEN 1 ELSE 0 END) AS BIGINT) AS n1_0,
        |         CAST(sum(CASE WHEN run='run_0' AND grp='WT' THEN k ELSE 0 END) AS BIGINT) AS s1_0,
        |         CAST(sum(CASE WHEN run='run_0' AND grp='WT' THEN k*k ELSE 0 END) AS BIGINT) AS ss1_0,
        |         CAST(sum(CASE WHEN run='run_0' AND grp='MUT' THEN 1 ELSE 0 END) AS BIGINT) AS n2_0,
        |         CAST(sum(CASE WHEN run='run_0' AND grp='MUT' THEN k ELSE 0 END) AS BIGINT) AS s2_0,
        |         CAST(sum(CASE WHEN run='run_0' AND grp='MUT' THEN k*k ELSE 0 END) AS BIGINT) AS ss2_0,
        |         CAST(sum(CASE WHEN run='run_1' AND grp='WT' THEN 1 ELSE 0 END) AS BIGINT) AS n1_1,
        |         CAST(sum(CASE WHEN run='run_1' AND grp='WT' THEN k ELSE 0 END) AS BIGINT) AS s1_1,
        |         CAST(sum(CASE WHEN run='run_1' AND grp='WT' THEN k*k ELSE 0 END) AS BIGINT) AS ss1_1,
        |         CAST(sum(CASE WHEN run='run_1' AND grp='MUT' THEN 1 ELSE 0 END) AS BIGINT) AS n2_1,
        |         CAST(sum(CASE WHEN run='run_1' AND grp='MUT' THEN k ELSE 0 END) AS BIGINT) AS s2_1,
        |         CAST(sum(CASE WHEN run='run_1' AND grp='MUT' THEN k*k ELSE 0 END) AS BIGINT) AS ss2_1,
        |         CAST(sum(CASE WHEN run='run_2' AND grp='WT' THEN 1 ELSE 0 END) AS BIGINT) AS n1_2,
        |         CAST(sum(CASE WHEN run='run_2' AND grp='WT' THEN k ELSE 0 END) AS BIGINT) AS s1_2,
        |         CAST(sum(CASE WHEN run='run_2' AND grp='WT' THEN k*k ELSE 0 END) AS BIGINT) AS ss1_2,
        |         CAST(sum(CASE WHEN run='run_2' AND grp='MUT' THEN 1 ELSE 0 END) AS BIGINT) AS n2_2,
        |         CAST(sum(CASE WHEN run='run_2' AND grp='MUT' THEN k ELSE 0 END) AS BIGINT) AS s2_2,
        |         CAST(sum(CASE WHEN run='run_2' AND grp='MUT' THEN k*k ELSE 0 END) AS BIGINT) AS ss2_2
        |  FROM re_bg GROUP BY 1
        |  HAVING n1_0 >= 2 AND n2_0 >= 2 AND n1_1 >= 2 AND n2_1 >= 2
        |     AND n1_2 >= 2 AND n2_2 >= 2),
        |re_yv AS (
        |  SELECT probe_id,
        |    CAST(s1_0 AS DOUBLE)/CAST(n1_0 AS DOUBLE) - CAST(s2_0 AS DOUBLE)/CAST(n2_0 AS DOUBLE) AS y0,
        |    CAST(s1_1 AS DOUBLE)/CAST(n1_1 AS DOUBLE) - CAST(s2_1 AS DOUBLE)/CAST(n2_1 AS DOUBLE) AS y1,
        |    CAST(s1_2 AS DOUBLE)/CAST(n1_2 AS DOUBLE) - CAST(s2_2 AS DOUBLE)/CAST(n2_2 AS DOUBLE) AS y2,
        |    ((CAST(ss1_0 AS DOUBLE) - CAST(s1_0 AS DOUBLE)*CAST(s1_0 AS DOUBLE)/CAST(n1_0 AS DOUBLE)) / (CAST(n1_0 AS DOUBLE) - 1.0)) / CAST(n1_0 AS DOUBLE)
        |      + ((CAST(ss2_0 AS DOUBLE) - CAST(s2_0 AS DOUBLE)*CAST(s2_0 AS DOUBLE)/CAST(n2_0 AS DOUBLE)) / (CAST(n2_0 AS DOUBLE) - 1.0)) / CAST(n2_0 AS DOUBLE) AS v0,
        |    ((CAST(ss1_1 AS DOUBLE) - CAST(s1_1 AS DOUBLE)*CAST(s1_1 AS DOUBLE)/CAST(n1_1 AS DOUBLE)) / (CAST(n1_1 AS DOUBLE) - 1.0)) / CAST(n1_1 AS DOUBLE)
        |      + ((CAST(ss2_1 AS DOUBLE) - CAST(s2_1 AS DOUBLE)*CAST(s2_1 AS DOUBLE)/CAST(n2_1 AS DOUBLE)) / (CAST(n2_1 AS DOUBLE) - 1.0)) / CAST(n2_1 AS DOUBLE) AS v1,
        |    ((CAST(ss1_2 AS DOUBLE) - CAST(s1_2 AS DOUBLE)*CAST(s1_2 AS DOUBLE)/CAST(n1_2 AS DOUBLE)) / (CAST(n1_2 AS DOUBLE) - 1.0)) / CAST(n1_2 AS DOUBLE)
        |      + ((CAST(ss2_2 AS DOUBLE) - CAST(s2_2 AS DOUBLE)*CAST(s2_2 AS DOUBLE)/CAST(n2_2 AS DOUBLE)) / (CAST(n2_2 AS DOUBLE) - 1.0)) / CAST(n2_2 AS DOUBLE) AS v2
        |  FROM re_m),
        |re_w AS (
        |  SELECT *, 1.0/v0 AS w0, 1.0/v1 AS w1, 1.0/v2 AS w2
        |  FROM re_yv WHERE v0 > 0.0 AND v1 > 0.0 AND v2 > 0.0),
        |re_s AS (
        |  SELECT *, w0 + w1 + w2 AS sw,
        |         w0*y0 + w1*y1 + w2*y2 AS swy,
        |         w0*y0*y0 + w1*y1*y1 + w2*y2*y2 AS swy2,
        |         w0*w0 + w1*w1 + w2*w2 AS sw2
        |  FROM re_w),
        |re_q AS (
        |  SELECT *, swy2 - swy*swy/sw AS q,
        |         greatest((swy2 - swy*swy/sw - 2.0) / (sw - sw2/sw), 0.0) AS tau2
        |  FROM re_s),
        |re_u AS (
        |  SELECT *, 1.0/(v0 + tau2) AS u0, 1.0/(v1 + tau2) AS u1,
        |         1.0/(v2 + tau2) AS u2
        |  FROM re_q)
        |SELECT probe_id,
        |       round((swy/sw) / 997.0, 6) AS delta_fe,
        |       round(q, 6) AS q, round(tau2, 6) AS tau2,
        |       round(((u0*y0 + u1*y1 + u2*y2) / (u0 + u1 + u2)) / 997.0, 6) AS delta_re,
        |       round((1.0 / sqrt(u0 + u1 + u2)) / 997.0, 6) AS se_re
        |FROM re_u ORDER BY 1""".stripMargin)),

    // K39 — intraclass correlation ICC(1,1) per probe across the runs:
    // the effect-size companion of the k13 batch-effect screen ("how much
    // of the variance IS the batch") and the number a ComBat run should
    // shrink. One-way random-effects ANOVA moments with the unbalanced
    // n̄₀ correction — one aggregate, fully oracle-checked.
    Q("k39_icc", (s, d) => {
      val sumNi2 = d2("n0") * d2("n0") + d2("n1") * d2("n1") + d2("n2") * d2("n2")
      anovaSs(s, d)
        .withColumn("msb", col("ssb") / 2.0)
        .withColumn("msw", col("ssw") / (d2("n") - 3.0))
        .withColumn("nbar0", (d2("n") - sumNi2 / d2("n")) / 2.0)
        .select(col("probe_id"), col("n"), r6("msb"), r6("msw"), r6("nbar0"),
          round((col("msb") - col("msw"))
            / (col("msb") + (col("nbar0") - 1.0) * col("msw")), 6).as("icc"))
        .orderBy("probe_id")
    }, Some(ctes +
      """, ic_bg AS (
        |  SELECT b.probe_id, s.run, CAST(round(b.beta * 997) AS BIGINT) AS k
        |  FROM beta b JOIN sheet s USING (sample_id)),
        |ic_m AS (
        |  SELECT probe_id, count(*) AS n,
        |         CAST(sum(k) AS BIGINT) AS s, CAST(sum(k*k) AS BIGINT) AS ss,
        |         CAST(sum(CASE WHEN run='run_0' THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN run='run_1' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN run='run_2' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |         CAST(sum(CASE WHEN run='run_0' THEN k ELSE 0 END) AS BIGINT) AS s0,
        |         CAST(sum(CASE WHEN run='run_1' THEN k ELSE 0 END) AS BIGINT) AS s1,
        |         CAST(sum(CASE WHEN run='run_2' THEN k ELSE 0 END) AS BIGINT) AS s2
        |  FROM ic_bg GROUP BY 1
        |  HAVING n0 >= 2 AND n1 >= 2 AND n2 >= 2),
        |ic_e AS (
        |  SELECT probe_id, n,
        |    (CAST(s0 AS DOUBLE)*CAST(s0 AS DOUBLE)/CAST(n0 AS DOUBLE)
        |     + CAST(s1 AS DOUBLE)*CAST(s1 AS DOUBLE)/CAST(n1 AS DOUBLE)
        |     + CAST(s2 AS DOUBLE)*CAST(s2 AS DOUBLE)/CAST(n2 AS DOUBLE))
        |      - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS ssb,
        |    CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS sst,
        |    (CAST(n AS DOUBLE)
        |     - (CAST(n0 AS DOUBLE)*CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)*CAST(n1 AS DOUBLE)
        |        + CAST(n2 AS DOUBLE)*CAST(n2 AS DOUBLE)) / CAST(n AS DOUBLE)) / 2.0 AS nbar0
        |  FROM ic_m),
        |ic_f AS (
        |  SELECT probe_id, n, ssb, sst - ssb AS ssw, nbar0 FROM ic_e
        |  WHERE sst - ssb > 0.0)
        |SELECT probe_id, n,
        |       round(ssb / 2.0, 6) AS msb,
        |       round(ssw / (CAST(n AS DOUBLE) - 3.0), 6) AS msw,
        |       round(nbar0, 6) AS nbar0,
        |       round((ssb / 2.0 - ssw / (CAST(n AS DOUBLE) - 3.0))
        |             / (ssb / 2.0 + (nbar0 - 1.0) * (ssw / (CAST(n AS DOUBLE) - 3.0))), 6) AS icc
        |FROM ic_f ORDER BY 1""".stripMargin)),

    // K21 — Jarque–Bera normality screen: per-probe sample skewness and
    // (Pearson) kurtosis from EXACT integer moments up to order 4 on the
    // 0..996 beta grid (k ≤ 996 ⇒ Σk⁴ ≤ n·9.8e11 — bigint-safe to ~9e6
    // observations per probe), standardized moments as a fixed double
    // sequence (scale-invariant, so grid units cancel — no /997 anywhere).
    // The pre-test that justifies k03's normal-theory eBayes over the
    // k10/k11 nonparametric path. ONE hash aggregate, map-side combined.
    Q("k21_jarque_bera", (s, d) =>
      jarqueBera(s, d)
        .select(col("probe_id"), col("n"), r6("skew"), r6("kurt"), r6("jb"))
        .orderBy("probe_id"),
    Some(ctes + jbChainSql + "\n" +
      """SELECT probe_id, n, round(skew, 6) AS skew, round(kurt, 6) AS kurt,
        |       round(CAST(n AS DOUBLE) / 6.0
        |             * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0), 6) AS jb
        |FROM st ORDER BY probe_id""".stripMargin)),

    // K21 inferential completion: JB ~ χ²(2) asymptotically → p via the
    // codegen chi-square survival function + BH. FULLY oracle-checked
    // (r8): χ² with df = 2 has the elementary survival function exp(−x/2),
    // so DuckDB replays the whole p + BH chain — commons-math's
    // regularizedGammaQ(1, x/2) and exp(−x/2) agree to ~1 ulp, far inside
    // the round-6 comparison. BH is the w03 SQL mirror.
    Q("k21_jb_inference", (s, d) => {
      val stats = jarqueBera(s, d)
        .withColumn("p_value", expr("graft_chisq_sf(jb, 2.0)"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n"), r6("jb"), r6("p_value"), r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes + jbChainSql +
      """,
        |jbq AS (
        |  SELECT probe_id, n,
        |         CAST(n AS DOUBLE) / 6.0
        |           * (skew * skew + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
        |  FROM st),
        |pv AS (SELECT probe_id, n, jb, exp(-jb / 2.0) AS p FROM jbq)""".stripMargin +
      SqlOracles.bhTail("probe_id, n, jb") + "\n" +
      """SELECT probe_id, n, round(jb, 6) AS jb, round(p, 6) AS p_value,
        |       round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K22 — Mann–Kendall trend test: per-probe monotonic drift across the
    // sample collection order (sample_id's fixed-width encoding IS the
    // synthetic collection sequence — the reference's chip-position axis).
    // S = Σ_{i<j} sign(k_j − k_i) is an exact integer from the bounded
    // samples² pair join (the k08/k12 shape: pairs co-keyed on probe,
    // samples the bounded axis), tie-corrected variance
    // [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18 from one tie-cell aggregate, and
    // the continuity-corrected z a row-local double sequence. The drift
    // screen run before trusting a batch: does a probe trend with
    // processing order?
    Q("k22_mann_kendall", (s, d) =>
      mannKendall(s, d)
        .select(col("probe_id"), col("n"), col("s_stat"), r6("z"))
        .orderBy("probe_id"),
    Some(ctes + mkChainSql + "\n" +
      """SELECT probe_id, n, s_stat, round(z, 6) AS z
        |FROM mk ORDER BY probe_id""".stripMargin)),

    // K22 inferential completion: two-sided normal p via z² ~ χ²₁ through
    // the codegen chi-square survival function + BH (the k10 pattern).
    // FULLY oracle-checked (r9): the erfc replay over the shared
    // mkChainSql statistic.
    Q("k22_mk_inference", (s, d) => {
      val stats = mannKendall(s, d)
        .withColumn("p_value", expr("graft_chisq_sf(z * z, 1.0)"))
      Analytic.bhAdjust(stats, "p_value", "probe_id")
        .select(col("probe_id"), col("n"), col("s_stat"), r6("z"), r6("p_value"), r6("fdr"))
        .orderBy("probe_id")
    }, Some(ctes + mkChainSql +
      """,
        |pvarg AS (SELECT probe_id, n, s_stat, z, sqrt(z * z / 2.0) AS ex FROM mk),
        |pv AS (SELECT probe_id, n, s_stat, z,
        |""".stripMargin +
      s"       ${SqlOracles.erfc("ex")} AS p\n" +
      "FROM pvarg)" +
      SqlOracles.bhTail("probe_id, n, s_stat, z") + "\n" +
      """SELECT probe_id, n, s_stat, round(z, 6) AS z,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id""".stripMargin)),

    // K10 (plot-data scope) — 95% confidence ellipse per group, the table
    // behind the reference's `stat_ellipse(level=0.95)` on the PCA scatter
    // (workflow.R:251 etc.). Engine emits the ellipse PARAMETERS (center,
    // axis lengths, orientation); the renderer is out of scope. Points =
    // per-sample (mean beta, mean detP) — a 2-D per-sample scatter whose
    // stage-1 means come from EXACT integer grid moments, so the whole
    // chain is DuckDB-oracle-checkable (unlike the eigen-produced PC1/PC2,
    // where this same closed form applies unchanged). Stage 2 scales the
    // rounded means to exact 1e-6-grid integers; the 2×2 covariance
    // eigensystem is closed-form (θ = ½·atan2(2·cxy, cxx−cyy)), and the
    // χ²₂ 0.95 quantile is the shared literal 5.991464547107979 (= −2·ln
    // 0.05) so no libm log enters the compare. ONE narrow aggregate per
    // stage — per-sample then per-group, both trivially distributed.
    Q("k23_group_ellipse", (s, d) => {
      val perSample = Tables.betaLong(s, d)
        .withColumn("k", Fns.betaK)
        .groupBy("sample_id")
        .agg(count(lit(1)).as("nb"), sum("k").as("sk"))
        .join(Tables.detpLong(s, d)
            .withColumn("q", round(col("pval") * 1010).cast("bigint"))
            .groupBy("sample_id")
            .agg(count(lit(1)).as("np"), sum("q").as("sq")),
          Seq("sample_id"))
        .select(col("sample_id"),
          round(col("sk").cast("double") / (col("nb").cast("double") * 997.0), 6)
            .cast("double").as("x"),
          round(col("sq").cast("double") / (col("np").cast("double") * 1010.0), 6)
            .cast("double").as("y"))
        .select(col("sample_id"),
          round(col("x") * 1e6).cast("bigint").as("x6"),
          round(col("y") * 1e6).cast("bigint").as("y6"))
      val g = perSample
        .join(broadcast(Tables.sampleSheet(s, d)), "sample_id")
        .groupBy("group")
        .agg(count(lit(1)).as("n"),
          sum("x6").as("sx"), sum("y6").as("sy"),
          sum(col("x6") * col("x6")).as("sxx"),
          sum(col("x6") * col("y6")).as("sxy"),
          sum(col("y6") * col("y6")).as("syy"))
      val nD = d2("n")
      val cxx = (d2("sxx") - d2("sx") * d2("sx") / nD) / (nD - 1.0)
      val cxy = (d2("sxy") - d2("sx") * d2("sy") / nD) / (nD - 1.0)
      val cyy = (d2("syy") - d2("sy") * d2("sy") / nD) / (nD - 1.0)
      g.withColumn("cxx", cxx).withColumn("cxy", cxy).withColumn("cyy", cyy)
        .withColumn("disc",
          sqrt((col("cxx") - col("cyy")) * (col("cxx") - col("cyy")) / 4.0
            + col("cxy") * col("cxy")))
        .withColumn("l1", (col("cxx") + col("cyy")) / 2.0 + col("disc"))
        .withColumn("l2", (col("cxx") + col("cyy")) / 2.0 - col("disc"))
        .select(col("group"), col("n"),
          round(d2("sx") / nD / 1e6, 6).as("center_x"),
          round(d2("sy") / nD / 1e6, 6).as("center_y"),
          round(atan2(lit(2.0) * col("cxy"), col("cxx") - col("cyy")) / 2.0, 6)
            .as("theta"),
          round(sqrt(greatest(col("l1"), lit(0.0)) * 5.991464547107979) / 1e6, 6)
            .as("semi_major"),
          round(sqrt(greatest(col("l2"), lit(0.0)) * 5.991464547107979) / 1e6, 6)
            .as("semi_minor"))
        .orderBy("group")
    }, Some(ctes +
      """, ps AS (
        |  SELECT b.sample_id,
        |         CAST(round(round(CAST(sum(CAST(round(b.beta * 997) AS BIGINT)) AS DOUBLE)
        |             / (CAST(count(*) AS DOUBLE) * 997.0), 6) * 1e6) AS BIGINT) AS x6
        |  FROM beta b GROUP BY 1),
        |pp AS (
        |  SELECT p.sample_id,
        |         CAST(round(round(CAST(sum(CAST(round(p.pval * 1010) AS BIGINT)) AS DOUBLE)
        |             / (CAST(count(*) AS DOUBLE) * 1010.0), 6) * 1e6) AS BIGINT) AS y6
        |  FROM detp p GROUP BY 1),
        |gm AS (
        |  SELECT sh."group" AS grp, count(*) AS n,
        |         CAST(sum(x6) AS BIGINT) AS sx, CAST(sum(y6) AS BIGINT) AS sy,
        |         CAST(sum(x6 * x6) AS BIGINT) AS sxx,
        |         CAST(sum(x6 * y6) AS BIGINT) AS sxy,
        |         CAST(sum(y6 * y6) AS BIGINT) AS syy
        |  FROM ps JOIN pp USING (sample_id) JOIN sheet sh USING (sample_id)
        |  GROUP BY 1),
        |cv AS (
        |  SELECT grp, n, sx, sy,
        |         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS cxx,
        |         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS cxy,
        |         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) AS cyy
        |  FROM gm),
        |ei AS (
        |  SELECT grp, n, sx, sy, cxx, cxy, cyy,
        |         sqrt((cxx - cyy) * (cxx - cyy) / 4.0 + cxy * cxy) AS disc
        |  FROM cv)
        |SELECT grp AS "group", n,
        |       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS center_x,
        |       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6) AS center_y,
        |       round(atan2(2.0 * cxy, cxx - cyy) / 2.0, 6) AS theta,
        |       round(sqrt(greatest((cxx + cyy) / 2.0 + disc, 0.0) * 5.991464547107979) / 1e6, 6) AS semi_major,
        |       round(sqrt(greatest((cxx + cyy) / 2.0 - disc, 0.0) * 5.991464547107979) / 1e6, 6) AS semi_minor
        |FROM ei ORDER BY "group"""".stripMargin)),

    // K9 (plot-data scope) — BMIQ's fitted-mixture diagnostic: the
    // analytic 3-class beta mixture density per (sample, design type) on a
    // fixed grid, deterministic where the reference uses rmultinom/rbeta
    // draws to approximate the same curve (BMIQ_1.4.R:82-93,134-146).
    // Rows-only (EM kernel); BmiqSpec pins component/total consistency,
    // unit mass, and lockstep with the normalization fit.
    Q("k25_bmiq_fit_density", (s, d) =>
      Bmiq.fittedDensity(Tables.betaLong(s, d), Tables.probeManifest(s, d), gridN = 50)
        .select(col("sample_id"), col("design_type"), r6("x"), r6("dens_u"), r6("dens_h"),
          r6("dens_m"), r6("density"))
        .orderBy("sample_id", "design_type", "x"),
      None),

    // K8 (plot-data scope) — pheatmap's sample dendrogram as a table:
    // distributed k08-style distances (the oracle-checked aggregate), then
    // the O(samples³) UPGMA merge loop on the bounded axis. step=0 rows
    // carry the leaf order, step>0 rows the merge schedule with heights.
    // FULLY ORACLE-CHECKED since r8: the whole UPGMA merge schedule —
    // argmin pair per step under the (distance, lo, hi) tie order, the
    // (|a|·d(a,c)+|b|·d(b,c))/(|a|+|b|) average-linkage update, the
    // creation-ordered member concatenation that defines the leaf order —
    // replays in DuckDB as ONE recursive CTE over the oracle-checked k08
    // distance matrix (the c01 closure pattern, extended to carry the
    // live distance matrix + cluster state through each recursion level).
    // Both engines run the identical IEEE op sequence (int-sized
    // multiplies, one add, one divide per update), so the merge heights
    // hash-match bit-for-bit; HclustSpec still pins a hand-computed
    // linkage and the SciPy-convention invariants. PRECONDITION: the
    // oracle assumes full pairwise coverage (every sample pair shares
    // ≥1 probe — true by construction of the sf grids, verified 4950/4950
    // at sf0.01); the Scala side additionally defines missing pairs as
    // Double.MaxValue merges-last (Hclust.mergeTable), a branch the SQL
    // replay does not carry — on a probe-disjoint corpus use the Scala
    // surface, whose behavior HclustSpec pins.
    Q("k24_hclust_dendrogram", (s, d) =>
      Hclust.mergeTable(s, Tables.betaLong(s, d)),
      Some(ctes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, kb AS (
          |  SELECT probe_id, sample_id, CAST(round(beta * 997) AS BIGINT) AS k
          |  FROM beta),
          |dist AS (
          |  SELECT a.sample_id AS sa, b.sample_id AS sb,
          |         CAST(sum((a.k - b.k) * (a.k - b.k)) AS DOUBLE)
          |           / (994009.0 * CAST(count(*) AS DOUBLE)) AS d
          |  FROM kb a JOIN kb b
          |    ON a.probe_id = b.probe_id AND a.sample_id < b.sample_id
          |  GROUP BY 1, 2),
          |-- UPGMA replay: each recursion level = one agglomeration step.
          |-- State rows: kind 'd' = live pairwise distance (a < b), kind
          |-- 's' = live cluster (size, creation order, ordered member
          |-- list), kind 'm' = accumulated merge schedule (re-emitted
          |-- every level so it survives to the final iteration).
          |upgma AS (
          |  (
          |    SELECT 0 AS iter, 'd' AS kind, sa AS a, sb AS b, d,
          |           CAST(NULL AS BIGINT) AS sz, CAST(NULL AS BIGINT) AS created,
          |           CAST(NULL AS VARCHAR) AS members, CAST(NULL AS INT) AS mstep
          |    FROM dist
          |    UNION ALL
          |    SELECT 0, 's', sample_id, NULL, NULL, 1,
          |           row_number() OVER (ORDER BY sample_id) - 1, sample_id, NULL
          |    FROM (SELECT DISTINCT s AS sample_id
          |          FROM (SELECT sa AS s FROM dist UNION SELECT sb FROM dist))
          |  )
          |  UNION ALL
          |  (
          |    WITH g AS (SELECT max(iter) + 1 AS it,
          |                      CAST(coalesce(max(mstep), 0) + 1 AS INT) AS st,
          |                      max(created) + 1 AS cr
          |               FROM upgma),
          |         bst AS (SELECT a AS la, b AS lb, d AS h FROM upgma
          |                 WHERE kind = 'd' ORDER BY d, a, b LIMIT 1),
          |         s1 AS (SELECT u.* FROM upgma u, bst WHERE u.kind = 's' AND u.a = bst.la),
          |         s2 AS (SELECT u.* FROM upgma u, bst WHERE u.kind = 's' AND u.a = bst.lb)
          |    SELECT g.it, 'm', w.a, w.b, w.d, w.sz, NULL, NULL, w.mstep
          |    FROM upgma w, g, bst WHERE w.kind = 'm'
          |    UNION ALL
          |    SELECT g.it, 'm', bst.la, bst.lb, bst.h, s1.sz + s2.sz, NULL, NULL, g.st
          |    FROM g, bst, s1, s2
          |    UNION ALL
          |    SELECT g.it, 's', w.a, NULL, NULL, w.sz, w.created, w.members, NULL
          |    FROM upgma w, g, bst WHERE w.kind = 's' AND w.a <> bst.la AND w.a <> bst.lb
          |    UNION ALL
          |    SELECT g.it, 's', 'N' || g.st, NULL, NULL, s1.sz + s2.sz, g.cr,
          |           CASE WHEN s1.created <= s2.created
          |                THEN s1.members || '|' || s2.members
          |                ELSE s2.members || '|' || s1.members END, NULL
          |    FROM g, bst, s1, s2
          |    UNION ALL
          |    SELECT g.it, 'd', w.a, w.b, w.d, NULL, NULL, NULL, NULL
          |    FROM upgma w, g, bst
          |    WHERE w.kind = 'd' AND w.a <> bst.la AND w.a <> bst.lb
          |      AND w.b <> bst.la AND w.b <> bst.lb
          |    UNION ALL
          |    SELECT g.it, 'd', least(w.a, 'N' || g.st), greatest(w.a, 'N' || g.st),
          |           (s1.sz * dx.d + s2.sz * dy.d) / CAST(s1.sz + s2.sz AS DOUBLE),
          |           NULL, NULL, NULL, NULL
          |    FROM upgma w
          |    CROSS JOIN g CROSS JOIN bst CROSS JOIN s1 CROSS JOIN s2
          |    JOIN upgma dx ON dx.kind = 'd'
          |      AND dx.a = least(w.a, bst.la) AND dx.b = greatest(w.a, bst.la)
          |    JOIN upgma dy ON dy.kind = 'd'
          |      AND dy.a = least(w.a, bst.lb) AND dy.b = greatest(w.a, bst.lb)
          |    WHERE w.kind = 's' AND w.a <> bst.la AND w.a <> bst.lb
          |  )
          |),
          |fin AS (SELECT * FROM upgma WHERE iter = (SELECT max(iter) FROM upgma))
          |SELECT CAST(mstep AS INT) AS step, a AS "left", b AS "right",
          |       round(d, 6) AS height, CAST(sz AS INT) AS size,
          |       CAST(NULL AS INT) AS leaf_pos
          |FROM fin WHERE kind = 'm'
          |UNION ALL
          |SELECT 0, leaf, 'leaf', 0.0, 1, CAST(idx - 1 AS INT)
          |FROM (SELECT unnest(string_split(members, '|')) AS leaf,
          |             generate_subscripts(string_split(members, '|'), 1) AS idx
          |      FROM fin WHERE kind = 's')
          |ORDER BY step, "left"""".stripMargin)),

    // K7 (reclaimed round 6) — pOOBAH detection p-values (SeSAMe, Zhou et
    // al. NAR 2018; reference gate at /root/reference/idat.r:71): per
    // (sample, channel) empirical background from Type I out-of-band
    // intensities, p = 1 − ecdf(signal), computed distributively by the
    // union-and-running-count window (ops/Poobah.scala — one shuffle; a
    // window partition is array-size bounded). Fully oracle-checked: the
    // ecdf is exact integer counting and the final division is the same
    // IEEE op sequence in both engines.
    Q("k26_poobah_detp", (s, d) =>
      graft.ops.Poobah.detectionP(Tables.idatLong(s, d))
        .orderBy("sample_id", "probe_id"),
      Some(ctes +
        """SELECT sample_id, probe_id, detp
          |FROM idat_detp ORDER BY 1, 2""".stripMargin)),

    // K27 — χ² test of independence on the lang × source contingency table
    // (documents): observed counts exact integers, margins via windows over
    // the CELL table (bounded langs × sources — the window never sees a
    // document row), expected/contribution row-local doubles, and the
    // statistic as a DETERMINISTIC ordered running sum (the a31 Benford
    // pattern). Fully oracle-checked.
    Q("k27_chisq_independence", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = chisqCells(s, d)
      val wL = Window.partitionBy("lang")
      val wS = Window.partitionBy("source")
      val wAll = Window.partitionBy()
      val wRun = Window.orderBy("lang", "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val o = col("obs").cast("double")
      cells
        .withColumn("row_tot", sum("obs").over(wL))
        .withColumn("col_tot", sum("obs").over(wS))
        .withColumn("grand", sum("obs").over(wAll))
        .withColumn("exp_cnt", col("row_tot").cast("double")
          * col("col_tot").cast("double") / col("grand").cast("double"))
        .withColumn("contrib", (o - col("exp_cnt")) * (o - col("exp_cnt")) / col("exp_cnt"))
        .withColumn("chisq_running", sum("contrib").over(wRun))
        .select(col("lang"), col("source"), col("obs"), r6("exp_cnt"), r6("contrib"),
          r6("chisq_running"))
        .orderBy("lang", "source")
    }, Some(
      """WITH ci_seen AS (
        |  SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
        |ci_cells AS (
        |  SELECT g.lang, g.source, CAST(coalesce(s.obs, 0) AS BIGINT) AS obs
        |  FROM (SELECT l.lang, c.source
        |        FROM (SELECT DISTINCT lang FROM ci_seen) l
        |        CROSS JOIN (SELECT DISTINCT source FROM ci_seen) c) g
        |  LEFT JOIN ci_seen s ON s.lang = g.lang AND s.source = g.source),
        |ci_m AS (
        |  SELECT lang, source, obs,
        |         CAST(sum(obs) OVER (PARTITION BY lang) AS DOUBLE) AS row_tot,
        |         CAST(sum(obs) OVER (PARTITION BY source) AS DOUBLE) AS col_tot,
        |         CAST(sum(obs) OVER () AS DOUBLE) AS grand
        |  FROM ci_cells),
        |ci_e AS (
        |  SELECT lang, source, obs, row_tot * col_tot / grand AS exp_cnt,
        |         (CAST(obs AS DOUBLE) - row_tot * col_tot / grand)
        |           * (CAST(obs AS DOUBLE) - row_tot * col_tot / grand)
        |           / (row_tot * col_tot / grand) AS contrib
        |  FROM ci_m)
        |SELECT lang, source, obs, round(exp_cnt, 6) AS exp_cnt,
        |       round(contrib, 6) AS contrib,
        |       round(sum(contrib) OVER (ORDER BY lang, source
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS chisq_running
        |FROM ci_e ORDER BY 1, 2""".stripMargin)),

    // K27 inferential completion: χ² ~ χ²((R−1)(C−1)) under independence →
    // p via the codegen chi-square survival function. Rows-only (the CDF
    // has no SQL analog; the statistic and cells ride k27's oracle).
    Q("k27_chisq_inference", (s, d) => {
      val cells = chisqCells(s, d)
      val agg = cells.agg(
        countDistinct("lang").as("n_lang"),
        countDistinct("source").as("n_source"),
        sum("obs").as("grand"))
      // statistic recomputed from exact margins (sum-of-squares identity:
      // chi2 = Σ obs²/E − N, each term row-local after two margin joins on
      // the bounded cell table)
      val rows = cells
        .join(cells.groupBy("lang").agg(sum("obs").as("row_tot")), "lang")
        .join(cells.groupBy("source").agg(sum("obs").as("col_tot")), "source")
      val byCell = rows.crossJoin(broadcast(agg))
        .withColumn("exp_cnt", col("row_tot").cast("double")
          * col("col_tot").cast("double") / col("grand").cast("double"))
        .withColumn("contrib",
          (col("obs").cast("double") - col("exp_cnt"))
            * (col("obs").cast("double") - col("exp_cnt")) / col("exp_cnt"))
      import org.apache.spark.sql.expressions.Window
      val wRun = Window.orderBy("lang", "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAllRows = Window.orderBy("lang", "source")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byCell
        .withColumn("chisq", sum("contrib").over(wRun))
        .withColumn("n_cells", count(lit(1)).over(wAllRows))
        .withColumn("rn", row_number().over(Window.orderBy(col("lang").desc, col("source").desc)))
        .filter(col("rn") === 1)
        .withColumn("df", ((col("n_lang") - 1) * (col("n_source") - 1)).cast("double"))
        .select(col("n_lang"), col("n_source"), col("n_cells"), r6("chisq"), col("df"),
          round(expr("graft_chisq_sf(chisq, df)"), 6).as("p_value"))
      // FULLY oracle-checked (r8): the 5-language × 20-source grid fixes
      // df = 4·19 = 76 — EVEN, so the χ² survival is the elementary
      // exp(−x/2)·Σ_{i<df/2}(x/2)^i/i!, which DuckDB replays as an ordered
      // 38-term running sum (terms via power/gamma, all positive — no
      // cancellation; agreement with commons-math ~1e-13, far inside
      // round-6). The Spark side stays generic in df.
    }, Some(
      """WITH cells0 AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
        |  FROM documents GROUP BY 1, 2),
        |grid AS (
        |  SELECT l.lang, s.source
        |  FROM (SELECT DISTINCT lang FROM cells0) l
        |  CROSS JOIN (SELECT DISTINCT source FROM cells0) s),
        |cells AS (
        |  SELECT g.lang, g.source, coalesce(c.obs, 0) AS obs
        |  FROM grid g LEFT JOIN cells0 c USING (lang, source)),
        |ag AS (
        |  SELECT count(DISTINCT lang) AS n_lang,
        |         count(DISTINCT source) AS n_source,
        |         CAST(sum(obs) AS BIGINT) AS grand,
        |         count(*) AS n_cells
        |  FROM cells),
        |rt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_tot FROM cells GROUP BY 1),
        |cl AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_tot FROM cells GROUP BY 1),
        |bc AS (
        |  SELECT c.lang, c.source,
        |         (CAST(c.obs AS DOUBLE)
        |            - CAST(rt.row_tot AS DOUBLE) * CAST(cl.col_tot AS DOUBLE) / CAST(ag.grand AS DOUBLE))
        |         * (CAST(c.obs AS DOUBLE)
        |            - CAST(rt.row_tot AS DOUBLE) * CAST(cl.col_tot AS DOUBLE) / CAST(ag.grand AS DOUBLE))
        |         / (CAST(rt.row_tot AS DOUBLE) * CAST(cl.col_tot AS DOUBLE) / CAST(ag.grand AS DOUBLE)) AS contrib
        |  FROM cells c JOIN rt USING (lang) JOIN cl USING (source) CROSS JOIN ag),
        |run AS (
        |  SELECT sum(contrib) OVER (ORDER BY lang, source
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chisq,
        |         row_number() OVER (ORDER BY lang DESC, source DESC) AS rn
        |  FROM bc),
        |x AS (SELECT chisq FROM run WHERE rn = 1),
        |dfq AS (
        |  SELECT CASE WHEN (n_lang - 1) * (n_source - 1) >= 200
        |              THEN CAST(error('k27 even-df chi-square series is capped at df < 200; raise the range(0, 100) literal') AS DOUBLE)
        |              ELSE CAST((n_lang - 1) * (n_source - 1) AS DOUBLE) END AS df
        |  FROM ag),
        |terms AS (
        |  SELECT kk.i,
        |         power(x.chisq / 2.0, kk.i) / gamma(CAST(kk.i AS DOUBLE) + 1.0) AS term
        |  FROM x CROSS JOIN dfq
        |  CROSS JOIN (SELECT unnest(range(0, 100)) AS i) kk
        |  WHERE CAST(kk.i AS DOUBLE) < df / 2.0),
        |srun AS (
        |  SELECT sum(term) OVER (ORDER BY i
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sm,
        |         row_number() OVER (ORDER BY i DESC) AS rk
        |  FROM terms)
        |SELECT ag.n_lang, ag.n_source, ag.n_cells,
        |       round(x.chisq, 6) AS chisq, dfq.df,
        |       round(exp(-x.chisq / 2.0) * s.sm, 6) AS p_value
        |FROM ag CROSS JOIN x CROSS JOIN dfq
        |CROSS JOIN (SELECT sm FROM srun WHERE rk = 1) s""".stripMargin)),

    // K28 — Kaplan–Meier survival curves per user cohort: time-to-first-
    // purchase from first contact, right-censored at last activity
    // (ops/Survival.kaplanMeier — windows over per-(group, duration)
    // aggregates; the product-limit estimator as exp of an ORDERED running
    // sum of log terms, extinction handled without ln(0)). Fully
    // oracle-checked including the survival doubles.
    Q("k28_kaplan_meier", (s, d) =>
      Survival.kaplanMeier(kmSubjects(s, d))
        .select(col("grp"), col("duration_h"), col("n_risk"), col("d_events"), r6("survival"),
          r6("greenwood_se"))
        .orderBy("grp", "duration_h"),
    Some(
      s"""WITH $kmSubjSql,
         |km_risk AS (
         |  SELECT grp, duration_h, d,
         |         CAST(sum(n_all) OVER (PARTITION BY grp ORDER BY duration_h DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
         |  FROM km_dur),
         |km_ev AS (SELECT * FROM km_risk WHERE d > 0),
         |km_s AS (
         |  SELECT grp, duration_h, n_risk, d,
         |         max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER wasc AS extinct,
         |         sum(CASE WHEN d < n_risk
         |                  THEN ln(CAST(n_risk - d AS DOUBLE) / CAST(n_risk AS DOUBLE)) END)
         |           OVER wasc AS lsum,
         |         sum(CASE WHEN d < n_risk
         |                  THEN CAST(d AS DOUBLE)
         |                       / (CAST(n_risk AS DOUBLE) * CAST(n_risk - d AS DOUBLE)) END)
         |           OVER wasc AS gwsum
         |  FROM km_ev
         |  WINDOW wasc AS (PARTITION BY grp ORDER BY duration_h ASC
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT grp, duration_h, n_risk, d AS d_events,
         |       round(CASE WHEN extinct = 1 THEN 0.0 ELSE exp(lsum) END, 6) AS survival,
         |       round(CASE WHEN extinct = 1 THEN 0.0
         |                  ELSE exp(lsum) * sqrt(gwsum) END, 6) AS greenwood_se
         |FROM km_s ORDER BY 1, 2""".stripMargin)),

    // K28 — two-group log-rank test: observed vs expected cohort-A events
    // with hypergeometric variance at every pooled event time; n_g at
    // pooled times via the union-and-running-count trick (the pOOBAH ecdf
    // shape — no asof machinery, one window). E/V totals are ordered
    // running sums → the statistic is oracle-checked bit-for-bit.
    Q("k28_logrank", (s, d) =>
      Survival.logRank(kmSubjects(s, d), "cohort_a")
        .select(col("grp_a"), col("n_times"), col("o_a"), r6("e_a"), r6("var_a"), r6("chi2")),
    Some(
      s"""WITH $kmSubjSql,
         |$lrRiskSql,
         |$lrChainSql
         |SELECT grp_a, n_times, o_a, round(e_a, 6) AS e_a,
         |       round(var_a, 6) AS var_a, round(chi2, 6) AS chi2
         |FROM lr""".stripMargin)),

    // K28 inferential completion: log-rank χ² ~ χ²(1) under H₀ → p via the
    // codegen chi-square survival function. FULLY oracle-checked (r9):
    // χ²(1) sf = erfc(√(x/2)) through the Cody replay over the shared
    // lrChainSql statistic.
    Q("k28_logrank_inference", (s, d) => {
      Survival.logRank(kmSubjects(s, d), "cohort_a")
        .select(col("grp_a"), col("o_a"), r6("e_a"), r6("chi2"),
          round(expr("graft_chisq_sf(chi2, 1.0)"), 6).as("p_value"))
    }, Some(
      s"""WITH $kmSubjSql,
         |$lrRiskSql,
         |$lrChainSql,
         |pvarg AS (SELECT grp_a, o_a, e_a, chi2, sqrt(chi2 / 2.0) AS ex FROM lr)
         |SELECT grp_a, o_a, round(e_a, 6) AS e_a, round(chi2, 6) AS chi2,
         |       round(${SqlOracles.erfc("ex")}, 6) AS p_value
         |FROM pvarg""".stripMargin)),

    // K29 — Fisher's exact test on the QC-failure × batch 2×2 table (did
    // run_0 produce more failing samples than chance?): the small-cell
    // companion of the k27 χ² screen, and the test every enrichment
    // analysis downstream of a DMP list runs. Sample-level gate = p09's
    // exact-integer rule, so the 2×2 margins live on the BOUNDED sample
    // axis — the k-support never grows with data volume, only with sample
    // count. Shape: one bounded aggregate → 1 row → explode the
    // hypergeometric support → row-local codegen `graft_lgamma` chain →
    // one ordered running sum. The two-sided p (sum of all tables no more
    // probable than observed, R fisher.test's definition, relative slack
    // 1e-7) is FULLY oracle-checked — DuckDB's C lgamma and commons-math's
    // Lanczos agree far below the 1e-6 rounding.
    Q("k29_fisher_exact", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val tab = failTable(s, d, Nil, col("run") === "run_0")
      val sup = tab.withColumn("kk",
          explode(sequence(greatest(lit(0L), col("r1") + col("c1") - col("n")),
            least(col("r1"), col("c1")))))
        .withColumn("logp", expr(
          """graft_lgamma(CAST(r1 + 1 AS DOUBLE)) - graft_lgamma(CAST(kk + 1 AS DOUBLE))
            | - graft_lgamma(CAST(r1 - kk + 1 AS DOUBLE))
            | + graft_lgamma(CAST(r2 + 1 AS DOUBLE)) - graft_lgamma(CAST(c1 - kk + 1 AS DOUBLE))
            | - graft_lgamma(CAST(r2 - c1 + kk + 1 AS DOUBLE))
            | + graft_lgamma(CAST(c1 + 1 AS DOUBLE)) + graft_lgamma(CAST(c2 + 1 AS DOUBLE))
            | - graft_lgamma(CAST(n + 1 AS DOUBLE))""".stripMargin.replace("\n", " ")))
      val wAll = Window.orderBy("kk")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRun = Window.orderBy("kk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      sup
        .withColumn("logp_obs", max(when(col("kk") === col("a"), col("logp"))).over(wAll))
        .withColumn("p_run",
          sum(when(col("logp") <= col("logp_obs") + 1e-7, exp(col("logp")))
            .otherwise(0.0)).over(wRun))
        .withColumn("rn", row_number().over(Window.orderBy(col("kk").desc)))
        .filter(col("rn") === 1)
        .select(col("n"), col("r1").as("qc_fail"), col("c1").as("run0_n"),
          col("a").as("obs_a"),
          round(when(col("b") * col("c") > 0,
            (col("a") * col("dd")).cast("double")
              / (col("b") * col("c")).cast("double")), 6).as("odds_ratio"),
          round(least(col("p_run"), lit(1.0)), 6).as("p_fisher"))
    }, Some(ctes +
      """, fe_qc AS (
        |  SELECT q.sample_id, (q.sk * 20 >= q.nn * 1010) AS fail,
        |         (s.run = 'run_0') AS run0
        |  FROM (SELECT sample_id,
        |               CAST(sum(CAST(round(pval * 1010) AS BIGINT)) AS BIGINT) AS sk,
        |               count(*) AS nn
        |        FROM detp GROUP BY 1) q
        |  JOIN sheet s USING (sample_id)),
        |fe_tab AS (
        |  SELECT CAST(sum(CASE WHEN fail AND run0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |         CAST(sum(CASE WHEN fail AND NOT run0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |         CAST(sum(CASE WHEN NOT fail AND run0 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |         CAST(sum(CASE WHEN NOT fail AND NOT run0 THEN 1 ELSE 0 END) AS BIGINT) AS dd
        |  FROM fe_qc),
        |fe_m AS (
        |  SELECT a, b, c, dd, a + b AS r1, c + dd AS r2, a + c AS c1,
        |         b + dd AS c2, a + b + c + dd AS n
        |  FROM fe_tab),
        |fe_sup AS (
        |  SELECT m.*, unnest(generate_series(greatest(0, m.r1 + m.c1 - m.n),
        |                                     least(m.r1, m.c1))) AS kk
        |  FROM fe_m m),
        |fe_lp AS (
        |  SELECT *,
        |         lgamma(CAST(r1 + 1 AS DOUBLE)) - lgamma(CAST(kk + 1 AS DOUBLE))
        |           - lgamma(CAST(r1 - kk + 1 AS DOUBLE))
        |           + lgamma(CAST(r2 + 1 AS DOUBLE)) - lgamma(CAST(c1 - kk + 1 AS DOUBLE))
        |           - lgamma(CAST(r2 - c1 + kk + 1 AS DOUBLE))
        |           + lgamma(CAST(c1 + 1 AS DOUBLE)) + lgamma(CAST(c2 + 1 AS DOUBLE))
        |           - lgamma(CAST(n + 1 AS DOUBLE)) AS logp
        |  FROM fe_sup),
        |fe_sel AS (
        |  SELECT *, max(CASE WHEN kk = a THEN logp END) OVER () AS logp_obs
        |  FROM fe_lp),
        |fe_run AS (
        |  SELECT *,
        |         sum(CASE WHEN logp <= logp_obs + 1e-7 THEN exp(logp) ELSE 0.0 END)
        |           OVER (ORDER BY kk ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_run,
        |         row_number() OVER (ORDER BY kk DESC) AS rn
        |  FROM fe_sel)
        |SELECT n, r1 AS qc_fail, c1 AS run0_n, a AS obs_a,
        |       round(CASE WHEN b * c > 0
        |                  THEN CAST(a * dd AS DOUBLE) / CAST(b * c AS DOUBLE) END, 6) AS odds_ratio,
        |       round(least(p_run, 1.0), 6) AS p_fisher
        |FROM fe_run WHERE rn = 1""".stripMargin)),

    // K30 — per-probe PERMUTATION test of the WT−MUT group-mean difference:
    // the assumption-free companion of the k17 Welch t. B=200 deterministic
    // pseudo-permutations of the SAMPLE labels (one shared permutation per
    // rep, as a DMP permutation test requires): samples ranked by an LCG
    // key ((sidx·2654435761 + rep·40503) mod 104729, ties by sidx), first
    // n_WT ranks → group A. Everything stays in exact integer units —
    // the mean-difference comparison |Δ_r| ≥ |Δ_obs| cross-multiplies the
    // varying per-probe group sizes into bigint products (≤ ~2.5e14 at
    // 1000 samples, far under 2^63) — so the whole query is hash-exact and
    // FULLY oracle-checked, the property no asymptotic test can offer.
    // Shape: grid ⋈ broadcast(permA: n_WT·B rows) → ONE map-side-combined
    // hash aggregate to (probe, rep) → probe-keyed count aggregate; the
    // deliberate B× pre-combine amplification IS the cost of permutation
    // testing, and it rides map-side combine, never a bigger shuffle
    // (shuffle rows = probes × B).
    Q("k30_permutation_dmp", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val nB = 200L
      val sheet = Tables.sampleSheet(s, d)
      val idx = sheet.select("sample_id")
        .withColumn("sidx", row_number().over(Window.orderBy("sample_id")).cast("long"))
      val nWt = sheet.agg(
        sum(when(col("group") === "WT", 1L).otherwise(0L)).as("n_wt"))
      val permA = idx
        .withColumn("rep", explode(sequence(lit(1L), lit(nB))))
        .withColumn("key",
          (col("sidx") * 2654435761L + col("rep") * 40503L) % 104729L)
        .withColumn("rnk",
          row_number().over(Window.partitionBy("rep").orderBy("key", "sidx")).cast("long"))
        .crossJoin(broadcast(nWt))
        .filter(col("rnk") <= col("n_wt"))
        .select("sample_id", "rep")
      val bk = Tables.betaLong(s, d)
        .select(col("probe_id"), col("sample_id"), Fns.betaK.as("k"))
      // n and s over all of a probe's samples, n1 and s1 over its WT ones
      val obs = levelMoments(bk.join(broadcast(sheet), "sample_id"), Seq("probe_id"),
          col("k"), groupLevels.take(1))
        .filter(col("n1") >= 3 && col("n") - col("n1") >= 3)
      // one-pass permutation sufficient statistics: each sample carries the
      // list of reps that put it in group A (a ~B/2-int array on a bounded
      // dim, broadcast); a typed Aggregator accumulates all B (na, sa)
      // pairs per probe in ONE hash aggregate — no row × B expansion, and
      // the shuffle carries probes × 2B longs of mergeable state. The
      // DuckDB oracle checks the same result through its independent
      // join+groupBy plan.
      val mask = permA.groupBy("sample_id")
        .agg(collect_list(col("rep").cast("int")).as("reps"))
      val permAgg = udaf(new graft.functions.PermSumAgg(nB.toInt))
      val state = bk.join(broadcast(mask), "sample_id")
        .groupBy("probe_id")
        .agg(permAgg(col("k"), col("reps")).as("st"))
      // the rep-level compare never leaves the row: na(r)/sa(r) are array
      // slots, so b_valid/b_ge are row-local folds over the 2B-long state
      // (probes rows total) instead of a probes×B explode→join→re-aggregate
      val naE = s"element_at(st, cast(r + ${nB}L as int))"
      val saE = "element_at(st, cast(r as int))"
      val validE = s"$naE >= 1 AND $naE < n"
      state.join(obs, "probe_id")
        .withColumn("dnum_o", abs(col("s1") * col("n") - col("s") * col("n1")))
        .withColumn("wo", col("n1") * (col("n") - col("n1")))
        .withColumn("b_valid",
          expr(s"size(filter(sequence(1, ${nB}L), r -> $validE))").cast("bigint"))
        .withColumn("b_ge",
          expr(s"""size(filter(sequence(1, ${nB}L), r -> $validE
                  | AND abs($saE * n - s * $naE) * wo
                  |     >= dnum_o * ($naE * (n - $naE))))"""
            .stripMargin.replace("\n", " ")).cast("bigint"))
        .withColumn("dmean", col("s1").cast("double") / col("n1").cast("double")
          - (col("s") - col("s1")).cast("double")
            / (col("n") - col("n1")).cast("double"))
        .select(col("probe_id"), col("n"), col("n1"), col("b_valid"), col("b_ge"),
          round(col("dmean") / 997.0, 6).as("delta_beta"),
          round((col("b_ge") + 1).cast("double")
            / (col("b_valid") + 1).cast("double"), 6).as("p_perm"))
        .orderBy("probe_id")
    }, Some(ctes +
      """, pm_idx AS (
        |  SELECT sample_id, row_number() OVER (ORDER BY sample_id) AS sidx
        |  FROM sheet),
        |pm_nwt AS (SELECT count(*) AS n_wt FROM sheet WHERE "group" = 'WT'),
        |pm_perm AS (
        |  SELECT sample_id, rep,
        |         row_number() OVER (PARTITION BY rep
        |           ORDER BY (sidx * 2654435761 + rep * 40503) % 104729, sidx) AS rnk
        |  FROM pm_idx CROSS JOIN
        |       (SELECT unnest(generate_series(1, 200)) AS rep)),
        |pm_a AS (
        |  SELECT p.sample_id, p.rep FROM pm_perm p, pm_nwt w WHERE p.rnk <= w.n_wt),
        |pm_bk AS (
        |  SELECT probe_id, sample_id,
        |         CAST(round(beta * 997) AS BIGINT) AS k
        |  FROM beta),
        |pm_obs AS (
        |  SELECT probe_id, count(*) AS n, sum(k) AS stot,
        |         sum(CASE WHEN g."group" = 'WT' THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN g."group" = 'WT' THEN k ELSE 0 END) AS s1
        |  FROM pm_bk b JOIN sheet g USING (sample_id)
        |  GROUP BY 1
        |  HAVING n1 >= 3 AND n - n1 >= 3),
        |pm_pa AS (
        |  SELECT probe_id, rep, count(*) AS na, sum(k) AS sa
        |  FROM pm_bk b JOIN pm_a a USING (sample_id)
        |  GROUP BY 1, 2),
        |pm_cmp AS (
        |  SELECT p.probe_id, o.n, o.n1,
        |         abs(p.sa * o.n - o.stot * p.na) AS dnum_r,
        |         p.na * (o.n - p.na) AS wr,
        |         abs(o.s1 * o.n - o.stot * o.n1) AS dnum_o,
        |         o.n1 * (o.n - o.n1) AS wo,
        |         CAST(o.s1 AS DOUBLE) / CAST(o.n1 AS DOUBLE)
        |           - CAST(o.stot - o.s1 AS DOUBLE) / CAST(o.n - o.n1 AS DOUBLE) AS dmean
        |  FROM pm_pa p JOIN pm_obs o USING (probe_id)
        |  WHERE p.na >= 1 AND p.na < o.n)
        |SELECT probe_id, CAST(max(n) AS BIGINT) AS n, CAST(max(n1) AS BIGINT) AS n1,
        |       count(*) AS b_valid,
        |       CAST(sum(CASE WHEN dnum_r * wo >= dnum_o * wr THEN 1 ELSE 0 END) AS BIGINT) AS b_ge,
        |       round(max(dmean) / 997.0, 6) AS delta_beta,
        |       round(CAST(sum(CASE WHEN dnum_r * wo >= dnum_o * wr THEN 1 ELSE 0 END) + 1 AS DOUBLE)
        |             / CAST(count(*) + 1 AS DOUBLE), 6) AS p_perm
        |FROM pm_cmp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // K32 — Cochran–Mantel–Haenszel test: does GROUP predict QC failure
    // CONTROLLING for the instrument run? The stratified companion of k29
    // (pooling the three runs' 2×2s would hit Simpson's paradox; CMH
    // combines per-stratum evidence instead — the standard batch-aware
    // enrichment screen). One bounded aggregate per stratum (3 rows),
    // hypergeometric E/V per stratum, continuity-corrected statistic and
    // the Mantel–Haenszel common odds ratio as ordered running sums —
    // fully oracle-checked. p via χ²(1) rides k32_cmh_inference.
    Q("k32_cmh_test", (s, d) =>
      cmhTest(s, d)
        .select(col("n_strata"), col("sum_a"), r6("sum_e"), r6("sum_v"), r6("cmh"),
          r6("or_mh")),
    Some(ctes + cmhChainSql + "\n" +
      """SELECT n_strata, sum_a, round(sum_e, 6) AS sum_e,
        |       round(sum_v, 6) AS sum_v, round(cmh, 6) AS cmh,
        |       round(or_mh, 6) AS or_mh
        |FROM cmh""".stripMargin)),

    // K32 inferential completion: CMH ~ χ²(1) under conditional
    // independence → p via the codegen chi-square survival function.
    // FULLY oracle-checked (r9): the erfc replay over the shared
    // cmhChainSql statistic.
    Q("k32_cmh_inference", (s, d) => {
      cmhTest(s, d)
        .select(col("n_strata"), r6("cmh"), r6("or_mh"),
          round(expr("graft_chisq_sf(cmh, 1.0)"), 6).as("p_value"))
    }, Some(ctes + cmhChainSql +
      s""",
         |pvarg AS (SELECT n_strata, cmh AS cmh_s, or_mh, sqrt(cmh / 2.0) AS ex FROM cmh)
         |SELECT n_strata, round(cmh_s, 6) AS cmh, round(or_mh, 6) AS or_mh,
         |       round(${SqlOracles.erfc("ex")}, 6) AS p_value
         |FROM pvarg""".stripMargin)),

    // K31 — per-probe WT-vs-MUT effect sizes beside the k17 p-values
    // (a DMP list without effect sizes invites p-hacking): Cohen's d and
    // its small-sample Hedges' g correction from the SAME one-aggregate
    // exact-moment pass as welchT, plus the nonparametric Cliff's δ from
    // the k10 tie-cell machinery — #(x>y) − #(x<y) over the n1·n2 WT×MUT
    // pairs as exact integers via one ordered tie-cell running sum (gt
    // counts pair cells against the running MUT mass below, δ needs no
    // tie half-credit because gt/lt both exclude equal cells). Two probe-
    // keyed aggregates over the same input, one join — fully oracle-checked.
    Q("k31_effect_sizes", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val bg = Tables.betaGrid(s, d)
      val sp2 = ((d2("n1") - 1.0) * levelVar("1") + (d2("n2") - 1.0) * levelVar("2")) /
        (d2("n1") + d2("n2") - 2.0)
      val dCol = meanDiff("1", "2") / sqrt(sp2)
      // welchT's moments, less probes with no spread within either group
      val moments = groupMoments(bg).filter(
          (d2("ss1") - d2("s1") * d2("s1") / d2("n1"))
            + (d2("ss2") - d2("s2") * d2("s2") / d2("n2")) > 0.0)
        .withColumn("cohens_d", dCol)
        .withColumn("hedges_g",
          col("cohens_d") * (lit(1.0) - lit(3.0)
            / (lit(4.0) * (d2("n1") + d2("n2")) - 9.0)))
        .select("probe_id", "n1", "n2", "cohens_d", "hedges_g")
      // Cliff's δ: tie cells on (probe, k) with WT/MUT counts n1/n2; running
      // MUT mass strictly below each cell gives gt; lt by symmetry from totals.
      val cells = levelMoments(bg, Seq("probe_id", "k"), col("k"), groupLevels)
      val w = Window.partitionBy("probe_id").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cliff = cells
        .withColumn("cum2", sum("n2").over(w))
        .groupBy("probe_id").agg(
          sum(col("n1") * (col("cum2") - col("n2"))).as("gt"),
          sum(col("n1") * col("n2")).as("eq"),
          sum("n1").as("t1"), sum("n2").as("t2"))
        .withColumn("lt", col("t1") * col("t2") - col("gt") - col("eq"))
      moments.join(cliff, "probe_id")
        .select(col("probe_id"), col("n1"), col("n2"), r6("cohens_d"), r6("hedges_g"),
          round((col("gt") - col("lt")).cast("double")
            / (col("t1") * col("t2")).cast("double"), 6).as("cliffs_delta"))
        .orderBy("probe_id")
    }, Some(ctes +
      """, es_bg AS (
        |  SELECT b.probe_id, g."group" AS grp,
        |         CAST(round(b.beta * 997) AS BIGINT) AS k
        |  FROM beta b JOIN sheet g USING (sample_id)),
        |es_m AS (
        |  SELECT probe_id,
        |         sum(CASE WHEN grp = 'WT' THEN 1 ELSE 0 END) AS n1,
        |         sum(CASE WHEN grp = 'WT' THEN k ELSE 0 END) AS s1,
        |         sum(CASE WHEN grp = 'WT' THEN k * k ELSE 0 END) AS ss1,
        |         sum(CASE WHEN grp = 'MUT' THEN 1 ELSE 0 END) AS n2,
        |         sum(CASE WHEN grp = 'MUT' THEN k ELSE 0 END) AS s2,
        |         sum(CASE WHEN grp = 'MUT' THEN k * k ELSE 0 END) AS ss2
        |  FROM es_bg GROUP BY 1
        |  HAVING n1 >= 3 AND n2 >= 3
        |     AND (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |       + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) > 0.0),
        |es_d AS (
        |  SELECT probe_id, n1, n2,
        |         (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        |           / sqrt(((CAST(n1 AS DOUBLE) - 1.0)
        |                     * ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0))
        |                   + (CAST(n2 AS DOUBLE) - 1.0)
        |                     * ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1.0)))
        |                  / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) AS cohens_d
        |  FROM es_m),
        |es_cells AS (
        |  SELECT probe_id, k,
        |         sum(CASE WHEN grp = 'WT' THEN 1 ELSE 0 END) AS c1,
        |         sum(CASE WHEN grp = 'MUT' THEN 1 ELSE 0 END) AS c2
        |  FROM es_bg GROUP BY 1, 2),
        |es_run AS (
        |  SELECT *, sum(c2) OVER (PARTITION BY probe_id ORDER BY k
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM es_cells),
        |es_cliff AS (
        |  SELECT probe_id,
        |         sum(c1 * (cum2 - c2)) AS gt, sum(c1 * c2) AS eq,
        |         sum(c1) AS t1, sum(c2) AS t2
        |  FROM es_run GROUP BY 1)
        |SELECT d.probe_id, CAST(d.n1 AS BIGINT) AS n1, CAST(d.n2 AS BIGINT) AS n2,
        |       round(d.cohens_d, 6) AS cohens_d,
        |       round(d.cohens_d * (1.0 - 3.0 / (4.0 * (CAST(d.n1 AS DOUBLE) + CAST(d.n2 AS DOUBLE)) - 9.0)), 6) AS hedges_g,
        |       round(CAST(c.gt - (c.t1 * c.t2 - c.gt - c.eq) AS DOUBLE)
        |             / CAST(c.t1 * c.t2 AS DOUBLE), 6) AS cliffs_delta
        |FROM es_d d JOIN es_cliff c USING (probe_id) ORDER BY 1""".stripMargin)),

    // K33 — Theil–Sen robust slope per probe over collection order: the
    // estimator companion of the k22 Mann–Kendall TEST (MK says "is there
    // a trend", Sen says "how steep") — median of all pairwise slopes
    // (k_j−k_i)/(t_j−t_i) on the bounded samples² pair join k22 already
    // uses. The median deliberately avoids percentile()'s interpolation
    // kernels (Spark and DuckDB round (a+(b−a)f vs lerp) differently in
    // the last ulp): pairs are ranked by (slope, i, j) and the lower and
    // upper median ELEMENTS are selected and averaged with the identical
    // (lo+hi)/2 expression on both sides — element selection is exact, so
    // the query is fully oracle-checked. Slope doubles are identical in
    // both engines (IEEE division of the same integer pairs).
    Q("k33_theil_sen", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sidx = Tables.sampleSheet(s, d).select("sample_id")
        .withColumn("t", row_number().over(Window.orderBy("sample_id")).cast("long"))
      val bk = Tables.betaLong(s, d)
        .withColumn("k", Fns.betaK)
        .join(broadcast(sidx), "sample_id")
        .select("probe_id", "t", "k")
      val pairs = bk.as("a").join(bk.as("b"),
          col("a.probe_id") === col("b.probe_id") && col("a.t") < col("b.t"))
        .select(col("a.probe_id").as("probe_id"), col("a.t").as("ti"),
          col("b.t").as("tj"),
          ((col("b.k") - col("a.k")).cast("double")
            / (col("b.t") - col("a.t")).cast("double")).as("slope"))
      val wRank = Window.partitionBy("probe_id").orderBy("slope", "ti", "tj")
      val wCnt = Window.partitionBy("probe_id")
      val ranked = pairs
        .withColumn("rn", row_number().over(wRank).cast("long"))
        .withColumn("m", count(lit(1)).over(wCnt))
      ranked
        .filter(expr("rn = (m + 1) div 2 OR rn = m div 2 + 1"))
        .groupBy("probe_id").agg(
          max("m").as("m_pairs"),
          round((min("slope") + max("slope")) / 2.0, 6).as("sen_slope"))
        .filter(col("m_pairs") >= 28)
        .orderBy("probe_id")
    }, Some(ctes +
      """, ts_idx AS (
        |  SELECT sample_id, row_number() OVER (ORDER BY sample_id) AS t
        |  FROM sheet),
        |ts_bk AS (
        |  SELECT b.probe_id, i.t, CAST(round(b.beta * 997) AS BIGINT) AS k
        |  FROM beta b JOIN ts_idx i USING (sample_id)),
        |ts_pairs AS (
        |  SELECT a.probe_id, a.t AS ti, b.t AS tj,
        |         CAST(b.k - a.k AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
        |  FROM ts_bk a JOIN ts_bk b
        |    ON a.probe_id = b.probe_id AND a.t < b.t),
        |ts_rank AS (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |           ORDER BY slope, ti, tj) AS rn,
        |         count(*) OVER (PARTITION BY probe_id) AS m
        |  FROM ts_pairs)
        |SELECT probe_id, CAST(max(m) AS BIGINT) AS m_pairs,
        |       round((min(slope) + max(slope)) / 2.0, 6) AS sen_slope
        |FROM ts_rank
        |WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
        |GROUP BY 1 HAVING max(m) >= 28 ORDER BY 1""".stripMargin)),

    // K36 — competing-risks cumulative incidence (Aalen–Johansen): time to
    // CONVERSION with FAILURE as a competing risk (first purchase races
    // first error per user; 1 − per-cause-KM overstates both — the CIF is
    // the correct decomposition, and S + CIF₁ + CIF₂ telescopes to 1 at
    // every event time). ops/Survival.cumulativeIncidence — the k28
    // aggregate + window shape with an exclusive-frame S(s−). Fully
    // oracle-checked including the survival/CIF doubles.
    Q("k36_cumulative_incidence", (s, d) =>
      Survival.cumulativeIncidence(cifSubjects(s, d))
        .select(col("grp"), col("duration_h"), col("n_risk"),
          col("d1").as("d_conv"), col("d2").as("d_fail"), r6("surv"),
          round(col("cif1"), 6).as("cif_conv"),
          round(col("cif2"), 6).as("cif_fail"))
        .orderBy("grp", "duration_h"),
    Some(
      """WITH ci_subj AS (
        |  SELECT CASE WHEN user_id % 2 = 0 THEN 'cohort_a' ELSE 'cohort_b' END AS grp,
        |         (coalesce(CASE WHEN p_us IS NOT NULL AND (e_us IS NULL OR p_us <= e_us)
        |                        THEN p_us
        |                        WHEN e_us IS NOT NULL THEN e_us END, last_us)
        |          - entry_us) // 3600000000 AS duration_h,
        |         CASE WHEN p_us IS NOT NULL AND (e_us IS NULL OR p_us <= e_us) THEN 1
        |              WHEN e_us IS NOT NULL THEN 2 ELSE 0 END AS cause
        |  FROM (
        |    SELECT user_id, min(epoch_us(ts)) AS entry_us,
        |           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us,
        |           min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS e_us,
        |           max(epoch_us(ts)) AS last_us
        |    FROM events GROUP BY 1)),
        |ci_dur AS (
        |  SELECT grp, duration_h, CAST(count(*) AS BIGINT) AS n_all,
        |         CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |         CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
        |  FROM ci_subj GROUP BY 1, 2),
        |ci_risk AS (
        |  SELECT grp, duration_h, d1, d2,
        |         CAST(sum(n_all) OVER (PARTITION BY grp ORDER BY duration_h DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM ci_dur),
        |ci_ev AS (SELECT * FROM ci_risk WHERE d1 + d2 > 0),
        |ci_s AS (
        |  SELECT grp, duration_h, n_risk, d1, d2,
        |         max(CASE WHEN d1 + d2 = n_risk THEN 1 ELSE 0 END) OVER wasc AS extinct,
        |         sum(CASE WHEN d1 + d2 < n_risk
        |                  THEN ln(CAST(n_risk - d1 - d2 AS DOUBLE) / CAST(n_risk AS DOUBLE)) END)
        |           OVER wasc AS lsum,
        |         exp(coalesce(sum(CASE WHEN d1 + d2 < n_risk
        |                  THEN ln(CAST(n_risk - d1 - d2 AS DOUBLE) / CAST(n_risk AS DOUBLE)) END)
        |           OVER wprev, 0.0)) AS s_prev
        |  FROM ci_ev
        |  WINDOW wasc AS (PARTITION BY grp ORDER BY duration_h ASC
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wprev AS (PARTITION BY grp ORDER BY duration_h ASC
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT grp, duration_h, n_risk, d1 AS d_conv, d2 AS d_fail,
        |       round(CASE WHEN extinct = 1 THEN 0.0 ELSE exp(lsum) END, 6) AS surv,
        |       round(sum(s_prev * CAST(d1 AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |             OVER wasc2, 6) AS cif_conv,
        |       round(sum(s_prev * CAST(d2 AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |             OVER wasc2, 6) AS cif_fail
        |FROM ci_s
        |WINDOW wasc2 AS (PARTITION BY grp ORDER BY duration_h ASC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin)),

    // K35 — one-covariate Cox proportional-hazards fit over the SAME
    // subject table as the k28 Kaplan–Meier/log-rank family (time to first
    // purchase, cohort A vs rest): the model every survival analysis
    // reaches for after the log-rank screen. Distributed part = the k28
    // per-event-time risk aggregate; Newton runs driver-side on the
    // bounded time histogram (ops/Survival.coxPh). Rows-only (iterative);
    // the risk-table input is oracle-checked row-by-row by
    // k35_cox_riskset below, its running E/V totals ride k28_logrank's
    // oracle, and the score numerator U(0) = O_A − E_A ties this row to
    // k28's oracle-checked o_a/e_a EXACTLY. p via the codegen χ²(1)
    // survival function.
    Q("k35_cox_ph", (s, d) => {
      Survival.coxPh(kmSubjects(s, d), "cohort_a")
        .withColumn("p_value", round(expr("graft_chisq_sf(wald_chi2, 1.0)"), 6))
    }, None),

    // K35 interior oracle: the Cox fit's ENTIRE distributed input — the
    // per-event-time risk table (n at risk / events per cohort) — checked
    // ROW BY ROW against DuckDB. k28_logrank's oracle pins this table's
    // running E/V totals; this row pins every (t, n_a, n_b, d_a, d_b)
    // individually, so only the driver-side Newton recursion over the
    // bounded time histogram remains spec-only for k35. Exact integers
    // throughout → hash-exact.
    Q("k35_cox_riskset", (s, d) =>
      Survival.riskTable(kmSubjects(s, d), "cohort_a").orderBy("t"),
      Some(
        s"""WITH $kmSubjSql,
           |$lrRiskSql
           |SELECT t,
           |       CAST(sum(CASE WHEN grp = 'cohort_a' THEN n_at ELSE 0 END) AS BIGINT) AS n_a,
           |       CAST(sum(CASE WHEN grp <> 'cohort_a' THEN n_at ELSE 0 END) AS BIGINT) AS n_b,
           |       CAST(sum(CASE WHEN grp = 'cohort_a' THEN d ELSE 0 END) AS BIGINT) AS d_a,
           |       CAST(sum(CASE WHEN grp <> 'cohort_a' THEN d ELSE 0 END) AS BIGINT) AS d_b
           |FROM lr_d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // K34 — split-conformal prediction intervals for the k15 clock
    // predictor (Vovk/Papadopoulos split-conformal, public): calibration
    // half's nonconformity scores |age_true − age_pred| ranked, q̂ = the
    // ⌈(n_cal+1)(1−α)⌉-th smallest (α = 0.1) by EXACT element selection
    // (the k33 move — no interpolation kernel, so Spark and DuckDB pick
    // the identical double), intervals pred ± q̂ on the held-out half with
    // distribution-free ~90% marginal coverage. ⌈·⌉ in pure integer
    // arithmetic ((9n+18) div 10), clamped to n_cal when the calibration
    // set is tiny (documented guarantee break at n_cal < 9). Everything
    // rides the bounded sample axis — one broadcast panel join, one
    // sample-level aggregate, windows over samples rows. Fully
    // oracle-checked.
    Q("k34_conformal_clock", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pred = Tables.betaLong(s, d)
        .withColumn("k", Fns.betaK)
        .join(broadcast(clockPanel(s, d)), "probe_id")
        .groupBy("sample_id")
        .agg(sum(col("k") * col("coef_num")).as("dot"))
        .select(col("sample_id"),
          (lit(20.0) + col("dot").cast("double") / 9970.0).as("age_pred"))
      val truth = Tables.table(s, d, "supplier").select(
        format_string("S%03d", col("s_suppkey")).as("sample_id"),
        (col("s_suppkey") % 2 === 0).as("is_cal"),
        (lit(20.0) + (col("s_suppkey") * 13 % 41).cast("double")).as("age_true"))
      val j = pred.join(truth, "sample_id")
      val wR = Window.orderBy("score", "sample_id")
      val wAll = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val qhat = j.filter(col("is_cal"))
        .withColumn("score", abs(col("age_true") - col("age_pred")))
        .withColumn("rn", row_number().over(wR).cast("long"))
        .withColumn("ncal", count(lit(1)).over(wAll))
        .filter(col("rn") === least(expr("(ncal * 9 + 18) div 10"), col("ncal")))
        .select(col("score").as("qhat"), col("ncal"))
      j.filter(!col("is_cal"))
        .crossJoin(broadcast(qhat))
        .select(col("sample_id"), col("ncal").as("n_cal"), r6("age_pred"),
          round(col("age_pred") - col("qhat"), 6).as("lo"),
          round(col("age_pred") + col("qhat"), 6).as("hi"),
          (col("age_true") >= col("age_pred") - col("qhat") &&
            col("age_true") <= col("age_pred") + col("qhat")).as("covered"))
        .orderBy("sample_id")
    }, Some(ctes +
      """, cc_coef AS (
        |  SELECT printf('cg%07d', p_partkey) AS probe_id,
        |         p_partkey % 13 - 6 AS coef_num
        |  FROM part WHERE p_partkey % 17 = 3),
        |cc_pred AS (
        |  SELECT sample_id,
        |         20.0 + CAST(sum(CAST(round(beta * 997) AS BIGINT) * coef_num) AS DOUBLE) / 9970.0 AS age_pred
        |  FROM beta JOIN cc_coef USING (probe_id) GROUP BY 1),
        |cc_truth AS (
        |  SELECT printf('S%03d', s_suppkey) AS sample_id,
        |         s_suppkey % 2 = 0 AS is_cal,
        |         20.0 + CAST(s_suppkey * 13 % 41 AS DOUBLE) AS age_true
        |  FROM supplier),
        |cc_j AS (SELECT * FROM cc_pred JOIN cc_truth USING (sample_id)),
        |cc_cal AS (
        |  SELECT abs(age_true - age_pred) AS score, sample_id FROM cc_j WHERE is_cal),
        |cc_rank AS (
        |  SELECT score, row_number() OVER (ORDER BY score, sample_id) AS rn,
        |         count(*) OVER () AS ncal
        |  FROM cc_cal),
        |cc_q AS (
        |  SELECT score AS qhat, CAST(ncal AS BIGINT) AS ncal FROM cc_rank
        |  WHERE rn = least((ncal * 9 + 18) // 10, ncal))
        |SELECT j.sample_id, q.ncal AS n_cal,
        |       round(j.age_pred, 6) AS age_pred,
        |       round(j.age_pred - q.qhat, 6) AS lo,
        |       round(j.age_pred + q.qhat, 6) AS hi,
        |       (j.age_true >= j.age_pred - q.qhat
        |        AND j.age_true <= j.age_pred + q.qhat) AS covered
        |FROM cc_j j CROSS JOIN cc_q q WHERE NOT is_cal ORDER BY 1""".stripMargin)),

    // K42 — per-probe MULTIPLE regression: beta ~ group + age. The
    // covariate-adjusted EWAS model (limma's model.matrix takes arbitrary
    // covariate columns; the reference's design is group-only at
    // /root/reference/workflow.R:158-166, but published EWAS practice
    // always adjusts for age/sex — this is the missing half of that
    // surface, with k34's age panel as the covariate so the two queries
    // share one truth). ONE hash aggregate per probe collects the nine
    // exact integer moments of X = [1, g, a] and y = beta's 0..996 grid;
    // the 3×3 normal equations solve by Cramer as a fixed double
    // sequence. Rank/d.f. GATING is exact-integer: det(XᵀX) and the
    // variance cofactors are bigint products of bigint sums in BOTH
    // engines, so "which probes survive" can never disagree at a double
    // boundary. Coefficient SEs from σ̂²·(XᵀX)⁻¹ⱼⱼ = σ̂²·cofⱼⱼ/det.
    // Scale: one shuffle on probe_id with map-side combine; the covariate
    // join is a broadcast of the bounded sample axis. (Moment magnitudes:
    // |det terms| < n³·a²·... — bigint-safe to ~1e5 samples/probe; the
    // sample axis here is ≤ suppliers, orders of magnitude below that.)
    Q("k42_probe_ols", (s, d) =>
      probeOls(s, d)
        .select(col("probe_id"), col("n"),
          round(col("b_group") / 997.0, 6).as("b_group"),
          round(col("se_group") / 997.0, 6).as("se_group"), r6("t_group"),
          round(col("b_age") / 997.0, 6).as("b_age"),
          round(col("se_age") / 997.0, 6).as("se_age"), r6("t_age"), col("df"))
        .orderBy("probe_id"),
    Some(ctes + olsCte +
      """, ols_s AS (
        |  SELECT *,
        |         (CAST(syy AS DOUBLE)
        |          - (b0 * CAST(sy AS DOUBLE) + b1 * CAST(sgy AS DOUBLE) + b2 * CAST(say AS DOUBLE)))
        |         / (CAST(n AS DOUBLE) - 3.0) AS sigma2
        |  FROM ols_b)
        |SELECT probe_id, n,
        |       round(b1 / 997.0, 6) AS b_group,
        |       round(sqrt(sigma2 * CAST(cof11 AS DOUBLE) / CAST(det AS DOUBLE)) / 997.0, 6) AS se_group,
        |       round(b1 / sqrt(sigma2 * CAST(cof11 AS DOUBLE) / CAST(det AS DOUBLE)), 6) AS t_group,
        |       round(b2 / 997.0, 6) AS b_age,
        |       round(sqrt(sigma2 * CAST(cof22 AS DOUBLE) / CAST(det AS DOUBLE)) / 997.0, 6) AS se_age,
        |       round(b2 / sqrt(sigma2 * CAST(cof22 AS DOUBLE) / CAST(det AS DOUBLE)), 6) AS t_age,
        |       n - 3 AS df
        |FROM ols_s WHERE sigma2 > 0.0
        |ORDER BY probe_id""".stripMargin)),

    // K42 inferential completion: two-sided p per (probe, coefficient)
    // through the codegen Student-t survival chain, BH across ALL
    // hypotheses (probe × {group, age} — the k37 "adjust over everything
    // you tested" convention). FULLY oracle-checked (r8): df = n − 3 is
    // an INTEGER, so the t tail replays via the A&S finite forms
    // (SqlOracles.studentTIntDfPv — the k12_spearman_inference move) on
    // top of the shared olsCte chain.
    Q("k42_ols_inference", (s, d) => {
      // persisted: consumed twice by the unionAll below (the w18 rule —
      // without this the nine-moment aggregate runs once per branch)
      val base = graft.ops.Caches.track(probeOls(s, d).persist())
      val long = base.select(col("probe_id"), lit("group").as("coef"),
          (col("b_group") / 997.0).as("b"), col("t_group").as("t_stat"),
          col("df"))
        .unionAll(base.select(col("probe_id"), lit("age").as("coef"),
          (col("b_age") / 997.0).as("b"), col("t_age").as("t_stat"),
          col("df")))
        .withColumn("p_value",
          expr("graft_t_pvalue(t_stat, CAST(df AS DOUBLE))"))
        .withColumn("key", concat(col("probe_id"), lit("|"), col("coef")))
      Analytic.bhAdjust(long, "p_value", "key")
        .select(col("probe_id"), col("coef"), r6("b"), r6("t_stat"), r6("p_value"), r6("fdr"))
        .orderBy("probe_id", "coef")
    }, Some(ctes + olsCte +
      """, ols_s AS (
        |  SELECT *,
        |         (CAST(syy AS DOUBLE)
        |          - (b0 * CAST(sy AS DOUBLE) + b1 * CAST(sgy AS DOUBLE) + b2 * CAST(say AS DOUBLE)))
        |         / (CAST(n AS DOUBLE) - 3.0) AS sigma2
        |  FROM ols_b),
        |ols_t AS (
        |  SELECT probe_id, n - 3 AS nu,
        |         b1 / 997.0 AS b_group,
        |         b1 / sqrt(sigma2 * CAST(cof11 AS DOUBLE) / CAST(det AS DOUBLE)) AS t_group,
        |         b2 / 997.0 AS b_age,
        |         b2 / sqrt(sigma2 * CAST(cof22 AS DOUBLE) / CAST(det AS DOUBLE)) AS t_age
        |  FROM ols_s WHERE sigma2 > 0.0),
        |longt AS (
        |  SELECT probe_id, 'group' AS coef, b_group AS b, t_group AS t, nu FROM ols_t
        |  UNION ALL
        |  SELECT probe_id, 'age' AS coef, b_age AS b, t_age AS t, nu FROM ols_t)""".stripMargin +
      SqlOracles.studentTIntDfPv("probe_id, coef", "probe_id, coef, b") +
      SqlOracles.bhTail("probe_id, coef, b, t", "probe_id || '|' || coef") + "\n" +
      """SELECT probe_id, coef, round(b, 6) AS b, round(t, 6) AS t_stat,
        |       round(p, 6) AS p_value, round(fdr, 6) AS fdr
        |FROM f ORDER BY probe_id, coef""".stripMargin)),

    // K43 — partial F-test: does age add explanatory power BEYOND group?
    // The nested-model comparison (reduced: beta ~ group; full: beta ~
    // group + age) that justifies or rejects a covariate in the k42
    // design — F = (RSS_red − RSS_full)/(RSS_full/(n−3)), df (1, n−3).
    // BOTH models come from the SAME nine integer moments (the reduced
    // model is the group-conditional-means decomposition RSS_red =
    // Syy − S_wt²/n_wt − S_mut²/n_mut — closed form, no second aggregate,
    // no second scan). The F CDF has no SQL analog, so the oracle-checked
    // surface is statistic + dfs (the k13/a23 convention); a p/BH
    // completion is one `graft_f_sf(f, 1, df2)` away via the k13 pattern.
    // RSS columns are rescaled to beta² units (/997²); F is scale-free.
    Q("k43_partial_f", (s, d) =>
      probeOlsMoments(s, d)
        .withColumn("rss_full",
          col("syyd") - (col("b0") * col("syd") + col("b1") * col("sgyd")
            + col("b2") * col("sayd")))
        // reduced model beta ~ group: group-conditional means; RSS_red =
        // Syy − s_wt²/n_wt − s_mut²/n_mut in grid units (exact moments)
        .withColumn("rss_red",
          col("syyd")
            - (col("syd") - col("sgyd")) * (col("syd") - col("sgyd"))
              / (col("nd") - col("sgd"))
            - col("sgyd") * col("sgyd") / col("sgd"))
        .filter(col("sgd") > 0.0 && col("nd") - col("sgd") > 0.0 &&
          col("rss_full") > 0.0)
        .select(col("probe_id"), col("n"),
          round(col("rss_red") / 994009.0, 6).as("rss_red"),
          round(col("rss_full") / 994009.0, 6).as("rss_full"),
          lit(1L).as("df1"), (col("n") - 3L).as("df2"),
          round((col("rss_red") - col("rss_full"))
            / (col("rss_full") / (col("nd") - lit(3.0))), 6).as("f"))
        .orderBy("probe_id"),
    Some(ctes + olsCte +
      """, pf_r AS (
        |  SELECT *,
        |         CAST(syy AS DOUBLE)
        |         - (b0 * CAST(sy AS DOUBLE) + b1 * CAST(sgy AS DOUBLE) + b2 * CAST(say AS DOUBLE)) AS rss_full,
        |         CAST(syy AS DOUBLE)
        |         - (CAST(sy AS DOUBLE) - CAST(sgy AS DOUBLE)) * (CAST(sy AS DOUBLE) - CAST(sgy AS DOUBLE))
        |           / (CAST(n AS DOUBLE) - CAST(sg AS DOUBLE))
        |         - CAST(sgy AS DOUBLE) * CAST(sgy AS DOUBLE) / CAST(sg AS DOUBLE) AS rss_red
        |  FROM ols_b)
        |SELECT probe_id, n,
        |       round(rss_red / 994009.0, 6) AS rss_red,
        |       round(rss_full / 994009.0, 6) AS rss_full,
        |       CAST(1 AS BIGINT) AS df1, n - 3 AS df2,
        |       round((rss_red - rss_full) / (rss_full / (CAST(n AS DOUBLE) - 3.0)), 6) AS f
        |FROM pf_r
        |WHERE sg > 0 AND n - sg > 0 AND rss_full > 0.0
        |ORDER BY probe_id""".stripMargin)),

    // K44 — heteroskedasticity-ROBUST (HC1 sandwich, White 1980 with the
    // n/(n−p) small-sample factor) standard errors for the k42 design:
    // when the two groups (or age strata) have unequal residual variance,
    // k42's homoskedastic σ̂²(XᵀX)⁻¹ is wrong and the sandwich
    // (XᵀX)⁻¹ (Σeᵢ²xᵢxᵢᵀ) (XᵀX)⁻¹ is the fix every applied EWAS reports.
    // Two passes by construction (the meat needs residuals, residuals
    // need b̂): pass 1 = probeOlsMoments; pass 2 joins b̂ back to the rows
    // co-keyed on probe_id and aggregates the five meat entries. Residuals
    // are DETERMINISTICALLY quantized to 1e-2 grid units (1e-5 beta units)
    // before squaring, so the meat sums are exact BIGINTs in both engines
    // — the hash gate holds with zero float-accumulation-order risk (the
    // t25 rule; quantization bias is ~1e-5 relative, orders below the
    // SE's own sampling noise). Worst-case meat magnitude er²·a² ≤
    // 1.6e11/row ⇒ BIGINT-safe to ~5×10⁷ rows/probe, comfortably past
    // the det terms' own ~1e5-samples envelope (at 1e-3 quantization the
    // meat would overflow 20× BELOW that envelope — the reason for 1e-2).
    // Sandwich diagonals from the exact integer adjugate in one fixed
    // double sequence.
    Q("k44_robust_se", (s, d) =>
      probeOlsRobust(s, d)
        .select(col("probe_id"), col("n"),
          round(col("b_group") / 997.0, 6).as("b_group"),
          round(col("se_group_hc1") / 997.0, 6).as("se_group_hc1"), r6("t_group_hc1"),
          round(col("b_age") / 997.0, 6).as("b_age"),
          round(col("se_age_hc1") / 997.0, 6).as("se_age_hc1"), r6("t_age_hc1"))
        .orderBy("probe_id"),
    Some(ctes + olsCte +
      """, hc_adj AS (
        |  SELECT *,
        |         sg * saa - sga * sga AS a00,
        |         -(sg * saa - sga * sa) AS a01,
        |         sg * sga - sg * sa AS a02,
        |         n * saa - sa * sa AS a11,
        |         -(n * sga - sg * sa) AS a12,
        |         n * sg - sg * sg AS a22
        |  FROM ols_b),
        |hc_e AS (
        |  SELECT b.probe_id, c.g, c.a,
        |         CAST(round((CAST(b.k AS DOUBLE) - o.b0
        |           - o.b1 * CAST(c.g AS DOUBLE)
        |           - o.b2 * CAST(c.a AS DOUBLE)) * 100) AS BIGINT) AS er
        |  FROM (SELECT probe_id, sample_id,
        |               CAST(round(beta * 997) AS BIGINT) AS k FROM beta) b
        |  JOIN ols_cov c USING (sample_id)
        |  JOIN ols_b o USING (probe_id)),
        |hc_w AS (
        |  SELECT probe_id,
        |         CAST(sum(er * er) AS BIGINT) AS w00,
        |         CAST(sum(er * er * g) AS BIGINT) AS w01,
        |         CAST(sum(er * er * a) AS BIGINT) AS w02,
        |         CAST(sum(er * er * g * a) AS BIGINT) AS w12,
        |         CAST(sum(er * er * a * a) AS BIGINT) AS w22
        |  FROM hc_e GROUP BY 1),
        |hc_s AS (
        |  SELECT j.probe_id, j.n, j.b1, j.b2,
        |         CAST(j.det AS DOUBLE) AS dd,
        |         CAST(j.a01 AS DOUBLE) AS a01d, CAST(j.a02 AS DOUBLE) AS a02d,
        |         CAST(j.a11 AS DOUBLE) AS a11d, CAST(j.a12 AS DOUBLE) AS a12d,
        |         CAST(j.a22 AS DOUBLE) AS a22d,
        |         CAST(w.w00 AS DOUBLE) / 10000.0 AS m00,
        |         CAST(w.w01 AS DOUBLE) / 10000.0 AS m01,
        |         CAST(w.w02 AS DOUBLE) / 10000.0 AS m02,
        |         CAST(w.w12 AS DOUBLE) / 10000.0 AS m12,
        |         CAST(w.w22 AS DOUBLE) / 10000.0 AS m22
        |  FROM hc_adj j JOIN hc_w w USING (probe_id)),
        |hc_v AS (
        |  SELECT *,
        |         (a01d * (a01d * m00 + a11d * m01 + a12d * m02)
        |          + a11d * (a01d * m01 + a11d * m01 + a12d * m12)
        |          + a12d * (a01d * m02 + a11d * m12 + a12d * m22))
        |         / (dd * dd) AS v1,
        |         (a02d * (a02d * m00 + a12d * m01 + a22d * m02)
        |          + a12d * (a02d * m01 + a12d * m01 + a22d * m12)
        |          + a22d * (a02d * m02 + a12d * m12 + a22d * m22))
        |         / (dd * dd) AS v2
        |  FROM hc_s)
        |SELECT probe_id, n,
        |       round(b1 / 997.0, 6) AS b_group,
        |       round(sqrt(v1 * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 3.0))) / 997.0, 6) AS se_group_hc1,
        |       round(b1 / sqrt(v1 * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 3.0))), 6) AS t_group_hc1,
        |       round(b2 / 997.0, 6) AS b_age,
        |       round(sqrt(v2 * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 3.0))) / 997.0, 6) AS se_age_hc1,
        |       round(b2 / sqrt(v2 * (CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 3.0))), 6) AS t_age_hc1
        |FROM hc_v WHERE v1 > 0.0 AND v2 > 0.0
        |ORDER BY probe_id""".stripMargin))
  )

  /** The k42-family covariate panel: group indicator (1 = MUT, the
    * sheet's parity rule) and the k34 age covariate, one row per sample.
    */
  private[graft] def olsCov(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.table(s, d, "supplier").select(
      format_string("S%03d", col("s_suppkey")).as("sample_id"),
      (col("s_suppkey") % 2).cast("long").as("g"),
      (col("s_suppkey") * 13 % 41).cast("long").as("a"))

  /** Shared K42 statistic pass: per-probe OLS of beta (0..996 grid units)
    * on X = [1, group, age] from nine exact integer moments in ONE hash
    * aggregate; 3×3 normal equations by Cramer's rule as a fixed double
    * sequence. det(XᵀX) and the variance cofactors stay EXACT BIGINT so
    * the rank gate (det > 0 ⇔ full column rank, XᵀX being PSD) is
    * boundary-proof. Emits the raw integer moments, det/cofactors, the
    * solved coefficients b0/b1/b2, and double mirrors (`nd`,`sgd`,…) for
    * downstream fixed-sequence arithmetic — [[probeOls]] builds the k42
    * SE/t surface on top, k43 the nested-model RSS decomposition.
    * Age is k34's panel (`20 + s_suppkey*13 % 41`, the constant 20 folded
    * into the intercept); group is the sheet's WT/MUT indicator (1=MUT).
    */
  private[graft] def probeOlsMoments(s: org.apache.spark.sql.SparkSession, d: String) = {
    val cov = olsCov(s, d)
    val m = Tables.betaLong(s, d)
      .withColumn("k", Fns.betaK)
      .join(broadcast(cov), "sample_id")
      .groupBy("probe_id").agg(
        count(lit(1L)).as("n"),
        sum("g").as("sg"), sum("a").as("sa"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("g") * col("a")).as("sga"),
        sum("k").as("sy"), sum(col("g") * col("k")).as("sgy"),
        sum(col("a") * col("k")).as("say"),
        sum(col("k") * col("k")).as("syy"))
      .filter(col("n") >= 8)
      .withColumn("det",
        col("n") * (col("sg") * col("saa") - col("sga") * col("sga"))
          - col("sg") * (col("sg") * col("saa") - col("sga") * col("sa"))
          + col("sa") * (col("sg") * col("sga") - col("sg") * col("sa")))
      .withColumn("cof11", col("n") * col("saa") - col("sa") * col("sa"))
      .withColumn("cof22", col("n") * col("sg") - col("sg") * col("sg"))
      .filter(col("det") > 0L)
    m.withColumn("b0",
        (d2("sy") * (d2("sg") * d2("saa") - d2("sga") * d2("sga"))
          - d2("sg") * (d2("sgy") * d2("saa") - d2("sga") * d2("say"))
          + d2("sa") * (d2("sgy") * d2("sga") - d2("sg") * d2("say")))
          / d2("det"))
      .withColumn("b1",
        (d2("n") * (d2("sgy") * d2("saa") - d2("sga") * d2("say"))
          - d2("sy") * (d2("sg") * d2("saa") - d2("sga") * d2("sa"))
          + d2("sa") * (d2("sg") * d2("say") - d2("sgy") * d2("sa")))
          / d2("det"))
      .withColumn("b2",
        (d2("n") * (d2("sg") * d2("say") - d2("sgy") * d2("sga"))
          - d2("sg") * (d2("sg") * d2("say") - d2("sgy") * d2("sa"))
          + d2("sy") * (d2("sg") * d2("sga") - d2("sg") * d2("sa")))
          / d2("det"))
      // double mirrors for downstream fixed-sequence arithmetic (k42 SEs,
      // k43 RSS decomposition) — one cast site, identical on both engines
      .withColumn("nd", d2("n")).withColumn("sgd", d2("sg"))
      .withColumn("syd", d2("sy")).withColumn("sgyd", d2("sgy"))
      .withColumn("sayd", d2("say")).withColumn("syyd", d2("syy"))
  }

  /** K42 coefficient surface on top of [[probeOlsMoments]]: residual
    * variance σ̂² = RSS_full/(n−3), SEs from σ̂²·cofⱼⱼ/det, t = b/se.
    */
  private[graft] def probeOls(s: org.apache.spark.sql.SparkSession, d: String) = {
    val b = probeOlsMoments(s, d)
      .withColumn("sigma2",
        (col("syyd")
          - (col("b0") * col("syd") + col("b1") * col("sgyd")
            + col("b2") * col("sayd")))
          / (col("nd") - lit(3.0)))
      .filter(col("sigma2") > 0.0)
    b.select(col("probe_id"), col("n"),
      col("b1").as("b_group"),
      sqrt(col("sigma2") * d2("cof11") / d2("det")).as("se_group"),
      (col("b1") / sqrt(col("sigma2") * d2("cof11") / d2("det"))).as("t_group"),
      col("b2").as("b_age"),
      sqrt(col("sigma2") * d2("cof22") / d2("det")).as("se_age"),
      (col("b2") / sqrt(col("sigma2") * d2("cof22") / d2("det"))).as("t_age"),
      (col("n") - 3L).as("df"))
  }

  /** K44 HC1 sandwich pass on top of [[probeOlsMoments]]: pass 2 joins b̂
    * back to the observation rows co-keyed on probe_id, quantizes the
    * residual to 1e-2 grid units (exact BIGINT meat sums — the
    * determinism device, see the k44 registration comment), and folds the
    * sandwich diagonals (XᵀX)⁻¹M(XᵀX)⁻¹ from the exact integer adjugate
    * in one fixed double sequence. Unrounded grid units.
    */
  private[graft] def probeOlsRobust(s: org.apache.spark.sql.SparkSession, d: String) = {
    // persisted: consumed twice (the meat pass joins b̂ to the rows, the
    // sandwich pass joins the adjugate) — without this the nine-moment
    // aggregate and the betaLong scan behind it run twice (the w18 rule)
    val mo = graft.ops.Caches.track(probeOlsMoments(s, d)
      .withColumn("a01", -(col("sg") * col("saa") - col("sga") * col("sa")))
      .withColumn("a02", col("sg") * col("sga") - col("sg") * col("sa"))
      .withColumn("a11", col("cof11"))
      .withColumn("a12", -(col("n") * col("sga") - col("sg") * col("sa")))
      .withColumn("a22", col("cof22"))
      .persist())
    val cov = olsCov(s, d)
    val meat = Tables.betaLong(s, d)
      .withColumn("k", Fns.betaK)
      .join(broadcast(cov), "sample_id")
      .join(mo.select("probe_id", "b0", "b1", "b2"), "probe_id")
      .withColumn("er", round((col("k").cast("double") - col("b0")
        - col("b1") * col("g").cast("double")
        - col("b2") * col("a").cast("double")) * 100).cast("bigint"))
      .groupBy("probe_id").agg(
        sum(col("er") * col("er")).as("w00"),
        sum(col("er") * col("er") * col("g")).as("w01"),
        sum(col("er") * col("er") * col("a")).as("w02"),
        sum(col("er") * col("er") * col("g") * col("a")).as("w12"),
        sum(col("er") * col("er") * col("a") * col("a")).as("w22"))
    val j = mo.join(meat, "probe_id")
      .withColumn("dd", d2("det"))
      .withColumn("a01d", d2("a01")).withColumn("a02d", d2("a02"))
      .withColumn("a11d", d2("a11")).withColumn("a12d", d2("a12"))
      .withColumn("a22d", d2("a22"))
      .withColumn("m00", d2("w00") / 10000.0)
      .withColumn("m01", d2("w01") / 10000.0)
      .withColumn("m02", d2("w02") / 10000.0)
      .withColumn("m12", d2("w12") / 10000.0)
      .withColumn("m22", d2("w22") / 10000.0)
      // M11 = M01 because g is binary (g² = g) — same identity in the SQL
      .withColumn("v1",
        (col("a01d") * (col("a01d") * col("m00") + col("a11d") * col("m01")
            + col("a12d") * col("m02"))
          + col("a11d") * (col("a01d") * col("m01") + col("a11d") * col("m01")
            + col("a12d") * col("m12"))
          + col("a12d") * (col("a01d") * col("m02") + col("a11d") * col("m12")
            + col("a12d") * col("m22")))
          / (col("dd") * col("dd")))
      .withColumn("v2",
        (col("a02d") * (col("a02d") * col("m00") + col("a12d") * col("m01")
            + col("a22d") * col("m02"))
          + col("a12d") * (col("a02d") * col("m01") + col("a12d") * col("m01")
            + col("a22d") * col("m12"))
          + col("a22d") * (col("a02d") * col("m02") + col("a12d") * col("m12")
            + col("a22d") * col("m22")))
          / (col("dd") * col("dd")))
      .filter(col("v1") > 0.0 && col("v2") > 0.0)
      .withColumn("hc1", col("n").cast("double") / (col("n").cast("double") - lit(3.0)))
    j.select(col("probe_id"), col("n"),
      col("b1").as("b_group"),
      sqrt(col("v1") * col("hc1")).as("se_group_hc1"),
      (col("b1") / sqrt(col("v1") * col("hc1"))).as("t_group_hc1"),
      col("b2").as("b_age"),
      sqrt(col("v2") * col("hc1")).as("se_age_hc1"),
      (col("b2") / sqrt(col("v2") * col("hc1"))).as("t_age_hc1"))
  }
}
