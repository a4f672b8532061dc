package graft.ops

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.functions.{SignSketchAgg, SignSketchBuf}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Analytic tier (SURVEY.md §2.4/§2.5): per-key variance, top-k selection,
  * group means, and the Benjamini–Hochberg adjustment.
  */
object Analytic {

  /** A2 — per-key sample variance of a value column
    * (reference /root/reference/top10k.py:8 df.var(axis=1), ddof=1).
    */
  def perKeyVariance(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.groupBy(keyCol).agg(var_samp(col(valCol)).as("variance"), count(col(valCol)).as("n"))

  /** W1 — top-k keys by variance (reference /root/reference/workflow.R:155-161).
    * orderBy+limit compiles to TakeOrderedAndProject: per-partition top-k then
    * a single driver merge of k·partitions rows — no global sort, scales to
    * any key cardinality.
    */
  def topKByVariance(df: DataFrame, keyCol: String, valCol: String, k: Int): DataFrame =
    perKeyVariance(df, keyCol, valCol)
      .orderBy(col("variance").desc, col(keyCol).asc)
      .limit(k)

  /** [[topKByVariance]]'s order over keys numbered in key order whose
    * variances are on the driver: variance descending, a single
    * observation's null (None) variance last, then key ascending; the first
    * `k` key numbers. AnalyticSpec pins the two orders together.
    */
  private[graft] def topKIndices(variance: Array[Option[Double]], k: Int): Array[Int] =
    variance.indices.sortBy(i => (variance(i).isEmpty, -variance(i).getOrElse(0.0), i))
      .take(k).toArray

  /** The mean and `var_samp` (None below two values) of `v` on the driver. */
  private[ops] def meanVar(v: Array[Double]): (Double, Option[Double]) = {
    val mean = v.sum / v.length
    (mean, if (v.length < 2) None
           else Some(v.map(x => (x - mean) * (x - mean)).sum / (v.length - 1)))
  }

  /** W3/K4 — Benjamini–Hochberg FDR (reference plots.R:162
    * p.adjust(method="BH")): rank p ascending, p*n/rank, running min from the
    * largest p down, clamp to 1. Ties resolve identically to R because the
    * running min absorbs any within-tie rank assignment. As in R, a null p
    * gets a null FDR and n counts the non-null p-values only.
    *
    * A prefix scan ([[bhScan]]) through the [[RangedScan]] size gate,
    * which picks one range partition or many. Callers that already hold
    * the exact row count pass it as `knownRows` (Dmp folds it into the
    * prior-fit aggregate); everyone else gets the plan estimate, no job.
    * On one partition, building runs no job: n is an execution-time
    * scalar subquery over the same persisted sorted rows the emit reads.
    */
  def bhAdjust(df: DataFrame, pCol: String, tieBreak: String,
               knownRows: Option[Long] = None): DataFrame =
    RangedScan.run(df, bhScan(pCol, tieBreak), knownRows)

  /** Benjamini–Yekutieli FDR — the dependence-robust BH variant: the
    * step-up quantity is scaled by the harmonic factor c(m) = Σ_{i≤m} 1/i
    * before the suffix-min + clamp. m is counted exactly (non-null p, as
    * in R), and the same job's row count feeds the size gate. H_m is an
    * ASCENDING driver loop — the identical IEEE sequence to the oracle's
    * i-ordered running sum, and O(m) driver time on a number, not a row
    * set. scale=1 reproduces BH bit-for-bit (p·1.0 is exact).
    */
  def byAdjust(df: DataFrame, pCol: String, tieBreak: String): DataFrame = {
    val input =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        Caches.track(df.persist())
      else df
    val counts = input.agg(count(lit(1)), count(col(pCol))).head()
    val m = counts.getLong(1)
    var h = 0.0
    var i = 1L
    while (i <= m) { h += 1.0 / i; i += 1 }
    RangedScan.run(input, bhScan(pCol, tieBreak, "fdr_by", scale = h), Some(counts.getLong(0)))
  }

  /** Holm step-DOWN FWER adjustment (p.adjust method="holm" — the
    * no-assumptions Bonferroni improvement): adjusted p_(i) =
    * min(1, max_{j≤i} (m−j+1)·p_(j)) — a running MAX ascending in rank
    * where BH runs a suffix-min descending. Same size gate and null
    * semantics as [[bhAdjust]].
    */
  def holmAdjust(df: DataFrame, pCol: String, tieBreak: String): DataFrame =
    RangedScan.run(df, holmScan(pCol, tieBreak))

  /** BH as a prefix scan: largest p first, so a row's running min covers
    * every larger p, and its ascending rank is total − before.
    */
  private[graft] def bhScan(pCol: String, tieBreak: String, outCol: String = "fdr",
                            scale: Double = 1.0): RangedScan.Scan =
    pValueScan(Seq(col(pCol).desc_nulls_last, col(tieBreak).desc), pCol, outCol,
      RangedScan.Fold((p, before, total) =>
        p.asInstanceOf[Double] * scale * total.toDouble / (total - before).toDouble,
        Double.PositiveInfinity, (a, b) => if (b < a) b else a))

  /** Holm as a prefix scan: smallest p first, rank before + 1, running max. */
  private[graft] def holmScan(pCol: String, tieBreak: String): RangedScan.Scan =
    pValueScan(Seq(col(pCol).asc_nulls_last, col(tieBreak).asc), pCol, "p_holm",
      RangedScan.Fold((p, before, total) =>
        p.asInstanceOf[Double] * (total - before).toDouble,
        Double.NegativeInfinity, (a, b) => if (b > a) b else a))

  /** The p.adjust shape BH and Holm share: p read as a double, one unit of
    * weight per non-null p (so before/total count non-null p-values), a
    * null p left out of the fold and emitted as null, the fold clamped at 1.
    */
  private def pValueScan(order: Seq[Column], pCol: String, outCol: String,
                         fold: RangedScan.Fold): RangedScan.Scan =
    RangedScan.Scan(order, pCol, col(pCol).cast("double"),
      Seq(StructField(outCol, DoubleType)),
      weight = when(col(pCol).isNull, 0L).otherwise(1L),
      fold = Some(fold.copy(value = (p, before, total) =>
        if (p == null) fold.zero else fold.value(p, before, total))),
      emit = (p, _, run) => Seq(if (p == null) null else math.min(run, 1.0)))

  /** Per-group BH — FDR within each `byCol` slice (the multi-contrast
    * per-coef p.adjust). The window is hash-partitioned on the group key, so
    * the sort is per-contrast, never global; bounded by the largest single
    * contrast's probe count. Null p follows R as in [[bhAdjust]]: a null
    * FDR, and n counts the slice's non-null p-values only.
    */
  def bhAdjustBy(df: DataFrame, byCol: String, pCol: String, tieBreak: String): DataFrame = {
    val wRank = Window.partitionBy(byCol)
      .orderBy(col(pCol).asc_nulls_last, col(tieBreak).asc)
    val wAll = Window.partitionBy(byCol)
    val wMin = Window.partitionBy(byCol).orderBy(col("__rn").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rn", row_number().over(wRank))
      .withColumn("__n", count(col(pCol)).over(wAll))
      .withColumn("__bh", col(pCol) * col("__n").cast("double") / col("__rn").cast("double"))
      .withColumn("fdr",
        when(col(pCol).isNotNull, least(min(col("__bh")).over(wMin), lit(1.0))))
      .drop("__rn", "__n", "__bh")
  }

  /** A10 — fixed-width histogram of a [0,1) value. */
  def histogram(df: DataFrame, valCol: String, nBins: Int): DataFrame =
    df.withColumn("bucket",
        least(floor(col(valCol) * nBins), lit(nBins - 1)).cast("int"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** Per-group winsorization: clamp a value to that group's [lo, hi]
    * exact percentiles (the outlier-taming step before model features or
    * robust aggregates). One percentile aggregate per group (bounded
    * groups → the bounds table broadcasts), then a row-local clamp — the
    * data itself shuffles zero times. Above ~10M rows per group, swap the
    * exact `percentile` for `approx_percentile` exactly as the quantile
    * profile does (the bounds stop being bit-reproducible, the plan shape
    * is unchanged).
    */
  def winsorize(df: DataFrame, groupCol: String, valCol: String,
                lo: Double, hi: Double): DataFrame = {
    val bounds = df.groupBy(groupCol).agg(
      expr(s"percentile($valCol, $lo)").as("__lo"),
      expr(s"percentile($valCol, $hi)").as("__hi"))
    df.join(broadcast(bounds), groupCol)
      .withColumn(s"${valCol}_w",
        least(greatest(col(valCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Shared base of the two-sample rank tests: collapse the data to
    * per-(key, value) tie cells with per-group counts. The full data
    * shuffles exactly once (the cell aggregate); everything downstream
    * runs on the cell table, which is bounded by distinct values per key.
    * Callers must pass a null-free value column (a null would form its
    * own tie cell and engines disagree on null sort position).
    */
  private def rankCells(df: DataFrame, keyCol: String, valCol: String,
                        groupCol: String, g1: String, g2: String): DataFrame =
    df.filter(col(groupCol).isin(g1, g2))
      .groupBy(keyCol, valCol)
      .agg(sum(when(col(groupCol) === g1, 1L).otherwise(0L)).as("c1"),
        sum(when(col(groupCol) === g2, 1L).otherwise(0L)).as("c2"))
      .withColumn("t", col("c1") + col("c2"))

  /** Two-sample Mann–Whitney (Wilcoxon rank-sum) U per key — the
    * nonparametric alternative to the moderated-t DMP path (rank-based:
    * any monotone transform of the values, beta vs M-value, yields the
    * identical U). Plan shape: one aggregate to tie cells, one per-key
    * cumulative window over the much smaller cell table, one per-key
    * aggregate — the window and final aggregate share the key partitioning,
    * so the cells shuffle once and the test scales with keys, not values.
    *
    * Exactness: average ranks are carried in doubled-rank integer units
    * (`ar2 = 2·avg_rank`, always integral even for .5 ranks) and U leaves
    * integer arithmetic in a single final division; the tie-corrected
    * normal z is one fixed double-op sequence. Keys where every value is
    * tied (zero rank variance) drop out, as in R's wilcox.test.
    * Integer bounds: `ties` sums t³ per key — exact in BIGINT to ~2M rows
    * per (key, value) cell, far past any per-key group size in scope.
    */
  def mannWhitney(df: DataFrame, keyCol: String, valCol: String,
                  groupCol: String, g1: String, g2: String): DataFrame = {
    val cells = rankCells(df, keyCol, valCol, groupCol, g1, g2)
    val wCum = Window.partitionBy(keyCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells.withColumn("cum", sum("t").over(wCum))
      .withColumn("ar2", lit(2L) * col("cum") - (col("t") - lit(1L)))
    val agg = ranked.groupBy(keyCol).agg(
      sum("c1").as("n1"), sum("c2").as("n2"),
      count(lit(1)).as("ncells"),
      sum(col("c1") * col("ar2")).as("r1_2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd = (col("n1") + col("n2")).cast("double")
    agg.filter(col("ncells") > 1)
      .withColumn("u1", (col("r1_2") - col("n1") * (col("n1") + lit(1L))).cast("double") / 2.0)
      .withColumn("sigma", sqrt(n1d * n2d / 12.0 *
        (nd + 1.0 - col("ties").cast("double") / (nd * (nd - 1.0)))))
      .withColumn("z", (col("u1") - n1d * n2d / 2.0) / col("sigma"))
      .select(col(keyCol), col("n1"), col("n2"), col("u1"), col("z"))
  }

  /** Two-sample Kolmogorov–Smirnov D per key: max gap between the two
    * empirical CDFs, evaluated at every distinct value. Same cell+window
    * shape (and the same single data shuffle) as [[mannWhitney]]; the gap
    * is kept as the exact integer `|cum1·n2 − cum2·n1|` and divided by
    * n1·n2 once at the end, so D is bit-reproducible. `ks_stat` is the
    * sample-size-scaled statistic D·√(n1·n2/(n1+n2)) fed to the KS
    * asymptotic distribution.
    */
  def ksTest(df: DataFrame, keyCol: String, valCol: String,
             groupCol: String, g1: String, g2: String): DataFrame = {
    val cells = rankCells(df, keyCol, valCol, groupCol, g1, g2)
    val wCum = Window.partitionBy(keyCol).orderBy(valCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
    val gaps = cells
      .withColumn("cum1", sum("c1").over(wCum))
      .withColumn("cum2", sum("c2").over(wCum))
      .withColumn("n1", sum("c1").over(wAll))
      .withColumn("n2", sum("c2").over(wAll))
      .withColumn("gap", abs(col("cum1") * col("n2") - col("cum2") * col("n1")))
    val agg = gaps.groupBy(keyCol).agg(
      max("n1").as("n1"), max("n2").as("n2"), max("gap").as("gap"))
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    agg.filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("d", col("gap").cast("double") / (n1d * n2d))
      .withColumn("ks_stat", col("d") * sqrt(n1d * n2d / (n1d + n2d)))
      .select(col(keyCol), col("n1"), col("n2"), col("d"), col("ks_stat"))
  }

  /** K12 — sample×sample Spearman correlation matrix: ranks are per-sample
    * over that sample's observed probes (doubled average ranks, ties
    * exact), pairs correlate over shared probes (pairwise-complete),
    * Pearson-on-ranks from exact integer moments. Samples stay the bounded
    * axis, probes scale freely. One row (sa, sb, n_shared, rho), sa < sb,
    * per pair with ≥ 2 shared probes and rank variance on both sides; see
    * [[spearman]] for the plan.
    */
  def spearmanMatrix(df: DataFrame, probeCol: String, sampleCol: String,
                     valCol: String): DataFrame =
    spearman(df, probeCol, sampleCol, valCol, None)

  /** K12 thresholded production variant (r8): emit only sample pairs with
    * |Spearman ρ| ≥ `tau`, via a deterministic sign-sketch pre-filter so
    * the plan is no longer unconditionally samples² — the one k12
    * contract that breaks at 100 TB sample counts. Spearman ρ is Pearson
    * on ranks = the cosine of mean-centered rank vectors, so |ρ| ≥ τ
    * pairs are near-parallel (or near-antipodal) in centered-rank space,
    * and random-hyperplane sign bits (Charikar, STOC'02 — the d04 SimHash
    * family) collide them into shared buckets:
    *
    *  1. per-sample doubled ranks (k12's rank table);
    *  2. per (sample, bit j): the EXACT INTEGER projection sign — with
    *     hash-derived ±1 signs s(probe, j) ([[SignSketchAgg.signWords]]),
    *     p_j = n·Σ s·ar2 − (Σ ar2)·(Σ s) is n× the projection of the
    *     centered rank vector, all in integer arithmetic, so the sign is
    *     order-free exact in both engines;
    *  3. bits pack into [[SpearmanBands]] band signatures, each
    *     canonicalized under global sign flip (lead bit 1 ⇒ complement) so
    *     anti-correlated pairs collide too;
    *  4. pairs sharing any (band, canonical signature) bucket are
    *     candidates; ONLY candidates pay the exact k12 moment aggregate,
    *     and the |ρ| ≥ τ filter runs on the exact value.
    *
    * Semantics are deterministic and SQL-expressible (the d10 rule): the
    * oracle replays the identical sketch, so recall is part of the
    * operator's definition — every emitted pair is EXACT (a true
    * |ρ| ≥ τ pair with k12's bit-identical ρ). A ρ = +1 pair is always
    * found (identical projections ⇒ identical bits ⇒ same bucket in
    * every band). A ρ = −1 pair is found whenever some band has no
    * zero projection: negated rank vectors give negated p_j, and the
    * flip-canonicalization collapses complementary bands — but p_j = 0
    * maps to bit 1 on BOTH sides (sign(0) can't anti-commute), so a
    * band containing a zero projection loses exact complementarity.
    * Pairs barely above τ are found with the standard banded-LSH
    * probability (AnalyticSpec pins the main directions).
    */
  def spearmanThresholded(df: DataFrame, probeCol: String, sampleCol: String,
                          valCol: String, tau: Double): DataFrame =
    spearman(df, probeCol, sampleCol, valCol, Some(SpearmanSketch(tau)))

  /** The thresholded search's threshold and band width. r is derived from
    * the sample count (smallest r with 4·2^r ≥ samples, floor 4) so the
    * expected bucket size stays ~4 and the candidate stage stays ~linear
    * in samples; the sketch has [[SpearmanBands]]·r bits.
    */
  private case class SpearmanSketch(tau: Double) {
    require(tau > 0.0 && tau < 1.0, s"tau=$tau outside (0, 1)")
    def r(nSamples: Int): Int =
      (4 to 30).find(b => (1L << b) * 4 >= nSamples).getOrElse(30)
  }

  /** One bound for the moment width (the [[SizeGate]]
    * `Analytic.spearmanWidth`) and the local gate. A sample's doubled
    * ranks are ≤ 2n+1 and a pair shares ≤ n probes, so every pair moment
    * and sketch projection is ≤ 4n³ < 2⁶³ while the largest per-sample
    * row count n is ≤ 1.3M: bigint is exact there, decimal(38,0) above.
    * The local path collects at most this many rank rows in total
    * (≈ 100 MB), which also keeps ar2 < 2²² inside its packed longs.
    * Duplicated (probe, sample) keys void the per-pair bound; both paths
    * then fail with an overflow error (ANSI sums, Math.addExact), never a
    * silent wrap.
    */
  private val SpearmanMaxRows = 1300000L
  /** Local sample gates: 1500 bounds the six flat nS² moment arrays at
    * ≈ 108 MB. The full matrix stops at 256: its output is all C(nS, 2)
    * pairs, and hundreds of thousands of pairs as a driver-local relation
    * starve the caller's downstream (round/sort/BH over the local scan) —
    * measured slower at 1000 samples (corr 2.8 → 3.3 s, inference
    * 2.9 → 5.6 s) while the candidate-bounded thresholded output kept
    * winning at 1500.
    */
  private val SpearmanLocalMaxSamples = 1500L
  private val SpearmanMatrixLocalMaxSamples = 256L
  /** Beyond ~3·10⁸ pair events the distributed expansion's parallelism
    * wins back its fixed cost, so the local path declines (the
    * [[SizeGate]] `Analytic.spearmanEvents`, after the local collect).
    */
  private val SpearmanLocalEventBudget = 300000000L
  private val SpearmanPackBits = 40 // packed entry: sampleIndex << 40 | ar2
  private val SpearmanBands = 8 // the k12_spearman_thresholded oracle replays 8

  /** The one pipeline behind [[spearmanMatrix]] and [[spearmanThresholded]].
    *
    *  1. Rank table: doubled average ranks in ONE window pass (r9). With
    *     cum = count over RANGE unbounded..current (peers included ⇒ the
    *     tie group's max rank) and t = count over RANGE current..current
    *     (the tie count), min+max rank = 2·cum − t + 1, an exact integer.
    *     Persisted, projected to (probe, sample, ar2): the self-join's two
    *     sides, the sketch and the local collect all read it.
    *  2. Dispatch: one per-sample count collect gives the sorted non-null
    *     sample ids, the total row count and the largest per-sample count
    *     (the width, [[SpearmanMaxRows]]), and fills the cache.
    *  3. The [[SizeGate]] `Analytic.spearman` sends small inputs to
    *     [[spearmanLocal]]; the rest, and any input the local path
    *     declines, run [[spearmanDistributed]]. Both compute the same exact
    *     integers and the same final doubles, so the dispatch is plan-only
    *     (PropertySpec pins local ≡ distributed and bigint ≡ decimal; every
    *     k12 query replays against the DuckDB oracle).
    */
  private def spearman(df: DataFrame, probeCol: String, sampleCol: String,
      valCol: String, sketch: Option[SpearmanSketch]): DataFrame = {
    val w = Window.partitionBy(sampleCol).orderBy(valCol)
    val cum = count(lit(1))
      .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
    val ties = count(lit(1))
      .over(w.rangeBetween(Window.currentRow, Window.currentRow))
    val rb = Caches.track(
      df.withColumn("ar2", lit(2L) * cum - ties + lit(1L))
        .select(col(probeCol), col(sampleCol), col("ar2"))
        .persist())
    val counts = rb.groupBy(sampleCol).agg(count(lit(1))).collect()
    val sizes = counts.map(_.getLong(1))
    val sampleIds = counts.filterNot(_.isNullAt(0)).map(_.getString(0)).sorted
    val maxSamples =
      if (sketch.isEmpty) SpearmanMatrixLocalMaxSamples else SpearmanLocalMaxSamples
    val local =
      if (SizeGate("Analytic.spearman", sizes.sum -> SpearmanMaxRows,
          sampleIds.length.toLong -> maxSamples) == SizeGate.Local)
        spearmanLocal(rb, probeCol, sampleCol, sampleIds, sketch)
      else None
    local.getOrElse(spearmanDistributed(rb, probeCol, sampleCol, sampleIds, sketch,
      decimal = SizeGate("Analytic.spearmanWidth",
        sizes.foldLeft(0L)(_ max _) -> SpearmanMaxRows) == SizeGate.Distributed))
  }

  /** Distributed tail. The bounded sample axis is dict-encoded (sorted, so
    * index order keeps the id order and `sa_i < sb_i` its string meaning):
    * the pair aggregate sees |probe|·|samples/probe|² rows and hashes one
    * int pair per row instead of two strings. The probe-keyed self-join
    * expands pairs stream-side, inside the join stage; the thresholded
    * search restricts them there with a broadcast left-semi on its
    * candidates (the (l ⋈ cand) ⋈ r formulation shuffled |cand|×probes rows
    * and OOM'd the 64× sweep on an 8 g heap). The driver holds the
    * candidates as one primitive long array; the executors split each key
    * back into its index pair. The six moment sums run at
    * the chosen width and combine in decimal(38,0) either way, so the
    * widths are bit-equal by construction; ANSI mode turns a bound
    * miscount into an overflow error.
    */
  private def spearmanDistributed(rb: DataFrame, probeCol: String, sampleCol: String,
      sampleIds: Array[String], sketch: Option[SpearmanSketch],
      decimal: Boolean): DataFrame = {
    val spark = rb.sparkSession
    import spark.implicits._
    val width = if (decimal) "decimal(38,0)" else "bigint"
    val sdim = broadcast(sampleIds.zipWithIndex.toSeq.toDF(sampleCol, "__sid"))
    val rbe = rb.join(sdim, sampleCol)
    def side(sid: String, rank: String) = rbe.select(col(probeCol),
      col("__sid").as(sid), col("ar2").cast(width).as(rank))
    val pairs = side("sa_i", "ra").join(side("sb_i", "rb"), probeCol)
      .filter(col("sa_i") < col("sb_i"))
    val kept = sketch.fold(pairs) { s =>
      val keys = spearmanSketchDistributed(rb, probeCol, sampleCol, sampleIds, s)
      val cand = spark.sparkContext.parallelize(ArraySeq.unsafeWrapArray(keys)).toDF("k")
        .select(shiftright(col("k"), 32).cast("int").as("sa_i"),
          (col("k") bitwiseAND 0xFFFFFFFFL).cast("int").as("sb_i"))
      pairs.join(broadcast(cand), Seq("sa_i", "sb_i"), "left_semi")
    }
    val m = kept.groupBy("sa_i", "sb_i")
      .agg(count(lit(1)).as("cnt"),
        sum("ra").as("msx"), sum("rb").as("msy"),
        sum(col("ra") * col("ra")).as("msxx"),
        sum(col("rb") * col("rb")).as("msyy"),
        sum(col("ra") * col("rb")).as("msxy"))
    def D(c: String) = col(c).cast("decimal(38,0)")
    val (n, sx, sy, sxx, syy, sxy) =
      (D("cnt"), D("msx"), D("msy"), D("msxx"), D("msyy"), D("msxy"))
    val denx = (n * sxx - sx * sx).cast("double")
    val deny = (n * syy - sy * sy).cast("double")
    val rho = m.filter(col("cnt") >= 2 && denx * deny > 0.0)
      .withColumn("rho", (n * sxy - sx * sy).cast("double") / sqrt(denx * deny))
    sketch.fold(rho)(s => rho.filter(abs(col("rho")) >= s.tau))
      .join(broadcast(sdim.toDF("sa", "sa_i")), "sa_i")
      .join(broadcast(sdim.toDF("sb", "sb_i")), "sb_i")
      .select(col("sa"), col("sb"), col("cnt").cast("bigint").as("n_shared"),
        col("rho"))
  }

  /** The sketch on the distributed path: signs once per distinct probe
    * (md5 runs probes×bits times, not rows×bits), one [[SignSketchAgg]]
    * buffer per sample — the rows pre-partition by sample so each buffer
    * exists once and its partial output already satisfies the final
    * distribution (the PoissonBootAgg pattern) — and the packed bits
    * collected (samples × ⌈nbits/64⌉ longs) for [[spearmanCandidates]].
    */
  private def spearmanSketchDistributed(rb: DataFrame, probeCol: String,
      sampleCol: String, sampleIds: Array[String],
      s: SpearmanSketch): Array[Long] = {
    val r = s.r(sampleIds.length)
    val nbits = SpearmanBands * r
    val signs = udf((p: String) => SignSketchAgg.signWords(p, nbits))
    val words = rb.select(col(probeCol)).distinct()
      .select(col(probeCol), signs(col(probeCol)).as("words"))
    val sketch = udaf(new SignSketchAgg(nbits))
    val index = sampleIds.zipWithIndex.toMap
    val bits = new Array[Array[Long]](sampleIds.length)
    rb.join(words, probeCol)
      .repartition(col(sampleCol))
      .groupBy(col(sampleCol))
      .agg(sketch(col("ar2"), col("words")))
      .collect().filterNot(_.isNullAt(0))
      .foreach(row => bits(index(row.getString(0))) = row.getSeq[Long](1).toArray)
    spearmanCandidates(bits, r)
  }

  /** Bucketing, shared by both paths: each sample's packed sketch bits
    * split into [[SpearmanBands]] signatures of r bits, canonicalized under
    * global sign flip (lead bit 1 ⇒ complement) so anti-correlated pairs
    * collide too. Samples sharing any (band, signature) bucket are
    * candidate pairs, keyed (lo << 32 | hi) by dictionary index and
    * returned sorted and distinct in one primitive array. A sample without
    * bits (no sketched row) joins no bucket.
    */
  private def spearmanCandidates(bits: Array[Array[Long]], r: Int): Array[Long] = {
    val buckets = new java.util.HashMap[java.lang.Long, ArrayBuffer[Int]]()
    for (s <- bits.indices if bits(s) != null; b <- 0 until SpearmanBands) {
      def bit(j: Int): Long = (bits(s)(j >> 6) >>> (j & 63)) & 1L
      val sig = (0 until r).foldLeft(0L)((acc, i) => acc | (bit(b * r + i) << i))
      val canon = if (bit(b * r) == 1L) ((1L << r) - 1) - sig else sig
      buckets.computeIfAbsent((b.toLong << 32) | canon, _ => ArrayBuffer.empty[Int]) += s
    }
    val keys = Array.newBuilder[Long]
    buckets.values.forEach { members => // ascending: samples enter in index order
      for (i <- members.indices; j <- i + 1 until members.length)
        keys += (members(i).toLong << 32) | members(j)
    }
    val cand = keys.result()
    java.util.Arrays.sort(cand)
    var n = 0 // a pair sharing several bands appears once per band
    for (i <- cand.indices if n == 0 || cand(i) != cand(n - 1)) { cand(n) = cand(i); n += 1 }
    java.util.Arrays.copyOf(cand, n)
  }

  /** Driver-local kernel: the distributed plan's integers and doubles over
    * the collected rank table. One collect, grouped per probe as packed
    * (sampleIndex << 40 | ar2) longs — rows with a null probe or sample id
    * are skipped, as the distributed joins drop them. One pair-event budget
    * check: None sends the caller to the distributed plan. The thresholded
    * search then runs the sketch through [[SignSketchAgg]]'s own
    * zero/reduce/finish and [[spearmanCandidates]]. Per shared probe the
    * kernel accumulates (cnt, Σra, Σrb, Σra², Σrb², Σra·rb) for each
    * ordered pair (dict index ascending, equal-sample rows skipped), the
    * last three with Math.addExact (see [[SpearmanMaxRows]]); per pair with
    * cnt ≥ 2 it combines them in exact BigInt (the decimal(38,0)
    * sequence), keeps denx·deny > 0 and emits ρ = num/√(denx·deny).
    * BigInt.toDouble and Decimal.toDouble both round correctly, so the
    * doubles match bit for bit.
    */
  private def spearmanLocal(rb: DataFrame, probeCol: String, sampleCol: String,
      sampleIds: Array[String], sketch: Option[SpearmanSketch]): Option[DataFrame] = {
    val nS = sampleIds.length
    val index = sampleIds.zipWithIndex.toMap
    val byProbe = new java.util.HashMap[String, ArrayBuffer[Long]]()
    rb.select(col(probeCol), col(sampleCol), col("ar2")).collect()
      .filterNot(row => row.isNullAt(0) || row.isNullAt(1)).foreach { row =>
        byProbe.computeIfAbsent(row.getString(0), _ => ArrayBuffer.empty[Long]) +=
          ((index(row.getString(1)).toLong << SpearmanPackBits) | row.getLong(2))
      }
    val (probes, groups) = byProbe.asScala.toArray.map { case (p, g) => (p, g.toArray) }.unzip
    val events = groups.foldLeft(0L)((e, g) => e + g.length.toLong * (g.length - 1) / 2)
    if (SizeGate("Analytic.spearmanEvents", events -> SpearmanLocalEventBudget) ==
        SizeGate.Distributed) return None
    val mask = (1L << SpearmanPackBits) - 1
    val cand = sketch.map { s =>
      val r = s.r(nS)
      val nbits = SpearmanBands * r
      val agg = new SignSketchAgg(nbits)
      val bufs = new Array[SignSketchBuf](nS)
      for (p <- probes.indices) {
        val words = SignSketchAgg.signWords(probes(p), nbits)
        groups(p).foreach { e =>
          val i = (e >>> SpearmanPackBits).toInt
          bufs(i) = agg.reduce(if (bufs(i) == null) agg.zero else bufs(i), (e & mask, words))
        }
      }
      spearmanCandidates(bufs.map(b => if (b == null) null else agg.finish(b)), r)
    }
    val cnt, sx, sy, sxx, syy, sxy = new Array[Long](nS * nS)
    groups.foreach { g =>
      java.util.Arrays.sort(g) // sample index ascending (it is the high bits)
      var i = 0
      while (i < g.length) {
        val si = (g(i) >>> SpearmanPackBits).toInt
        val ai = g(i) & mask
        var j = i + 1
        while (j < g.length) {
          val sj = (g(j) >>> SpearmanPackBits).toInt
          if (sj != si) { // equal-sample duplicates: sa < sb excludes them
            val aj = g(j) & mask
            val idx = si * nS + sj
            cnt(idx) += 1
            sx(idx) += ai
            sy(idx) += aj
            sxx(idx) = Math.addExact(sxx(idx), ai * ai)
            syy(idx) = Math.addExact(syy(idx), aj * aj)
            sxy(idx) = Math.addExact(sxy(idx), ai * aj)
          }
          j += 1
        }
        i += 1
      }
    }
    val out = ArrayBuffer.empty[Row]
    for (a <- 0 until nS; b <- a + 1 until nS) {
      val idx = a * nS + b
      val n = cnt(idx)
      if (n >= 2 && cand.forall(java.util.Arrays.binarySearch(_, (a.toLong << 32) | b) >= 0)) {
        val bn = BigInt(n)
        val bsx = BigInt(sx(idx))
        val bsy = BigInt(sy(idx))
        val denx = (bn * sxx(idx) - bsx * bsx).toDouble
        val deny = (bn * syy(idx) - bsy * bsy).toDouble
        if (denx * deny > 0.0) {
          val rho = (bn * sxy(idx) - bsx * bsy).toDouble / math.sqrt(denx * deny)
          if (sketch.forall(s => math.abs(rho) >= s.tau))
            out += Row(sampleIds(a), sampleIds(b), n, rho)
        }
      }
    }
    // The distributed output's schema, nullability included. A
    // LocalRelation (not an RDD) so plan statistics stay accurate for
    // downstream dispatches (planRowEstimate reads its real byte size; a
    // LogicalRDD reports the unknown-size default and would shunt a
    // 5k-row BH onto the ranged path).
    val schema = StructType(Seq(StructField("sa", StringType),
      StructField("sb", StringType), StructField("n_shared", LongType, nullable = false),
      StructField("rho", DoubleType)))
    Some(rb.sparkSession.createDataFrame(java.util.Arrays.asList(out.toArray: _*), schema))
  }

  /** Per-group z-score normalization (the feature-standardization step,
    * grouped): moments come from ONE exact-integer aggregate per group
    * (the same bit-stable path as the variance operators — integer n/s/ss,
    * then a fixed double-op sequence), broadcast back, z computed
    * row-locally. The value column must be integer-valued; the data
    * itself never shuffles.
    */
  def zscoreNormalize(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("bigint")
    val m = df.groupBy(groupCol).agg(count(lit(1)).as("__n"),
      sum(v).as("__s"), sum(v * v).as("__ss"))
    df.join(broadcast(m), groupCol)
      .withColumn("z",
        (v.cast("double") - col("__s").cast("double") / col("__n").cast("double")) /
          sqrt(graft.functions.Fns.varFromMoments(col("__n"), col("__s"), col("__ss"))))
      .drop("__n", "__s", "__ss")
  }
}
