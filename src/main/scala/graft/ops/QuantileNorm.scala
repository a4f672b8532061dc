package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Between-sample quantile normalization — the preprocessCore
  * `normalize.quantiles` step that sits next to BMIQ in methylation
  * pipelines (the reference preprocesses via minfi, whose between-array
  * step is this map; BMIQ then handles the within-array type-I/type-II
  * correction, `ops/Bmiq.scala`).
  *
  * Restatement for ragged long-form data (documented deviation): classic
  * quantile normalization assumes a dense matrix with equal row counts per
  * sample. A long-form table where samples observe different key sets has
  * no rank-r-to-rank-r correspondence, so this maps each value to its
  * sample-relative quantile `p = (rank-1)/(n_s-1)`, buckets `p` into
  * `bins` equal-width bins, and replaces the value with the cross-sample
  * mean of its bin — i.e. quantile normalization against a `bins`-point
  * piecewise-constant reference distribution. On equal-count dense input
  * with bins = rows/sample this is the classic map; preprocessCore's
  * linear interpolation between rank means is the same construction with
  * a piecewise-linear reference.
  *
  * Scale shape: ONE data shuffle — the rank window partitioned by sample
  * (rank and per-sample count share the partition, so Catalyst stacks both
  * Window operators on a single exchange; samples are the bounded axis,
  * and past ~1e8 rows/sample the window swaps for the range-partitioned
  * two-pass rank already built in [[Analytic.bhAdjust]]). The reference
  * distribution is a `bins`-row aggregate (fixed size regardless of data
  * volume) joined back by broadcast — no second shuffle of the data.
  *
  * Float determinism: with `denom` > 0 the bin means come from an exact
  * integer sum (values expressible as small-denominator rationals — the
  * synthetic beta table is k/997), so results are bit-identical across
  * engines and partition orders. With `denom` = 0 it falls back to plain
  * `avg` (order-sensitive at the last ulp). Assumes (key, sample) is
  * unique (dedupe upstream, as [[graft.Tables.betaLong]] does) — a
  * duplicate pair would make the tie-broken rank order nondeterministic.
  */
object QuantileNorm {

  def normalizeBinned(long: DataFrame, keyCol: String, sampleCol: String,
                      valCol: String, bins: Int,
                      denom: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val bySample = Window.partitionBy(sampleCol)
    // ranked is consumed twice (reference-distribution aggregate + the
    // final map-back join) — persist it so the rank window's shuffle+sort
    // runs once, not once per consumer (the repo's twice-consumed-stage
    // convention; Verify/Bench release via Caches between queries).
    val ranked = Caches.track(long
      .withColumn("rank",
        row_number().over(bySample.orderBy(col(valCol), col(keyCol))))
      .withColumn("__n", count(lit(1)).over(bySample))
      .withColumn("p",
        when(col("__n") > 1,
          (col("rank") - 1).cast("double") / (col("__n") - 1).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("bin",
        least(floor(col("p") * bins), lit(bins - 1)).cast("int"))
      .persist())

    val refDist =
      if (denom > 0)
        ranked.groupBy("bin")
          .agg((sum(round(col(valCol) * denom).cast("bigint")).cast("double")
            / (lit(denom).cast("double") * count(lit(1)))).as("qn_value"))
      else
        ranked.groupBy("bin").agg(avg(valCol).as("qn_value"))

    ranked.join(broadcast(refDist), "bin")
      .select(col(keyCol), col(sampleCol), col(valCol), col("p"),
        col("qn_value"))
  }
}
