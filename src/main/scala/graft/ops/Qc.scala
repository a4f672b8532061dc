package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** QC filters (SURVEY.md §2.2 P9/P10, §2.4 A5) over the long-form detection
  * p-value table `detp(probe_id, sample_id, pval)`.
  *
  * Reference: /root/reference/workflow.R:44-53 — drop samples with
  * colMeans(detP) >= 0.05, keep probes with detP < 0.05 in ALL samples.
  *
  * Both are one hash-aggregate + one semi-join: shuffle on the grouping key
  * only, partial aggregation map-side. At 100 TB the detp table is
  * partitioned by sample (ingest order), so the sample filter aggregates
  * mostly map-side; the probe filter is the one full shuffle.
  */
object Qc {

  /** P9 — samples whose mean detP < thr. */
  def passingSamples(detp: DataFrame, thr: Double): DataFrame =
    detp.groupBy("sample_id")
      .agg(avg("pval").as("mean_detp"))
      .filter(col("mean_detp") < thr)
      .select("sample_id")

  /** P10 — probes with detP < thr in every sample. With `nSamples > 0`
    * the probe must also be present in all nSamples samples (the wide
    * matrix's rowSums(detP<thr)==ncol); with `nSamples = -1` the filter is
    * over observed entries only — the long-model reading where an absent
    * (probe, sample) cell means "not measured", not "failed".
    */
  def passingProbes(detp: DataFrame, nSamples: Long, thr: Double): DataFrame = {
    val agg = detp.groupBy("probe_id")
      .agg(max("pval").as("__max"), count(lit(1)).as("__n"))
      .filter(col("__max") < thr)
    (if (nSamples > 0) agg.filter(col("__n") === nSamples) else agg)
      .select("probe_id")
  }

  /** Composite QC (reference per-run loop workflow.R:43-75): apply sample
    * filter then probe filter to the beta table.
    *
    * The passing samples feed both sides, so they are collected once (one
    * eager collect, one row per sample) and applied as an IN-list filter:
    * as a lazy subtree each semi-join aggregated the whole detp table
    * again, and as a local relation each semi-join broadcast it through a
    * Spark job of its own. The probe filter is a semi-join.
    */
  def qcBetas(beta: DataFrame, detp: DataFrame, nSamples: Long,
              thr: Double): DataFrame = {
    val passing = col("sample_id").isin(passingSamples(detp, thr).collect().map(_.get(0)): _*)
    val goodProbes = passingProbes(detp.filter(passing), nSamples, thr)
    beta.filter(passing).join(goodProbes, Seq("probe_id"), "left_semi")
  }

  /** A5 — null/missingness profile of a long table against its full
    * key-grid (reference /root/reference/health_check.py:19-22).
    */
  def nullProfile(long: DataFrame, rowKey: String, colKey: String,
                  valCol: String): DataFrame = {
    // collapse to one row per cell first: a replayed ingest (duplicate
    // (row, col) entries) would otherwise inflate `present`
    val cells = long.groupBy(rowKey, colKey)
      .agg(max(col(valCol)).as("__v"))
    // total = |rows| x |cols| as a scalar product — no grid enumeration;
    // a missing grid cell contributes to the product but never to `present`,
    // so the complement count needs no join. struct() wraps the keys so a
    // null key still counts as a distinct axis value (count_distinct on a
    // bare column would drop it).
    cells.agg(
        (countDistinct(struct(col(rowKey))) * countDistinct(struct(col(colKey))))
          .as("total_cells"),
        count(col("__v")).as("present"))
      .select(col("total_cells"), col("present"),
        (col("total_cells") - col("present")).as("missing"))
  }
}
