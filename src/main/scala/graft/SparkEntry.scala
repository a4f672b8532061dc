package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Operator coverage: every in-scope SURVEY.md §2 id maps to a query below
  * (see COVERAGE.md for the id → query table). Query packs:
  *   - [[QueriesRelational]] — P/J/SO/F/A/W/R relational+analytic tier
  *   - [[QueriesStats]]      — K1/K2/K3/K5/K6 statistical kernels
  *   - [[QueriesLlm]]        — dedup / similarity / text / multimodal
  *   - [[QueriesCuration]]   — clustering / sampling / decontam / packing
  *   - [[QueriesGraph]]      — link analysis over the order graph
  *   - [[QueriesSources]]    — S3/S4/S6 parsers, S1/S7 scan+sink, streaming
  */
object SparkEntry {

  private def packs: Seq[Q] =
    QueriesRelational.all ++ QueriesStats.all ++ QueriesLlm.all ++
      QueriesCuration.all ++ QueriesGraph.all ++ QueriesSources.all

  /** Flagship query (SURVEY.md §7.2 M0): per-group variance of
    * l_extendedprice by l_partkey via exact integer moments, top-k desc —
    * scan → hash agg → TakeOrderedAndProject, the A2+W1 spine every
    * PCA/MDS run of the reference starts with
    * (/root/reference/top10k.py:8-14, workflow.R:155-161).
    */
  def entry(spark: SparkSession): DataFrame =
    packs.find(_.name == "w01_topk_variance").get.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible kernels
    * (PCA/MDS/ComBat/BMIQ/…) → driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
