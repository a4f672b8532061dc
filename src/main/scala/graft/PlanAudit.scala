package graft

/** Developer tool: dump formatted physical plans for headline queries so
  * scale review (pushdown, broadcast, TakeOrderedAndProject, shuffle
  * counts) is a one-command check. Not part of the driver contract.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("w01_topk_variance", "p09_qc_sample_filter", "j01_outer_merge_runs",
        "w03_bh_adjust", "d02_ngram_jaccard", "n01_ann_cosine_topk")
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
