package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** The K tier's moments builder ([[QueriesStats.levelMoments]]) against a
  * driver-side exact fold, and the plan shape of the statistics built on
  * it: one conditional-sum aggregate over one broadcast join of beta to
  * the sample sheet.
  */
class MomentsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // p1 covers every run × group cell with k at both grid ends; p2 has no
  // run_2 rows and no MUT row in run_0; p3 has a null group and a null run
  private val rows = Seq(
    ("p1", "run_0", "WT", 0L), ("p1", "run_0", "MUT", 996L),
    ("p1", "run_1", "WT", 500L), ("p1", "run_1", "MUT", 3L),
    ("p1", "run_2", "WT", 996L), ("p1", "run_2", "MUT", 0L),
    ("p1", "run_2", "WT", 17L),
    ("p2", "run_0", "WT", 10L), ("p2", "run_1", "MUT", 20L),
    ("p2", "run_1", "WT", 996L),
    ("p3", "run_0", null, 7L), ("p3", null, "MUT", 9L), ("p3", "run_1", "WT", 0L))

  private type Pred = (String, String) => Boolean
  private def inRun(r: Int): Pred = (run, _) => run == s"run_$r"
  private def inGroup(g: String): Pred = (_, group) => group == g
  private val runs = (0 to 2).map(r => r.toString -> inRun(r))
  private val groups = Seq("1" -> inGroup("WT"), "2" -> inGroup("MUT"))
  private val runGroups =
    for ((r, pr) <- runs; (g, pg) <- groups)
      yield s"${g}_$r" -> ((run: String, group: String) => pr(run, group) && pg(run, group))

  /** Exact moments per probe by a driver-side fold over the planted rows. */
  private def fold(levels: Seq[(String, Pred)]): Map[String, Map[String, Long]] =
    rows.groupBy(_._1).map { case (probe, rs) =>
      def mom(sfx: String, keep: Pred) = {
        val ks = rs.collect { case (_, run, group, k) if keep(run, group) => k }
        Seq(s"n$sfx" -> ks.size.toLong, s"s$sfx" -> ks.sum, s"ss$sfx" -> ks.map(k => k * k).sum)
      }
      probe -> (mom("", (_, _) => true) ++ levels.flatMap { case (sfx, p) => mom(sfx, p) }).toMap
    }

  private def built(levels: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    QueriesStats.levelMoments(rows.toDF("probe_id", "run", "group", "k"),
      Seq("probe_id"), col("k"), levels)

  private def asMaps(df: DataFrame): Map[String, Map[String, Long]] =
    df.collect().map { (r: Row) =>
      r.getString(0) -> df.columns.tail.map(c => c -> r.getAs[Long](c)).toMap
    }.toMap

  test("levelMoments equals an exact fold on the run, group and run × group axes") {
    Seq((QueriesStats.runLevels, runs), (QueriesStats.groupLevels, groups),
        (QueriesStats.runGroupLevels, runGroups)).foreach { case (levels, preds) =>
      assert(levels.map(_._1) == preds.map(_._1))
      val df = built(levels)
      assert(df.schema.fields.tail.forall(_.dataType == LongType), df.schema)
      assert(asMaps(df) == fold(preds), levels.map(_._1))
    }
  }

  test("levelMoments: absent level reads 0, a null level value counts only in the totals") {
    val got = asMaps(built(QueriesStats.runGroupLevels))
    assert(got("p2")("n2_0") == 0L && got("p2")("s2_0") == 0L && got("p2")("ss2_0") == 0L)
    assert(got("p2")("n1_2") == 0L && got("p2")("n2_2") == 0L)
    // p3's null-group and null-run rows are in n but in no level
    assert(got("p3")("n") == 3L)
    assert(QueriesStats.runGroupLevels.map(l => got("p3")(s"n${l._1}")).sum == 1L)
    // the grid ends: 0 adds nothing, 996 adds 996 and 996²
    assert(got("p1")("s1_2") == 996L + 17L && got("p1")("ss1_2") == 996L * 996L + 17L * 17L)
    assert(got("p1")("n1_0") == 1L && got("p1")("s1_0") == 0L)
  }

  // a small study in the testdata's layout: 40 probes (parts) on 8
  // samples (suppliers); plan shapes do not depend on its size
  private lazy val sfDir = {
    val dir = java.nio.file.Files.createTempDirectory("graft_moments").toString
    spark.range(320).select(
        (col("id") % 40 + 1).as("l_partkey"), expr("id div 40 + 1").as("l_suppkey"),
        col("id").as("l_orderkey"), (col("id") % 7 + 1).cast("int").as("l_linenumber"),
        ((col("id") * 7919 % 100003) / 100.0).as("l_extendedprice"))
      .write.parquet(s"$dir/lineitem.parquet")
    spark.range(1, 9).select(col("id").as("s_suppkey")).write.parquet(s"$dir/supplier.parquet")
    dir
  }

  /** (moments-shaped hash aggregates, broadcast hash joins, hash exchanges). */
  private def shape(df: DataFrame): (Int, Int, Int) = {
    val plan = df.queryExecution.executedPlan
    val aggs = collect(plan) { case a: HashAggregateExec => a }
    assert(aggs.forall(_.groupingExpressions.map(_.toString.takeWhile(_ != '#')) ==
      Seq("probe_id")), aggs.map(_.groupingExpressions))
    (aggs.size,
      collect(plan) { case j: BroadcastHashJoinExec => j }.size,
      collect(plan) { case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e }.size)
  }

  test("welchT, anovaF, randomEffects and k39 run one moments aggregate over one broadcast join") {
    val frames = Seq(
      "welchT" -> QueriesStats.welchT(spark, sfDir),
      "anovaF" -> QueriesStats.anovaF(spark, sfDir),
      "randomEffects" -> QueriesStats.randomEffects(spark, sfDir),
      "k39_icc" -> SparkEntry.queries("k39_icc")(spark, sfDir))
    try frames.foreach { case (name, df) =>
      // partial + final aggregate, the beta ⋈ sheet join, one probe shuffle
      assert(shape(df) == (2, 1, 1), name)
    } finally graft.ops.Caches.releaseAll()
  }
}
