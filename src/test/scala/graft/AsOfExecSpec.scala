package graft

import graft.plans.AsOfJoin
import org.apache.spark.sql.functions._

/** The custom as-of physical operator (plans/AsOfJoin.scala): semantics on
  * planted edges, equivalence with the window-composition path, and proof
  * the planner actually chose the custom exec.
  */
class AsOfExecSpec extends SparkSpec {
  import spark.implicits._

  private def leftDf = Seq(
    (1L, 10L, 100L), // key 10: candidates at 90,100 -> ties take <= (100)
    (2L, 10L, 95L),  // between right rows -> 90
    (3L, 10L, 50L),  // before any right row -> null
    (4L, 20L, 100L), // key with no right rows -> null
    (5L, 30L, 100L)  // key 30: exactly one earlier right row -> 70
  ).toDF("id", "k", "ts")
  private def rightDf = Seq(
    (10L, 90L, "a"), (10L, 100L, "b"), (10L, 120L, "c"),
    (30L, 70L, "d"), (40L, 10L, "e")
  ).toDF("k", "ts", "tag")

  test("matches the largest right ts <= left ts, per key, nulls when none") {
    val got = AsOfJoin.join(leftDf, rightDf, "k", "ts")
      .select($"id", $"tag").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(got == Map(1L -> "b", 2L -> "a", 3L -> null, 4L -> null, 5L -> "d"))
  }

  test("the planner chooses the custom merge-scan exec") {
    val plan = AsOfJoin.join(leftDf, rightDf, "k", "ts")
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the "Exec" suffix — the node prints as
    // "AsOfJoin k#..: type, ..."
    assert(plan.contains("AsOfJoin "), plan)
    // and the layout it requested: hash exchange + sort on both sides
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Sort ["), plan)
  }

  test("row-identical to the window-composition asofJoin on real events") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", unix_micros($"ts").as("ts_us"))
    def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val viaExec = rows(AsOfJoin.join(purchases, views, "user_id", "ts_us")
      .select($"event_id", $"asof_ts_us"))
    val viaWindow = rows(graft.ops.Relational
      .asofJoin(purchases, views, "user_id", "ts_us", Seq("ts_us"))
      .select($"event_id", $"asof_ts_us"))
    assert(viaExec.nonEmpty && viaExec == viaWindow)
  }

  test("self-lineage inputs (two filters of one table) get fresh right-side ids") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // both sides derive from the same analyzed plan — without the
    // re-aliasing in AsOfJoin.join this would be a duplicate-attribute plan
    val out = AsOfJoin.join(
      ev.filter($"event_type" === "purchase").select($"event_id", $"user_id", unix_micros($"ts").as("ts_us")),
      ev.filter($"event_type" === "view").select($"user_id", unix_micros($"ts").as("ts_us")),
      "user_id", "ts_us")
    assert(out.columns.toSeq == Seq("event_id", "user_id", "ts_us", "asof_user_id", "asof_ts_us"))
    assert(out.count() == ev.filter($"event_type" === "purchase").count())
  }
}
