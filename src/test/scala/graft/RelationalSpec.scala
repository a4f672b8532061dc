package graft

import org.apache.spark.sql.functions._
import graft.ops.Relational

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("nullProfile counts null axis keys and dedups duplicate cells") {
    // 2 probes x 3 sample keys (one NULL), one duplicated cell, one
    // null-valued cell: total = 2*3, present counts the deduped non-null
    // cells — (p1,s1) once despite the duplicate row, (p1,NULL) counted
    // as a real axis value, (p2,s2)'s null beta NOT counted.
    val df = Seq(
      ("p1", Option("s1"), Option(0.1)),
      ("p1", Option("s1"), Option(0.2)), // duplicate cell
      ("p1", None, Option(0.3)),         // null sample key, real value
      ("p2", Option("s2"), None),        // cell present but value null
      ("p2", Option("s1"), Option(0.4))
    ).toDF("probe_id", "sample_id", "beta")
    val r = graft.ops.Qc.nullProfile(df, "probe_id", "sample_id", "beta").head()
    assert(r.getLong(0) == 6L, s"total: $r")   // 2 probes x 3 sample keys
    assert(r.getLong(1) == 3L, s"present: $r") // (p1,s1),(p1,NULL),(p2,s1)
    assert(r.getLong(2) == 3L, s"missing: $r")
  }

  test("qcBetas applies the collected passing samples without broadcasting a local relation") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // 3 samples x 4 probes built from spark.range, so no input is a local
    // relation: s2 fails the sample filter (mean detP 0.5), p3 the probe
    // filter (0.2 in s0), and a beta row with a null sample_id matches no
    // sample
    val cells = spark.range(12).select(
      concat(lit("p"), (col("id") % 4).cast("string")).as("probe_id"),
      concat(lit("s"), (col("id") / 4).cast("int").cast("string")).as("sample_id"))
    val detp = cells.withColumn("pval",
      when(col("sample_id") === "s2", 0.5)
        .when(col("probe_id") === "p3" && col("sample_id") === "s0", 0.2)
        .otherwise(0.01))
    val beta = cells.withColumn("beta", lit(0.5)).unionByName(spark.range(1).select(
      lit("p0").as("probe_id"), lit(null).cast("string").as("sample_id"), lit(0.5).as("beta")))
    val out = graft.ops.Qc.qcBetas(beta, detp, nSamples = -1, thr = 0.1)
    assert(out.select("sample_id", "probe_id").as[(String, String)].collect().sorted.toSeq ==
      (for (s <- Seq("s0", "s1"); p <- Seq("p0", "p1", "p2")) yield (s, p)))
    val plan = out.queryExecution.executedPlan
    assert(new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) {
      case b: BroadcastExchangeExec if b.child.isInstanceOf[LocalTableScanExec] => b
    }.isEmpty, plan.toString)
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // one hot key carrying 90% of rows
    val large = ((1 to 900).map(i => ("hot", i)) ++ (1 to 100).map(i => (s"k$i", i)))
      .toDF("key", "v")
    val small = (Seq("hot") ++ (1 to 100).map(i => s"k$i")).map(k => (k, k.length))
      .toDF("key", "len")
    val plain = large.join(small, "key")
      .agg(count(lit(1)), sum("v"), sum("len")).head()
    val salted = Relational.saltedJoin(large, small, "key", salts = 8)
      .agg(count(lit(1)), sum("v"), sum("len")).head()
    assert(plain == salted)
  }

  test("outerMergeByKey keeps the union of keys with nulls where absent") {
    val a = Seq(("p1", 1.0), ("p2", 2.0)).toDF("probe_id", "a")
    val b = Seq(("p2", 20.0), ("p3", 30.0)).toDF("probe_id", "b")
    val m = Relational.outerMergeByKey("probe_id", Seq(a, b))
      .orderBy("probe_id").collect()
    assert(m.map(_.getString(0)).toSeq == Seq("p1", "p2", "p3"))
    assert(m(0).isNullAt(2) && m(2).isNullAt(1))
    assert(m(1).getDouble(1) == 2.0 && m(1).getDouble(2) == 20.0)
  }

  test("lookupRename maps matched keys and keeps unmatched ones") {
    val df = Seq(("s1", 1), ("s2", 2)).toDF("sample_id", "v")
    val mapping = Seq(("s1", "renamed")).toDF("old_id", "new_id")
    val out = Relational.lookupRename(df, mapping, "sample_id", "old_id", "new_id")
      .orderBy("v").select("sample_id").as[String].collect()
    assert(out.toSeq == Seq("renamed", "s2"))
  }

  test("dedupFirst is deterministic under the explicit order") {
    val df = Seq(("k", 3, "c"), ("k", 1, "a"), ("k", 2, "b")).toDF("key", "ord", "tag")
    val kept = Relational.dedupFirst(df, Seq("key"), Seq(col("ord").asc))
      .select("tag").as[String].collect()
    assert(kept.toSeq == Seq("a"))
  }

  test("asofJoin matches the naive inequality-join-then-latest answer") {
    val left = Seq(("u1", 10L, "a"), ("u1", 25L, "b"), ("u2", 5L, "c"), ("u3", 7L, "d"))
      .toDF("user", "ts", "tag")
    val right = Seq(("u1", 10L, 100.0), ("u1", 20L, 200.0), ("u1", 30L, 300.0),
      ("u2", 6L, 600.0)).toDF("user", "ts", "px")
    val got = Relational.asofJoin(left, right, "user", "ts", Seq("ts", "px"))
      .orderBy("user", "ts")
      .select("user", "ts", "tag", "asof_ts", "asof_px").collect()
    // u1@10 → right@10 (ties inclusive), u1@25 → right@20,
    // u2@5 → none (right@6 is later), u3 → no right rows at all
    assert(got(0).getLong(3) == 10L && got(0).getDouble(4) == 100.0)
    assert(got(1).getLong(3) == 20L && got(1).getDouble(4) == 200.0)
    assert(got(2).isNullAt(3) && got(2).isNullAt(4))
    assert(got(3).isNullAt(3) && got(3).isNullAt(4))
  }

  test("bloomPruneJoin is bit-identical to the plain join") {
    val big = (1L to 2000L).map(k => (k % 97, k)).toDF("key", "v")
    val dim = (0L to 96L by 7).map(k => (k, s"d$k")).toDF("dkey", "tag")
    val plain = big.join(dim, col("key") === col("dkey"))
      .agg(count(lit(1)), sum("v")).head()
    val pruned = Relational.bloomPruneJoin(big, dim, "key", "dkey")
      .agg(count(lit(1)), sum("v")).head()
    assert(plain == pruned)
  }

  test("gapFillCounts fills interior holes with zeros, bounded by each key's span") {
    import graft.ops.Timeseries
    val ev = Seq(("u1", 3L), ("u1", 3L), ("u1", 6L), ("u2", 10L))
      .toDF("user", "bucket")
    val got = Timeseries.gapFillCounts(ev, "user", "bucket")
      .orderBy("user", "bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(
      ("u1", 3L, 2L), ("u1", 4L, 0L), ("u1", 5L, 0L), ("u1", 6L, 1L),
      ("u2", 10L, 1L)))
  }

  test("sessionize splits on gaps above the threshold, first event opens session 1") {
    import graft.ops.Timeseries
    val ev = Seq(("u1", 1L, 0L), ("u1", 2L, 10L), ("u1", 3L, 100L), ("u1", 4L, 110L),
      ("u2", 5L, 7L))
      .toDF("user", "id", "ts_us")
    val got = Timeseries.sessionize(ev, "user", "ts_us", "id", gapUs = 50L)
      .orderBy("user", "ts_us")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got == Seq(("u1", 1L, 1L), ("u1", 2L, 1L), ("u1", 3L, 2L), ("u1", 4L, 2L),
      ("u2", 5L, 1L)))
  }

  test("scd2 collapses consecutive repeats and chains validity intervals") {
    import graft.ops.Timeseries
    val log = Seq(("u1", "a", 0L, 1L), ("u1", "a", 10L, 2L), ("u1", "b", 20L, 3L),
      ("u1", "a", 30L, 4L))
      .toDF("user", "attr", "ts_us", "id")
    val got = Timeseries.scd2(log, "user", "attr", "ts_us", "id")
      .orderBy("valid_from_us")
      .select("attr", "valid_from_us", "valid_to_us", "is_current")
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(("a", 0L, 20L, false), ("b", 20L, 30L, false), ("a", 30L, -1L, true)))
  }

  test("compactFiles collapses the file count and preserves content exactly") {
    val base = (1L to 500L).map(k => (k, s"v$k")).toDF("k", "v")
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    base.repartition(16).write.mode("overwrite").parquet(s"$dir/small")
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$dir/small") == 16)
    val compacted = Relational.compactFiles(spark, s"$dir/small", s"$dir/big", 2)
    assert(parquetFiles(s"$dir/big") <= 2)
    assert(compacted.orderBy("k").collect().toSeq ==
      base.orderBy("k").collect().toSeq)
  }

  test("fuzzyJoin equals the unblocked quadratic join, including max-length-diff matches") {
    val left = Seq("abc", "xyzzy", "q").toDF("l")
    val right = Seq("abcde", "abd", "xyz", "zz", "q").toDF("r") // "abcde" is dist 2 / len diff 2
    val blocked = Relational.fuzzyJoin(left, right, "l", "r", maxDist = 2)
      .collect().map(row => (row.getString(0), row.getString(1), row.getInt(2))).toSet
    val naive = left.crossJoin(right)
      .withColumn("dist", levenshtein(col("l"), col("r")))
      .filter(col("dist") <= 2)
      .collect().map(row => (row.getString(0), row.getString(1), row.getInt(2))).toSet
    assert(blocked == naive)
    assert(blocked.contains(("abc", "abcde", 2))) // survives length-band blocking
  }

  test("funnel chains first-occurrence-after stages and breaks on missing links") {
    import graft.ops.Timeseries
    val ev = Seq(
      ("u1", 10L, "view"), ("u1", 5L, "click"),  // click BEFORE view: not counted
      ("u1", 20L, "click"), ("u1", 15L, "purchase"), // purchase before the counted click
      ("u2", 1L, "view"), ("u2", 2L, "click"), ("u2", 3L, "purchase"),
      ("u3", 1L, "click")) // never viewed
      .toDF("user", "ts_us", "etype")
    val got = Timeseries.funnel(ev, "user", "ts_us", "etype",
        Seq("view", "click", "purchase"))
      .orderBy("user")
      .collect().map(r => (r.getString(0), r.getInt(4))).toSeq
    assert(got == Seq(("u1", 2), ("u2", 3), ("u3", 0)))
  }

  test("funnel and retention handle negative timestamps (pre-epoch/offset time)") {
    import graft.ops.Timeseries
    // a full conversion entirely at negative ts must still count
    val ev = Seq(("u1", -100L, "view"), ("u1", -50L, "click"))
      .toDF("user", "ts_us", "etype")
    val f = Timeseries.funnel(ev, "user", "ts_us", "etype", Seq("view", "click"))
      .collect().map(r => (r.getString(0), r.getInt(3))).toSeq
    assert(f == Seq(("u1", 2)))
    // floor bucketing: ts = -1 and +1 land in DIFFERENT buckets
    val ev2 = Seq(("u1", -1L, "signup"), ("u1", 1L, "view"))
      .toDF("user", "ts_us", "etype")
    val r = Timeseries.retentionCohorts(ev2, "user", "ts_us", "etype",
        "signup", bucketUs = 10L)
      .orderBy("bucket_offset")
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSeq
    assert(r == Seq((-1L, 0L), (-1L, 1L))) // cohort floor(-1/10) = -1
  }

  test("retentionCohorts counts distinct users per (cohort, offset) bucket") {
    import graft.ops.Timeseries
    val ev = Seq(
      ("u1", 5L, "signup"), ("u1", 5L, "view"), ("u1", 25L, "view"),
      ("u2", 12L, "signup"), ("u2", 13L, "view"), ("u2", 21L, "view"))
      .toDF("user", "ts_us", "etype")
    val got = Timeseries.retentionCohorts(ev, "user", "ts_us", "etype",
        "signup", bucketUs = 10L)
      .orderBy("cohort_bucket", "bucket_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L, 1L), (0L, 2L, 1L), (1L, 0L, 1L), (1L, 1L, 1L)))
  }

  test("winsorize clamps to exact per-group percentiles, passthrough inside") {
    import graft.ops.Analytic
    val df = (1 to 10).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val got = Analytic.winsorize(df, "grp", "v", 0.1, 0.9)
      .orderBy("v").select("v_w").collect().map(_.getDouble(0)).toSeq
    // percentile interpolation on 1..10: p10 = 1.9, p90 = 9.1
    assert(got == Seq(1.9, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.1))
  }

  test("upsertMerge applies inserts, updates, deletes, and passthrough") {
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "tag", "v")
    val changes = Seq(
      (2L, "U", "b2", 21L),  // update
      (3L, "D", "c", 30L),   // delete
      (9L, "I", "new", 99L)) // insert
      .toDF("id", "op", "tag", "v")
    val got = Relational.upsertMerge(base, changes, "id", "op", Seq("tag", "v"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "b2", 21L), (9L, "new", 99L)))
  }

  test("zValue interleaves bijectively and its tiles bound both dimensions") {
    // bijective on the full 5-bit × 5-bit grid
    val grid = (for { a <- 0L until 32L; b <- 0L until 32L } yield (a, b))
      .toDF("a", "b")
    val zs = grid.select(Relational.zValue(col("a"), col("b"), 5).as("z"))
      .as[Long].collect()
    assert(zs.distinct.length == 1024 && zs.min == 0L && zs.max == 1023L)
    // top-4-bit tiles of a 20-bit curve are 256×256 rectangles: within a
    // tile, both keys span at most 256 values — the file-skipping bound
    val keys = (0L until 4000L).map(i => (i * 2654435761L % 1024, i * 40503L % 1024))
      .toDF("ka", "kb")
    val spans = keys
      .withColumn("bucket",
        shiftright(Relational.zValue(col("ka"), col("kb"), 10), 16))
      .groupBy("bucket")
      .agg((max("ka") - min("ka")).as("sa"), (max("kb") - min("kb")).as("sb"))
      .collect()
    assert(spans.length == 16)
    spans.foreach { r =>
      assert(r.getLong(1) <= 255 && r.getLong(2) <= 255, r.toString)
    }
  }

  test("rangeJoinBinned equals the naive theta-join across bin boundaries") {
    // intervals chosen to straddle, align with, and dodge the 10-wide bins
    val intervals = Seq((1, 5L, 15L), (2, 10L, 20L), (3, 0L, 35L), (4, 38L, 39L))
      .toDF("iid", "lo", "hi")
    val probes = (0L to 40L).map(t => (t, s"p$t")).toDF("ts", "ptag")
    val naive = intervals.join(probes, col("ts") >= col("lo") && col("ts") < col("hi"))
      .select("iid", "ts").orderBy("iid", "ts").collect().toSeq
    val binned = Relational.rangeJoinBinned(intervals, probes, "lo", "hi", "ts", 10L)
      .select("iid", "ts").orderBy("iid", "ts").collect().toSeq
    assert(binned == naive)
    assert(binned.nonEmpty)
  }
}
