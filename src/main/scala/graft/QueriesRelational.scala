package graft

import org.apache.spark.sql.functions._
import graft.functions.Fns._
import graft.ops.{Analytic, Qc, Relational}
import SqlOracles.ctes

/** Relational + analytic tier queries (SURVEY.md §2.2-§2.8), each with a
  * DuckDB oracle. Naming: `<survey-id>_<slug>`.
  *
  * Determinism policy for the oracle compare: every emitted double is either
  * (a) an exact data value (min/max), (b) derived from exact integer moments
  * via a fixed double-op sequence ([[graft.functions.Fns.varFromMoments]]),
  * or (c) rounded to 6 decimals after an aggregation whose cross-engine
  * error is ≤1e-10 — so Spark and DuckDB agree bit-for-bit.
  */
object QueriesRelational {

  private val B = (s: org.apache.spark.sql.SparkSession, d: String) => Tables.betaLong(s, d)
  private val D = (s: org.apache.spark.sql.SparkSession, d: String) => Tables.detpLong(s, d)
  private val SS = (s: org.apache.spark.sql.SparkSession, d: String) => Tables.sampleSheet(s, d)

  /** `n` and every Σv and Σv·w (v ≤ w) over `vars` of `base`, as `s_v`
    * and `s_v_w` — exact for decimal(38,0) inputs. */
  private def crossMoments(base: org.apache.spark.sql.DataFrame, vars: Seq[String]) = {
    val aggs = Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
      vars.map(v => sum(col(v)).as(s"s_$v")) ++
      (for { i <- vars.indices; j <- i until vars.length } yield
        sum(col(vars(i)) * col(vars(j))).as(s"s_${vars(i)}_${vars(j)}"))
    base.agg(aggs.head, aggs.tail: _*)
  }

  /** Pearson r of `a` and `b` from [[crossMoments]] columns, the moments
    * differenced before the one cast to double. */
  private def momentCorr(a: String, b: String) = {
    def den(v: String) =
      (col("n") * col(s"s_${v}_$v") - col(s"s_$v") * col(s"s_$v")).cast("double")
    (col("n") * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")).cast("double") /
      sqrt(den(a) * den(b))
  }

  /** lineitem returnflag×linestatus cell counts, ZERO-FILLED over the full
    * margin cross so structurally empty cells carry nij = 0 (and therefore
    * their (0−E)²/E = E Pearson term) — the k27 grid convention, shared by
    * a23 and a25. The cross of two distinct-aggregates is margin-sized
    * (3×2 here, category-cardinality² in general), broadcast explicitly.
    */
  private def chisqCellsZeroFilled(li: org.apache.spark.sql.DataFrame) = {
    val obs = li.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("nij"))
    li.select("l_returnflag").distinct()
      .crossJoin(broadcast(li.select("l_linestatus").distinct()))
      .join(obs, Seq("l_returnflag", "l_linestatus"), "left")
      .withColumn("nij", coalesce(col("nij"), lit(0L)))
  }

  /** Shared oracle mirror of [[chisqCellsZeroFilled]]: `cells` with the
    * margin window sums attached (the `m` CTE both chi-square oracles use).
    */
  private val chisqCellsSql: String =
    """WITH obs AS (
      |  SELECT l_returnflag, l_linestatus, count(*) AS nij
      |  FROM lineitem GROUP BY 1, 2),
      |cells AS (
      |  SELECT g.l_returnflag, c2.l_linestatus, coalesce(o.nij, 0) AS nij
      |  FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
      |  CROSS JOIN (SELECT DISTINCT l_linestatus FROM lineitem) c2
      |  LEFT JOIN obs o ON o.l_returnflag = g.l_returnflag
      |                 AND o.l_linestatus = c2.l_linestatus),
      |m AS (
      |  SELECT *, sum(nij) OVER (PARTITION BY l_returnflag) AS ri,
      |         sum(nij) OVER (PARTITION BY l_linestatus) AS cj,
      |         sum(nij) OVER () AS tot
      |  FROM cells)""".stripMargin

  def all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // J — joins (reference /root/reference/filter.py:45, workflow.R:78-79,
    // pca_analysis.py:52-56, main.py:144-153, volcano.R:77)
    // ------------------------------------------------------------------

    Q("j01_outer_merge_runs", (s, d) => {
      val b = B(s, d).join(broadcast(SS(s, d)), "sample_id")
      val perRun = Seq("run_0", "run_1", "run_2").map { r =>
        b.filter(col("run") === r).groupBy("probe_id")
          .agg(round(avg("beta"), 6).as(s"avg_$r"))
      }
      Relational.outerMergeByKey("probe_id", perRun).orderBy("probe_id")
    }, Some(ctes +
      """, br AS (SELECT b.probe_id, s.run, b.beta FROM beta b JOIN sheet s USING (sample_id)),
        |a0 AS (SELECT probe_id, round(avg(beta), 6) AS avg_run_0 FROM br WHERE run = 'run_0' GROUP BY 1),
        |a1 AS (SELECT probe_id, round(avg(beta), 6) AS avg_run_1 FROM br WHERE run = 'run_1' GROUP BY 1),
        |a2 AS (SELECT probe_id, round(avg(beta), 6) AS avg_run_2 FROM br WHERE run = 'run_2' GROUP BY 1)
        |SELECT probe_id, avg_run_0, avg_run_1, avg_run_2
        |FROM a0 FULL JOIN a1 USING (probe_id) FULL JOIN a2 USING (probe_id)
        |ORDER BY probe_id""".stripMargin)),

    Q("j03_inner_align", (s, d) =>
      B(s, d).join(D(s, d), Seq("probe_id", "sample_id"))
        .groupBy("sample_id")
        .agg(count(lit(1)).as("n"), round(avg(col("beta") - col("pval")), 6).as("avg_diff"))
        .orderBy("sample_id"),
      Some(ctes +
        """SELECT b.sample_id, count(*) AS n, round(avg(b.beta - d.pval), 6) AS avg_diff
          |FROM beta b JOIN detp d USING (probe_id, sample_id)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j04_left_join_metadata", (s, d) => {
      val sheet0 = SS(s, d).filter(col("run") === "run_0")
      B(s, d).join(broadcast(sheet0), Seq("sample_id"), "left")
        .groupBy(coalesce(col("run"), lit("UNMATCHED")).as("run_tag"))
        .agg(count(lit(1)).as("n"), round(avg("beta"), 6).as("avg_beta"))
        .orderBy("run_tag")
    }, Some(ctes +
      """SELECT coalesce(s.run, 'UNMATCHED') AS run_tag, count(*) AS n,
        |       round(avg(b.beta), 6) AS avg_beta
        |FROM beta b LEFT JOIN (SELECT * FROM sheet WHERE run = 'run_0') s USING (sample_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j05_lookup_rename", (s, d) => {
      val mapping = Tables.table(s, d, "supplier")
        .filter(col("s_suppkey") % 5 === 0)
        .select(format_string("S%03d", col("s_suppkey")).as("old_id"),
          concat(lit("N"), col("s_nationkey").cast("string"), lit("_"),
            col("s_suppkey").cast("string")).as("new_id"))
      Relational.lookupRename(B(s, d), mapping, "sample_id", "old_id", "new_id")
        .groupBy("sample_id")
        .agg(count(lit(1)).as("n"), round(avg("beta"), 6).as("avg_beta"))
        .orderBy("sample_id")
    }, Some(ctes +
      """, mapping AS (
        |  SELECT printf('S%03d', s_suppkey) AS old_id,
        |         'N' || CAST(s_nationkey AS VARCHAR) || '_' || CAST(s_suppkey AS VARCHAR) AS new_id
        |  FROM supplier WHERE s_suppkey % 5 = 0)
        |SELECT coalesce(m.new_id, b.sample_id) AS sample_id, count(*) AS n,
        |       round(avg(b.beta), 6) AS avg_beta
        |FROM beta b LEFT JOIN mapping m ON b.sample_id = m.old_id
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j06_match_align_order", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ordered = SS(s, d).withColumn("ord",
        row_number().over(Window.orderBy(col("run"), col("sample_id"))))
      B(s, d).groupBy("sample_id").agg(count(lit(1)).as("n"))
        .join(broadcast(ordered), "sample_id")
        .select("ord", "sample_id", "run", "n")
        .orderBy("ord")
    }, Some(ctes +
      """, ordered AS (
        |  SELECT sample_id, run, row_number() OVER (ORDER BY run, sample_id) AS ord FROM sheet)
        |SELECT o.ord, b.sample_id, o.run, b.n
        |FROM (SELECT sample_id, count(*) AS n FROM beta GROUP BY 1) b
        |JOIN ordered o USING (sample_id)
        |ORDER BY o.ord""".stripMargin)),

    Q("j07_union_group_concat", (s, d) => {
      val b = B(s, d).join(broadcast(SS(s, d)), "sample_id")
      val cols = Seq("probe_id", "sample_id", "beta")
      Relational.unionWithTag("grp", Seq(
        "g1" -> b.filter(col("group") === "WT").select(cols.map(col): _*),
        "g2" -> b.filter(col("group") === "MUT").select(cols.map(col): _*)))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), countDistinct("sample_id").as("n_samples"),
          round(avg("beta"), 6).as("avg_beta"))
        .orderBy("grp")
    }, Some(ctes +
      """, tagged AS (
        |  SELECT 'g1' AS grp, b.probe_id, b.sample_id, b.beta
        |  FROM beta b JOIN sheet s USING (sample_id) WHERE s."group" = 'WT'
        |  UNION ALL
        |  SELECT 'g2' AS grp, b.probe_id, b.sample_id, b.beta
        |  FROM beta b JOIN sheet s USING (sample_id) WHERE s."group" = 'MUT')
        |SELECT grp, count(*) AS n, count(DISTINCT sample_id) AS n_samples,
        |       round(avg(beta), 6) AS avg_beta
        |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Bucketed co-located join: both sides written bucketBy(probe_id) so
    // the join plan carries NO shuffle exchange — the on-disk layout every
    // recurring big-big join should use at 100 TB.
    Q("b01_bucketed_join", (s, d) => {
      val buckets = 8
      Seq("graft_beta_b" -> B(s, d), "graft_detp_b" -> D(s, d)).foreach {
        case (t, df) =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          df.write.mode("overwrite")
            .bucketBy(buckets, "probe_id").sortBy("probe_id")
            .option("path", s"${Q.scratch}/bucketed/$t")
            .saveAsTable(t)
      }
      s.table("graft_beta_b").join(s.table("graft_detp_b"), Seq("probe_id", "sample_id"))
        .groupBy("probe_id")
        .agg(count(lit(1)).as("n"), round(avg(col("beta") - col("pval")), 6).as("avg_diff"))
        .orderBy("probe_id")
    }, Some(ctes +
      """SELECT b.probe_id, count(*) AS n, round(avg(b.beta - d.pval), 6) AS avg_diff
        |FROM beta b JOIN detp d USING (probe_id, sample_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Runtime bloom pruning: sketch the dim keys, drop non-joining big-side
    // rows at the scan, then exact-join; result equals the plain join.
    Q("b02_bloom_prune_join", (s, d) => {
      val dim = Tables.table(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      val big = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), cents(col("l_extendedprice")).as("c"))
      Relational.bloomPruneJoin(big, dim, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("c") / 100.0, 2).as("revenue"))
        .orderBy("o_orderpriority")
    }, Some(
      """SELECT o.o_orderpriority,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Dynamic partition pruning: the fact is laid out partitioned by the
    // join key, the dim side is only known at runtime (a distinct over
    // the parquet scan — nothing Catalyst can constant-fold), so the
    // planner injects a dynamicpruning subquery into the fact scan's
    // PartitionFilters, reusing the broadcast. At 100 TB this is THE
    // dimension-filter shape: the fact reads only the partitions the dim
    // selects, never the full table. PlanGuardSpec asserts the
    // dynamicpruning expression is actually in the scan.
    Q("b03_partition_pruned_join", (s, d) => {
      // Partitioned copy keyed by source dir and written only when absent:
      // concurrent builders (bench + tests) and plan-only inspection
      // (PlanGuardSpec) must not race on — or needlessly rewrite — a
      // shared fixed path.
      val dir = s"${Q.scratch}/b03_events_by_type_${Integer.toHexString(d.hashCode)}"
      // Constructed unconditionally: beyond feeding the write, Tables.events
      // sets the session's nanos-timestamp read conf, which the dim's direct
      // parquet read below depends on.
      val ev = Tables.events(s, d)
      if (!new java.io.File(s"$dir/_SUCCESS").exists())
        ev.select(col("event_id"), col("user_id"),
            round(col("value") * 100).cast("bigint").as("cents"), col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(dir)
      val fact = s.read.parquet(dir)
      val dim = s.read.parquet(s"$d/events.parquet")
        .select("event_type").distinct()
        .filter(length(col("event_type")) <= 5)
      fact.join(broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .orderBy("event_type")
    }, Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE length(event_type) <= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Salting for skew: replicate the dim across salt shards so a hot key
    // spreads over many tasks; result must equal the plain join.
    Q("j09_asof_join", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      Relational.asofJoin(purchases, views, "user_id", "ts_us", Seq("ts_us"))
        .select(col("event_id"),
          col("ts_us").as("purchase_us"),
          col("asof_ts_us").as("view_us"),
          (col("ts_us") - col("asof_ts_us")).as("gap_us"))
        .orderBy("event_id")
    }, Some(
      """SELECT p.event_id, epoch_us(p.ts) AS purchase_us, epoch_us(v.ts) AS view_us,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin)),

    // The same as-of semantics through the engine's CUSTOM PHYSICAL
    // OPERATOR (plans/AsOfJoin.scala: logical node + planner strategy +
    // merge-scan exec) instead of j09's union+window composition — one
    // oracle shape, two execution paths. AsOfExecSpec additionally pins
    // row-level equivalence between the two paths on planted edge cases.
    Q("j13_asof_join_exec", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      graft.plans.AsOfJoin.join(purchases, views, "user_id", "ts_us")
        .select(col("event_id"),
          col("ts_us").as("purchase_us"),
          col("asof_ts_us").as("view_us"),
          (col("ts_us") - col("asof_ts_us")).as("gap_us"))
        .orderBy("event_id")
    }, Some(
      """SELECT p.event_id, epoch_us(p.ts) AS purchase_us, epoch_us(v.ts) AS view_us,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin)),

    // Point-in-time-correct feature join with a staleness TTL (the
    // feature-store read-path contract): each purchase takes the user's
    // latest view-value feature AS OF purchase time, but a feature older
    // than 2 h is DROPPED (NULL), not served stale — training-serving skew
    // guard. Composition, not a new operator: the as-of payload carries
    // the feature's own timestamp, so the TTL gate is a row-local CASE
    // after the one-shuffle asofJoin. Exact integer cents/μs throughout.
    Q("j15_asof_ttl", (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("ts")).as("feat_us"),
          round(col("value") * 100).cast("bigint").as("feat_cents"))
      val ttlUs = 2L * 3600L * 1000000L
      Relational.asofJoin(purchases, views, "user_id", "ts_us",
          Seq("feat_us", "feat_cents"))
        .withColumn("staleness_us", col("ts_us") - col("asof_feat_us"))
        .select(col("event_id"), col("user_id"),
          col("ts_us").as("purchase_us"),
          when(col("staleness_us") <= ttlUs, col("asof_feat_cents"))
            .as("feature_cents"),
          when(col("staleness_us") <= ttlUs, col("staleness_us"))
            .as("staleness_us"),
          (col("asof_feat_us").isNotNull && col("staleness_us") > ttlUs)
            .as("dropped_stale"))
        .orderBy("event_id")
    }, Some(
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
        |       CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 7200000000
        |            THEN CAST(round(v.value * 100) AS BIGINT) END AS feature_cents,
        |       CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 7200000000
        |            THEN epoch_us(p.ts) - epoch_us(v.ts) END AS staleness_us,
        |       coalesce(epoch_us(p.ts) - epoch_us(v.ts) > 7200000000, FALSE)
        |         AS dropped_stale
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin)),

    Q("j10_range_join_binned", (s, d) => {
      val ev = Tables.events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), unix_micros(col("ts")).as("lo"))
        .withColumn("hi", col("lo") + 3600000000L)
      val errors = ev.filter(col("event_type") === "error")
        .select(unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
      val matched = Relational
        .rangeJoinBinned(signups, errors, "lo", "hi", "ts_us", 3600000000L)
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_err"), sum("cents").as("sum_cents"))
      signups.select("event_id")
        .join(matched, Seq("event_id"), "left")
        .select(col("event_id"),
          coalesce(col("n_err"), lit(0L)).as("n_err"), col("sum_cents"))
        .orderBy("event_id")
    }, Some(
      """WITH si AS (SELECT event_id, epoch_us(ts) AS lo, epoch_us(ts) + 3600000000 AS hi
        |            FROM events WHERE event_type = 'signup'),
        |er AS (SELECT epoch_us(ts) AS ts_us, CAST(round(value * 100) AS BIGINT) AS cents
        |       FROM events WHERE event_type = 'error')
        |SELECT si.event_id, CAST(count(er.ts_us) AS BIGINT) AS n_err,
        |       CAST(sum(er.cents) AS BIGINT) AS sum_cents
        |FROM si LEFT JOIN er ON er.ts_us >= si.lo AND er.ts_us < si.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Blocked fuzzy join (record linkage): misspelled product-name queries
    // matched to the part catalog at Levenshtein ≤ 2. Length-band blocking
    // is lossless for bounded edit distance; the oracle verifies against
    // the unblocked quadratic form.
    Q("j11_fuzzy_join", (s, d) => {
      val spark = s
      import spark.implicits._
      val queries = Seq("smal ring", "red wdget", "blue boltt", "hot gearr",
        "tiny gizmo", "no such thing").toDF("q")
      val names = Tables.table(s, d, "part").select("p_name").distinct()
      Relational.fuzzyJoin(queries, names, "q", "p_name", maxDist = 2)
        .orderBy("q", "p_name")
    }, Some(
      """WITH q AS (SELECT * FROM (VALUES ('smal ring'), ('red wdget'), ('blue boltt'),
        |             ('hot gearr'), ('tiny gizmo'), ('no such thing')) t(q)),
        |n AS (SELECT DISTINCT p_name FROM part)
        |SELECT q.q, n.p_name, CAST(levenshtein(q.q, n.p_name) AS INT) AS dist
        |FROM q, n WHERE levenshtein(q.q, n.p_name) <= 2
        |ORDER BY q, p_name""".stripMargin)),

    // The range join written NAIVELY (plain inequality condition, no
    // manual binning) — the injected RangeJoinBinning optimizer rule
    // (plans/RangeJoinBinning.scala, via spark.sql.extensions) rewrites
    // it into the binned equi-join automatically when
    // spark.graft.rangeJoin.binWidth is set. Compare j10, which does the
    // same binning by hand; PlansSpec pins rewrite-vs-naive equivalence
    // and the strategy change (hash join, no nested loop).
    Q("j12_range_join_auto", (s, d) => {
      s.conf.set("spark.graft.rangeJoin.binWidth", "3600000000")
      val ev = Tables.events(s, d)
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), unix_micros(col("ts")).as("lo"))
        .withColumn("hi", col("lo") + 3600000000L)
      val errors = ev.filter(col("event_type") === "error")
        .select(unix_micros(col("ts")).as("ts_us"),
          round(col("value") * 100).cast("bigint").as("cents"))
      signups.join(errors, col("ts_us") >= col("lo") && col("ts_us") < col("hi"))
        .groupBy("event_id")
        .agg(count(lit(1)).as("n_err"), sum("cents").as("sum_cents"))
        .orderBy("event_id")
    }, Some(
      """WITH si AS (SELECT event_id, epoch_us(ts) AS lo, epoch_us(ts) + 3600000000 AS hi
        |            FROM events WHERE event_type = 'signup'),
        |er AS (SELECT epoch_us(ts) AS ts_us, CAST(round(value * 100) AS BIGINT) AS cents
        |       FROM events WHERE event_type = 'error')
        |SELECT si.event_id, count(*) AS n_err, CAST(sum(er.cents) AS BIGINT) AS sum_cents
        |FROM si JOIN er ON er.ts_us >= si.lo AND er.ts_us < si.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("j08_salted_skew_join", (s, d) => {
      val skewedDim = SS(s, d).select("sample_id", "run")
      Relational.saltedJoin(B(s, d), skewedDim, "sample_id", salts = 4)
        .groupBy("run")
        .agg(count(lit(1)).as("n"), round(avg("beta"), 6).as("avg_beta"))
        .orderBy("run")
    }, Some(ctes +
      """SELECT s.run, count(*) AS n, round(avg(b.beta), 6) AS avg_beta
        |FROM beta b JOIN sheet s USING (sample_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // P — filters / prunes (reference filter.py:16-19, combat_norm.py:28-30,
    // dataset.py:41/123, workflow.R:44-62, plots.R:106-107/165/266-299)
    // ------------------------------------------------------------------

    Q("p01_prune_by_name", (s, d) =>
      B(s, d).filter(col("sample_id").like("S0%"))
        .groupBy("sample_id").agg(count(lit(1)).as("n"))
        .orderBy("sample_id"),
      Some(ctes +
        """SELECT sample_id, count(*) AS n FROM beta
          |WHERE sample_id LIKE 'S0%' GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("p03_complete_cases", (s, d) =>
      Relational.completeKeys(
        B(s, d).filter(col("sample_id").isin("S001", "S002")),
        "probe_id", "beta", 2L).orderBy("probe_id"),
      Some(ctes +
        """SELECT probe_id FROM beta WHERE sample_id IN ('S001', 'S002')
          |GROUP BY 1 HAVING count(beta) = 2 ORDER BY 1""".stripMargin)),

    Q("p05_semi_join", (s, d) => {
      val run0 = SS(s, d).filter(col("run") === "run_0").select("sample_id")
      B(s, d).join(broadcast(run0), Seq("sample_id"), "left_semi")
        .agg(count(lit(1)).as("n_rows"), countDistinct("sample_id").as("n_samples"))
    }, Some(ctes +
      """SELECT count(*) AS n_rows, count(DISTINCT sample_id) AS n_samples FROM beta
        |WHERE sample_id IN (SELECT sample_id FROM sheet WHERE run = 'run_0')""".stripMargin)),

    Q("p06_anti_join", (s, d) => {
      val run0 = SS(s, d).filter(col("run") === "run_0").select("sample_id")
      B(s, d).join(broadcast(run0), Seq("sample_id"), "left_anti")
        .agg(count(lit(1)).as("n_rows"), countDistinct("sample_id").as("n_samples"))
    }, Some(ctes +
      """SELECT count(*) AS n_rows, count(DISTINCT sample_id) AS n_samples FROM beta
        |WHERE sample_id NOT IN (SELECT sample_id FROM sheet WHERE run = 'run_0')""".stripMargin)),

    Q("p07_regex_probe_filter", (s, d) =>
      B(s, d).filter(col("probe_id").rlike("^cg0{4}"))
        .join(broadcast(Tables.probeManifest(s, d)), "probe_id")
        .groupBy("design_type")
        .agg(countDistinct("probe_id").as("n_probes"), count(lit(1)).as("n_rows"))
        .orderBy("design_type"),
      Some(ctes +
        """SELECT m.design_type, count(DISTINCT b.probe_id) AS n_probes, count(*) AS n_rows
          |FROM beta b JOIN manifest m USING (probe_id)
          |WHERE regexp_matches(b.probe_id, '^cg0{4}')
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("p08_anno_anti_join", (s, d) => {
      val anno = Tables.chipAnnotation(s, d)
      val sexProbes = anno.filter(col("chr").isin("chrX", "chrY")).select("probe_id")
      B(s, d).join(broadcast(sexProbes), Seq("probe_id"), "left_anti")
        .join(broadcast(anno), "probe_id")
        .groupBy("chr").agg(countDistinct("probe_id").as("n_probes"))
        .orderBy("chr")
    }, Some(ctes +
      """SELECT a.chr, count(DISTINCT b.probe_id) AS n_probes
        |FROM beta b JOIN anno a USING (probe_id)
        |WHERE b.probe_id NOT IN (SELECT probe_id FROM anno WHERE chr IN ('chrX', 'chrY'))
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Integer-exact reformulation of mean(detP) < 0.05: pval = k/1010 with
    // k integral, so mean < 1/20  ⟺  20*sum(k) < 1010*n — no FP boundary.
    Q("p09_qc_sample_filter", (s, d) =>
      D(s, d).withColumn("k", round(col("pval") * 1010).cast("bigint"))
        .groupBy("sample_id").agg(sum("k").as("sk"), count(lit(1)).as("n"))
        .filter(col("sk") * 20 < col("n") * 1010)
        .select("sample_id").orderBy("sample_id"),
      Some(ctes +
        """SELECT sample_id FROM (
          |  SELECT sample_id, CAST(sum(CAST(round(pval * 1010) AS BIGINT)) AS BIGINT) AS sk,
          |         count(*) AS n
          |  FROM detp GROUP BY 1)
          |WHERE sk * 20 < n * 1010 ORDER BY sample_id""".stripMargin)),

    // detP < 0.05 in every (observed) sample: k <= 50 for all rows of the probe.
    Q("p10_qc_probe_filter", (s, d) =>
      D(s, d).withColumn("k", round(col("pval") * 1010).cast("bigint"))
        .groupBy("probe_id").agg(max("k").as("mk"), count(lit(1)).as("n"))
        .filter(col("mk") <= 50)
        .select("probe_id", "n").orderBy("probe_id"),
      Some(ctes +
        """SELECT probe_id, n FROM (
          |  SELECT probe_id, max(CAST(round(pval * 1010) AS BIGINT)) AS mk, count(*) AS n
          |  FROM detp GROUP BY 1)
          |WHERE mk <= 50 ORDER BY probe_id""".stripMargin)),

    Q("p12_mvalue_roundtrip", (s, d) => {
      val withM = B(s, d)
        .withColumn("m", mValueClamped(col("beta")))
        .withColumn("b2", inverseMValue(col("m")))
      withM.groupBy("sample_id")
        .agg(round(avg("m"), 6).as("avg_m"),
          round(max(abs(col("b2") - clamp(col("beta"), 0.001, 0.999))), 6).as("max_roundtrip_err"))
        .orderBy("sample_id")
    }, Some(ctes +
      s""", mv AS (
         |  SELECT sample_id, ${SqlOracles.mValueClamped("beta")} AS m,
         |         least(greatest(beta, 0.001), 0.999) AS bc
         |  FROM beta)
         |SELECT sample_id, round(avg(m), 6) AS avg_m,
         |       round(max(abs(least(greatest(pow(2.0, m) / (1.0 + pow(2.0, m)), 0.0), 1.0) - bc)), 6) AS max_roundtrip_err
         |FROM mv GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("p13_empty_to_null", (s, d) =>
      Tables.table(s, d, "part")
        .withColumn("name2",
          nullif(when(col("p_size") % 7 === 0, lit("")).otherwise(col("p_name")), lit("")))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum(when(col("name2").isNull, 1L).otherwise(0L)).as("n_null"))
        .orderBy("p_brand"),
      Some(
        """SELECT p_brand, count(*) AS n,
          |       CAST(sum(CASE WHEN nullif(CASE WHEN p_size % 7 = 0 THEN '' ELSE p_name END, '') IS NULL
          |                THEN 1 ELSE 0 END) AS BIGINT) AS n_null
          |FROM part GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("p14_significance_filter", (s, d) =>
      Tables.table(s, d, "lineitem").groupBy("l_returnflag")
        .agg(sum(when(col("l_discount") > 0.05 && col("l_tax") > 0.04, 1L).otherwise(0L)).as("n_sig"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |       CAST(sum(CASE WHEN l_discount > 0.05 AND l_tax > 0.04 THEN 1 ELSE 0 END) AS BIGINT) AS n_sig,
          |       count(*) AS n
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("p15_pattern_group_masks", (s, d) => {
      val a = SS(s, d).filter(col("run").rlike("run_[01]")).select("sample_id")
      val b = SS(s, d).filter(col("group") === "WT").select("sample_id")
      a.except(b).orderBy("sample_id")
    }, Some(ctes +
      """SELECT sample_id FROM sheet WHERE regexp_matches(run, 'run_[01]')
        |EXCEPT
        |SELECT sample_id FROM sheet WHERE "group" = 'WT'
        |ORDER BY sample_id""".stripMargin)),

    Q("p16_dedup_first", (s, d) =>
      Relational.dedupFirst(Tables.table(s, d, "orders"),
        Seq("o_custkey"), Seq(col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey").as("first_order"),
          round(col("o_totalprice"), 2).as("totalprice"))
        .orderBy("o_custkey"),
      Some(
        """SELECT o_custkey, o_orderkey AS first_order, round(o_totalprice, 2) AS totalprice
          |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
          |      FROM orders)
          |WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // ------------------------------------------------------------------
    // A — aggregations (reference main.py:147, top10k.py:8, workflow.R:44,
    // health_check.py:19-22, dataset.py:146-150)
    // ------------------------------------------------------------------

    Q("a01_group_collect", (s, d) =>
      SS(s, d).groupBy("run")
        .agg(array_join(sort_array(collect_list(col("sample_id"))), ",").as("samples"))
        .orderBy("run"),
      Some(ctes +
        """SELECT run, string_agg(sample_id, ',' ORDER BY sample_id) AS samples
          |FROM sheet GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("a04_per_sample_mean", (s, d) =>
      B(s, d).groupBy("sample_id")
        .agg(count(lit(1)).as("n"), round(avg("beta"), 6).as("mean_beta"))
        .orderBy("sample_id"),
      Some(ctes +
        """SELECT sample_id, count(*) AS n, round(avg(beta), 6) AS mean_beta
          |FROM beta GROUP BY 1 ORDER BY 1""".stripMargin)),

    // The oracle mirrors nullProfile's EXACT semantics: cells are deduped
    // first (duplicate (row, col) entries count once), a NULL key is a
    // distinct axis value (DISTINCT-subquery counting keeps the NULL row;
    // an equi-join grid would silently drop it), and present counts cells
    // whose max value is non-null — no grid enumeration in either engine.
    Q("a05_null_profiling", (s, d) =>
      Qc.nullProfile(B(s, d), "probe_id", "sample_id", "beta"),
      Some(ctes +
        """, np_cells AS (
          |  SELECT probe_id, sample_id, max(beta) AS v FROM beta GROUP BY 1, 2),
          |np_r AS (SELECT count(*) AS nr FROM (SELECT DISTINCT probe_id FROM beta) t),
          |np_c AS (SELECT count(*) AS nc FROM (SELECT DISTINCT sample_id FROM beta) t),
          |np_p AS (SELECT count(v) AS present FROM np_cells)
          |SELECT nr * nc AS total_cells, present, nr * nc - present AS missing
          |FROM np_r, np_c, np_p""".stripMargin)),

    Q("a06_frequency_table", (s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("a07_distinct", (s, d) =>
      Tables.table(s, d, "orders").select("o_orderpriority").distinct()
        .orderBy("o_orderpriority"),
      Some("SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1")),

    Q("a08_minmax_summary", (s, d) =>
      Tables.table(s, d, "lineitem")
        .withColumn("q", round(col("l_quantity")).cast("bigint"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"),
          sum("q").as("s"), sum(col("q") * col("q")).as("ss"),
          round(min("l_extendedprice"), 2).as("min_price"),
          round(max("l_extendedprice"), 2).as("max_price"))
        .select(col("l_returnflag"), col("n"), col("min_qty"), col("max_qty"),
          col("min_price"), col("max_price"),
          round(sqrt(varFromMoments(col("n"), col("s"), col("ss"))), 6).as("sd_qty"))
        .orderBy("l_returnflag"),
      Some(
        s"""SELECT l_returnflag, n, min_qty, max_qty, min_price, max_price,
           |       round(sqrt(${SqlOracles.varFromMoments("n", "s", "ss")}), 6) AS sd_qty
           |FROM (
           |  SELECT l_returnflag, count(*) AS n, min(l_quantity) AS min_qty,
           |         max(l_quantity) AS max_qty,
           |         CAST(sum(q) AS BIGINT) AS s, CAST(sum(q * q) AS BIGINT) AS ss,
           |         round(min(l_extendedprice), 2) AS min_price,
           |         round(max(l_extendedprice), 2) AS max_price
           |  FROM (SELECT *, CAST(round(l_quantity) AS BIGINT) AS q FROM lineitem)
           |  GROUP BY 1)
           |ORDER BY l_returnflag""".stripMargin)),

    Q("a10_histogram", (s, d) =>
      Analytic.histogram(B(s, d), "beta", 10),
      Some(ctes +
        """SELECT CAST(least(floor(beta * 10), 9) AS INT) AS bucket, count(*) AS n
          |FROM beta GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Hierarchical totals in one pass: ROLLUP emits (lang, source),
    // (lang, ALL), (ALL, ALL) levels from a single shuffle instead of a
    // union of three aggregations — the standard reporting rollup shape.
    Q("a11_rollup", (s, d) =>
      Tables.table(s, d, "documents")
        .rollup("lang", "source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first),
      Some(
        """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
          |FROM documents GROUP BY ROLLUP(lang, source)
          |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin)),

    // Sketch cardinality: HLL++ estimate next to the exact distinct count.
    // At 100 TB the exact count is a full shuffle of the key; the sketch is
    // a fixed-size (~kB) mergeable register set per group — rows-only check
    // (estimates are engine-specific) plus AnalyticSpec's error bound.
    Q("a12_approx_distinct", (s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct("l_orderkey", 0.02).as("approx_orders"),
          countDistinct("l_orderkey").as("exact_orders"))
        .orderBy("l_returnflag"),
      None),

    // Data-quality expectations (the Deequ shape): N declared rules → ONE
    // aggregate pass (each rule a sum(when) column in the same hash agg,
    // map-side combined), unpivoted to a bounded per-rule report. NULL
    // predicate = violation.
    Q("a17_expectations", (s, d) => {
      import graft.ops.Validation, graft.ops.Validation.Rule
      Validation.validate(Tables.table(s, d, "lineitem"), Seq(
          Rule("qty_in_range", col("l_quantity").between(1, 50)),
          Rule("qty_small", col("l_quantity") <= 30),
          Rule("discount_max", col("l_discount") <= 0.1),
          Rule("tax_nonneg", col("l_tax") >= 0),
          Rule("flag_known", col("l_returnflag").isin("A", "N", "R"))))
        .orderBy("rule")
    }, Some(
      """WITH t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS qty_in_range,
        |    CAST(sum(CASE WHEN NOT coalesce(l_quantity <= 30, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS qty_small,
        |    CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS discount_max,
        |    CAST(sum(CASE WHEN NOT coalesce(l_tax >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS tax_nonneg,
        |    CAST(sum(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS flag_known
        |  FROM lineitem),
        |r AS (
        |  SELECT 'qty_in_range' AS rule, qty_in_range AS violations, total FROM t
        |  UNION ALL SELECT 'qty_small', qty_small, total FROM t
        |  UNION ALL SELECT 'discount_max', discount_max, total FROM t
        |  UNION ALL SELECT 'tax_nonneg', tax_nonneg, total FROM t
        |  UNION ALL SELECT 'flag_known', flag_known, total FROM t)
        |SELECT rule, violations, total,
        |       round(1.0 - CAST(violations AS DOUBLE) /
        |             greatest(CAST(total AS DOUBLE), 1.0), 6) AS pass_fraction
        |FROM r ORDER BY rule""".stripMargin)),

    // Per-source expectation gate: the same one-pass report sliced by the
    // admission unit (per supplier/source) — the check a pipeline runs
    // before letting one source's batch into the corpus.
    Q("a18_expectations_by_source", (s, d) => {
      import graft.ops.Validation, graft.ops.Validation.Rule
      Validation.validateBy(Tables.table(s, d, "documents"), "source", Seq(
          Rule("text_present", col("text").isNotNull && length(col("text")) > 0),
          Rule("chars_match", col("n_chars") === length(col("text"))),
          Rule("lang_known", col("lang").isin("en", "de", "fr", "es", "zh"))))
        .orderBy("source", "rule")
    }, Some(
      """WITH t AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS total,
        |    CAST(sum(CASE WHEN NOT coalesce(text IS NOT NULL AND length(text) > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS text_present,
        |    CAST(sum(CASE WHEN NOT coalesce(n_chars = length(text), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS chars_match,
        |    CAST(sum(CASE WHEN NOT coalesce(lang IN ('en','de','fr','es','zh'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS lang_known
        |  FROM documents GROUP BY 1),
        |r AS (
        |  SELECT source, 'text_present' AS rule, text_present AS violations, total FROM t
        |  UNION ALL SELECT source, 'chars_match', chars_match, total FROM t
        |  UNION ALL SELECT source, 'lang_known', lang_known, total FROM t)
        |SELECT source, rule, violations, total,
        |       round(1.0 - CAST(violations AS DOUBLE) /
        |             greatest(CAST(total AS DOUBLE), 1.0), 6) AS pass_fraction
        |FROM r ORDER BY source, rule""".stripMargin)),

    // Sketch quantiles: GK approx_percentile next to the exact
    // percentile_approx(1.0-accuracy) story — at 100 TB the exact
    // percentile is a full sort per group; the GK summary is bounded
    // mergeable state with rank error <= n/accuracy. Rows-only (sketch
    // internals are engine-specific); AnalyticSpec pins the rank-error
    // bound against the exact per-group quantiles.
    Q("a16_approx_quantile", (s, d) =>
      Tables.table(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("p50_approx"),
          percentile_approx(col("l_quantity"), lit(0.95), lit(10000)).as("p95_approx"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      None),

    // Top-k per group: rank window AFTER the aggregation, so the window
    // input is one row per (group, item), never raw observations.
    Q("a13_topk_per_group", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.table(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("source").asc)
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("lang"), col("rk").cast("bigint").as("rk"), col("source"), col("n"))
        .orderBy("lang", "rk")
    }, Some(
      """SELECT lang, rk, source, n FROM (
        |  SELECT lang, source, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS BIGINT) AS rk
        |  FROM (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2))
        |WHERE rk <= 2 ORDER BY lang, rk""".stripMargin)),

    // Mergeable cardinality rollup via the native DataSketches HLL
    // functions: one sketch per source (the stored partial), unioned into
    // lang-level and corpus-level estimates WITHOUT rescanning — the
    // cardinality analog of the CMS merge (t15). Sketch binaries are
    // engine-specific → rows-only; the spec-level guarantee is a12's
    // error bound, and the exact distinct count rides alongside for
    // direct comparison in the output.
    Q("a20_hll_union", (s, d) => {
      val perSource = Tables.table(s, d, "documents")
        .groupBy("lang", "source")
        .agg(hll_sketch_agg(col("doc_id").cast("string")).as("sk"),
          countDistinct("doc_id").as("exact_src"))
      perSource.groupBy("lang")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_docs"),
          sum("exact_src").as("exact_docs"))
        .orderBy("lang")
    }, None),

    // Per-group top-k via the bounded-heap Aggregator: identical result
    // to a13's rank window, but the aggregate buffer holds at most k
    // entries and merges map-side — the shuffle carries k rows per
    // (group, partition), and no whole-group sort happens anywhere. Same
    // oracle as a13 (the two paths must agree bit-for-bit).
    Q("a19_topk_per_group_agg", (s, d) => {
      val topk = udaf(new graft.functions.TopKAgg(2))
      Tables.table(s, d, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
        .groupBy("lang").agg(topk(col("n"), col("source")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("i", "r")))
        .select(col("lang"), (col("i") + 1).cast("bigint").as("rk"),
          col("r.tag").as("source"), col("r.ord").as("n"))
        .orderBy("lang", "rk")
    }, Some(
      """SELECT lang, rk, source, n FROM (
        |  SELECT lang, source, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS BIGINT) AS rk
        |  FROM (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2))
        |WHERE rk <= 2 ORDER BY lang, rk""".stripMargin)),

    // Per-group winsorization at exact [p05, p95]: bounds from one
    // percentile aggregate (bounded groups → broadcast), row-local clamp,
    // robust summary on top. quantile_cont matches Spark's percentile
    // interpolation bit-for-bit (the c03 convention).
    Q("a14_winsorize", (s, d) => {
      val w = graft.ops.Analytic.winsorize(Tables.table(s, d, "lineitem"),
        "l_returnflag", "l_extendedprice", 0.05, 0.95)
      w.groupBy("l_returnflag").agg(count(lit(1)).as("n"),
          round(avg("l_extendedprice_w"), 6).as("avg_w"),
          round(min("l_extendedprice_w"), 6).as("lo_w"),
          round(max("l_extendedprice_w"), 6).as("hi_w"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH b AS (SELECT l_returnflag,
        |                  quantile_cont(l_extendedprice, 0.05) AS lo,
        |                  quantile_cont(l_extendedprice, 0.95) AS hi
        |           FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, count(*) AS n,
        |       round(avg(least(greatest(l.l_extendedprice, b.lo), b.hi)), 6) AS avg_w,
        |       round(min(least(greatest(l.l_extendedprice, b.lo), b.hi)), 6) AS lo_w,
        |       round(max(least(greatest(l.l_extendedprice, b.lo), b.hi)), 6) AS hi_w
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-group z-score normalization: exact-integer moments per group
    // broadcast back, fixed double-op sequence (the w01/a08 bit-stability
    // convention), row-local z.
    Q("a15_zscore_normalize", (s, d) =>
      graft.ops.Analytic.zscoreNormalize(
          Tables.table(s, d, "lineitem"), "l_returnflag", "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"), round(col("z"), 6).as("z"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some(
        s"""WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
          |                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
          |                  CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss
          |           FROM lineitem GROUP BY 1)
          |SELECT l.l_orderkey, l.l_linenumber,
          |       round((CAST(CAST(l.l_quantity AS BIGINT) AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
          |             / sqrt(${SqlOracles.varFromMoments("n", "s", "ss")}), 6) AS z
          |FROM lineitem l JOIN m USING (l_returnflag)
          |ORDER BY 1, 2""".stripMargin)),

    // Multi-level aggregation lattice: cube over two dims in ONE pass
    // (Catalyst expands grouping sets inside a single hash aggregate — at
    // 100 TB this replaces 4 separate scans with 1). Exact-integer
    // measures; cube-null group labels order NULLS FIRST like a11.
    Q("a21_cube", (s, d) =>
      Tables.table(s, d, "lineitem")
        .withColumn("c", cents(col("l_extendedprice")))
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first),
      Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)),

    // GROUPING SETS — the general lattice a11's rollup and a21's cube are
    // special cases of: an explicit mixed set list ((flag, status),
    // (ship_year), ()) that neither rollup nor cube can express — "the
    // flag×status detail, a yearly summary, and the grand total" in ONE
    // hash aggregate / one scan (Catalyst expands the sets exactly like
    // cube, so the 100 TB cost is one shuffle regardless of set count).
    // Exact-integer measures; set-null labels order NULLS FIRST like a11/
    // a21, and the three null-patterns are mutually distinct so no
    // grouping_id disambiguation is needed (all source dims non-null).
    Q("a38_grouping_sets", (s, d) =>
      Tables.table(s, d, "lineitem")
        .withColumn("c", cents(col("l_extendedprice")))
        .withColumn("ship_year", year(col("l_shipdate")).cast("bigint"))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("ship_year")), Seq()),
          col("l_returnflag"), col("l_linestatus"), col("ship_year"))
        .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first,
          col("ship_year").asc_nulls_first),
      Some(
        """SELECT l_returnflag, l_linestatus,
          |       CAST(year(l_shipdate) AS BIGINT) AS ship_year, count(*) AS n,
          |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |                        (CAST(year(l_shipdate) AS BIGINT)), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
          |         ship_year NULLS FIRST""".stripMargin)),

    // Per-group OLS (price-on-quantity): slope/intercept/R² from the five
    // sufficient moments in ONE hash aggregate — the 100 TB shape for any
    // per-segment regression (no per-group iteration, no second pass).
    // All moments are exact integers summed in decimal(38,0) (cents² ~1e14
    // per row would overflow BIGINT at sf≥0.1 — DuckDB's HUGEINT mirror is
    // exact the same way), so the doubles only appear in the final
    // fixed-sequence division and the hash gate holds bit-for-bit.
    Q("a22_group_regression", (s, d) => {
      val dec = "decimal(38,0)"
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("bigint").cast(dec).as("x"),
          cents(col("l_extendedprice")).cast(dec).as("y"))
      val m = li.groupBy("l_returnflag").agg(
        count(lit(1)).cast(dec).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val syyc = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      m.select(col("l_returnflag"), col("n").cast("bigint").as("n"),
          round((num / den), 6).as("slope"),
          round((col("sy").cast("double") - num / den * col("sx").cast("double"))
            / col("n").cast("double"), 6).as("intercept"),
          round(num * num / (den * syyc), 6).as("r2"))
        .orderBy("l_returnflag")
    }, Some(
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
        |         sum(CAST(l_quantity AS BIGINT)) AS sx,
        |         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
        |         sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
        |         sum(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
        |         sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
        |             * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE)
        |             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |       round((CAST(sy AS DOUBLE)
        |              - CAST(n * sxy - sx * sy AS DOUBLE)
        |                / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |             / CAST(n AS DOUBLE), 6) AS intercept,
        |       round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
        |             / (CAST(n * sxx - sx * sx AS DOUBLE)
        |                * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
        |FROM m ORDER BY 1""".stripMargin)),

    // Pairwise Pearson correlation matrix of four measures in ONE hash
    // aggregate: 15 exact-integer moments in a single pass (decimal(38,0)
    // sums — cents² would overflow BIGINT; DuckDB HUGEINT mirrors), all 6
    // correlations derived row-locally from the one moments row. The
    // 100 TB shape for a feature-correlation report: one scan, one
    // 1-row-per-partition shuffle, never one pass per pair.
    Q("a24_corr_matrix", (s, d) => {
      val dec = "decimal(38,0)"
      val base = Tables.table(s, d, "lineitem").select(
        col("l_quantity").cast("bigint").cast(dec).as("qty"),
        cents(col("l_extendedprice")).cast(dec).as("cents"),
        round(col("l_discount") * 100).cast("bigint").cast(dec).as("disc"),
        round(col("l_tax") * 100).cast("bigint").cast(dec).as("tax"))
      val vars = Seq("qty", "cents", "disc", "tax")
      val m = crossMoments(base, vars)
      val pairs = for { i <- vars.indices; j <- i + 1 until vars.length } yield
        struct(lit(vars(i)).as("var_a"), lit(vars(j)).as("var_b"),
          round(momentCorr(vars(i), vars(j)), 6).as("corr"))
      m.select(inline(array(pairs: _*))).orderBy("var_a", "var_b")
    }, Some {
      val defs = Seq("qty" -> "CAST(l_quantity AS HUGEINT)",
        "cents" -> "CAST(round(l_extendedprice * 100) AS HUGEINT)",
        "disc" -> "CAST(round(l_discount * 100) AS HUGEINT)",
        "tax" -> "CAST(round(l_tax * 100) AS HUGEINT)")
      val vars = defs.map(_._1)
      val moments = (Seq("CAST(count(*) AS HUGEINT) AS n") ++
        vars.map(v => s"sum($v) AS s_$v") ++
        (for { i <- vars.indices; j <- i until vars.length } yield
          s"sum(${vars(i)} * ${vars(j)}) AS s_${vars(i)}_${vars(j)}")).mkString(", ")
      def den(v: String) = s"CAST(n * s_${v}_$v - s_$v * s_$v AS DOUBLE)"
      val rows = (for { i <- vars.indices; j <- i + 1 until vars.length } yield {
        val (a, b) = (vars(i), vars(j))
        s"""SELECT '$a' AS var_a, '$b' AS var_b,
           |       round(CAST(n * s_${a}_$b - s_$a * s_$b AS DOUBLE)
           |             / sqrt(${den(a)} * ${den(b)}), 6) AS corr FROM m""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH x AS (SELECT ${defs.map { case (n, e) => s"$e AS $n" }.mkString(", ")}
         |           FROM lineitem),
         |m AS (SELECT $moments FROM x)
         |$rows
         |ORDER BY var_a, var_b""".stripMargin
    }),

    // Chi-square test of independence over a two-way contingency table:
    // one hash aggregate to cell counts (bounded by category cardinality),
    // the grid ZERO-FILLED over the full row-margin × column-margin cross
    // (r9, the k27 pattern — structurally empty cells contribute their
    // (0−E)²/E = E term, so the statistic is the true Pearson χ² whose df
    // is (r−1)(c−1)), margins by window sums over those cells (no second
    // data pass), the statistic as a fixed double sequence per cell. The
    // inferential p-value needs a chi² CDF (no SQL analog) — statistic +
    // df are the oracle-checked surface, matching the k03 convention
    // where the moments carry the oracle and the CDF is spec-verified.
    Q("a23_chisq_independence", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = chisqCellsZeroFilled(Tables.table(s, d, "lineitem"))
      val withMargins = cells
        .withColumn("ri", sum("nij").over(Window.partitionBy("l_returnflag")))
        .withColumn("cj", sum("nij").over(Window.partitionBy("l_linestatus")))
        .withColumn("tot", sum("nij").over(Window.partitionBy()))
      val e = col("ri").cast("double") * col("cj").cast("double") / col("tot").cast("double")
      withMargins
        .withColumn("term",
          (col("nij").cast("double") - e) * (col("nij").cast("double") - e) / e)
        .agg(countDistinct("l_returnflag").as("r"),
          countDistinct("l_linestatus").as("c"),
          round(sum("term"), 6).as("chi2"))
        .select(((col("r") - 1) * (col("c") - 1)).as("df"), col("chi2"))
    }, Some(chisqCellsSql +
      """
        |SELECT (count(DISTINCT l_returnflag) - 1)
        |       * (count(DISTINCT l_linestatus) - 1) AS df,
        |       round(sum((CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE))
        |                 * (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE))
        |                 / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS chi2
        |FROM m""".stripMargin)),

    // The inferential completion of a23: p-value through the native
    // codegen chi-square survival function (`graft_chisq_sf`,
    // functions/ChiSquared.scala) plus Cramér's V effect size. FULLY
    // oracle-checked (r8): the 3×2 returnflag×linestatus table fixes
    // df = (3−1)(2−1) = 2, whose survival function is the elementary
    // exp(−x/2) — the Spark side stays generic in df; the oracle replay
    // is df-2-specific, which the data pins. The grid is zero-filled over
    // the margin cross (r9, shared with a23) so the statistic matches the
    // df it is tested against.
    Q("a25_chisq_inference", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = chisqCellsZeroFilled(Tables.table(s, d, "lineitem"))
      val withMargins = cells
        .withColumn("ri", sum("nij").over(Window.partitionBy("l_returnflag")))
        .withColumn("cj", sum("nij").over(Window.partitionBy("l_linestatus")))
        .withColumn("tot", sum("nij").over(Window.partitionBy()))
      val e = col("ri").cast("double") * col("cj").cast("double") / col("tot").cast("double")
      withMargins
        .withColumn("term",
          (col("nij").cast("double") - e) * (col("nij").cast("double") - e) / e)
        .agg(countDistinct("l_returnflag").as("r"),
          countDistinct("l_linestatus").as("c"),
          sum("term").as("chi2"), first("tot").as("tot"))
        .select(((col("r") - 1) * (col("c") - 1)).as("df"),
          round(col("chi2"), 6).as("chi2"),
          round(expr("graft_chisq_sf(chi2, CAST((r - 1) * (c - 1) AS DOUBLE))"), 6)
            .as("p_value"),
          round(sqrt(col("chi2") / (col("tot").cast("double")
            * least(col("r") - 1, col("c") - 1).cast("double"))), 6).as("cramers_v"))
    }, Some(chisqCellsSql +
      """,
        |agg AS (
        |  SELECT count(DISTINCT l_returnflag) AS r,
        |         count(DISTINCT l_linestatus) AS c,
        |         sum((CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE))
        |             * (CAST(nij AS DOUBLE) - CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE))
        |             / (CAST(ri AS DOUBLE) * CAST(cj AS DOUBLE) / CAST(tot AS DOUBLE))) AS chi2,
        |         max(tot) AS tot
        |  FROM m)
        |SELECT (r - 1) * (c - 1) AS df, round(chi2, 6) AS chi2,
        |       round(exp(-chi2 / 2.0), 6) AS p_value,
        |       round(sqrt(chi2 / (CAST(tot AS DOUBLE)
        |                          * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
        |FROM agg""".stripMargin)),

    // Exponential-decay recency features per user (the feature-generation
    // step of behavioral/training-signal pipelines): over each user's 20
    // most recent events, a geometrically-decayed value sum and the decay
    // mass (their ratio is the decayed mean). One rank window + one hash
    // aggregate — the frame is bounded at 20 rows so the weighted sum is
    // ≤20 doubles regardless of corpus size (no unbounded power terms, no
    // overflow at any scale). alpha = 0.9 per recency step.
    Q("a26_decay_features", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= 20)
        .groupBy("user_id").agg(
          count(lit(1)).as("n_recent"),
          round(sum(col("value") * pow(lit(0.9), col("rn") - 1)), 6).as("decay_value"),
          round(sum(pow(lit(0.9), col("rn") - 1)), 6).as("decay_mass"))
        .orderBy("user_id")
    }, Some(
      """WITH r AS (
        |  SELECT user_id, value,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, count(*) AS n_recent,
        |       round(sum(value * pow(0.9, rn - 1)), 6) AS decay_value,
        |       round(sum(pow(0.9, rn - 1)), 6) AS decay_mass
        |FROM r WHERE rn <= 20 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Shuffle-key skew diagnosis — the operational pre-flight of every
    // 100 TB join/agg plan: per-key row counts on the prospective shuffle
    // key, the global census (distinct keys, total rows, max/avg load,
    // max-key share = the straggler bound, expected-vs-worst partition
    // ratio), and the 10 heaviest keys. ONE key-aggregate feeds both a
    // 1-row global rollup (broadcast cross) and a top-k — the profile a
    // salting/AQE-skew decision reads.
    Q("a27_skew_profile", (s, d) => {
      val c = Tables.table(s, d, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val g = c.agg(count(lit(1)).as("n_keys"), sum("cnt").as("total"),
        max("cnt").as("max_cnt"))
      c.crossJoin(broadcast(g))
        .withColumn("share", round(col("cnt").cast("double")
          / col("total").cast("double"), 6))
        .withColumn("skew_ratio", round(col("max_cnt").cast("double")
          * col("n_keys").cast("double") / col("total").cast("double"), 6))
        .orderBy(col("cnt").desc, col("l_suppkey").asc)
        .limit(10)
        .select("l_suppkey", "cnt", "n_keys", "total", "share", "skew_ratio")
    }, Some(
      """WITH c AS (
        |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |g AS (
        |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total,
        |         CAST(max(cnt) AS BIGINT) AS max_cnt
        |  FROM c)
        |SELECT l_suppkey, cnt, n_keys, total,
        |       round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |       round(CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |             / CAST(total AS DOUBLE), 6) AS skew_ratio
        |FROM c CROSS JOIN g
        |ORDER BY cnt DESC, l_suppkey LIMIT 10""".stripMargin)),

    // ANALYZE-style table profile — the stats-collection pass every
    // cost-based planner (and every data-quality dashboard) runs: per
    // column, row count, null count, exact distinct count, min/max
    // (stringified for a uniform long schema). ONE wide hash aggregate
    // computes every column's stats in a single scan (count_distinct
    // columns become one Expand + aggregate — the grouping-sets shape);
    // the long unpivot is a row-local stack of the 1-row result. At
    // 100 TB exact NDV swaps for approx_count_distinct per the a12
    // documented pattern; everything else is the same single pass.
    Q("a28_table_profile", (s, d) => {
      val li = Tables.table(s, d, "lineitem")
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_returnflag", "l_linestatus")
      val aggs = count(lit(1)).as("n_rows") +:
        cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          count_distinct(col(c)).as(s"${c}__ndv"),
          min(col(c)).cast("string").as(s"${c}__min"),
          max(col(c)).cast("string").as(s"${c}__max")))
      val wide = li.agg(aggs.head, aggs.tail: _*)
      val stacked = cols.map(c =>
        wide.select(lit(c).as("column_name"), col("n_rows"),
          col(s"${c}__nulls").as("n_nulls"), col(s"${c}__ndv").as("ndv"),
          col(s"${c}__min").as("min_val"), col(s"${c}__max").as("max_val")))
        .reduce(_.unionByName(_))
      stacked.orderBy("column_name")
    }, Some(
      """WITH w AS (
        |  SELECT count(*) AS n_rows,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ok_nulls,
        |    count(DISTINCT l_orderkey) AS ok_ndv,
        |    CAST(min(l_orderkey) AS VARCHAR) AS ok_min, CAST(max(l_orderkey) AS VARCHAR) AS ok_max,
        |    CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS pk_nulls,
        |    count(DISTINCT l_partkey) AS pk_ndv,
        |    CAST(min(l_partkey) AS VARCHAR) AS pk_min, CAST(max(l_partkey) AS VARCHAR) AS pk_max,
        |    CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS sk_nulls,
        |    count(DISTINCT l_suppkey) AS sk_ndv,
        |    CAST(min(l_suppkey) AS VARCHAR) AS sk_min, CAST(max(l_suppkey) AS VARCHAR) AS sk_max,
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
        |    count(DISTINCT l_quantity) AS q_ndv,
        |    CAST(min(l_quantity) AS VARCHAR) AS q_min, CAST(max(l_quantity) AS VARCHAR) AS q_max,
        |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rf_nulls,
        |    count(DISTINCT l_returnflag) AS rf_ndv,
        |    CAST(min(l_returnflag) AS VARCHAR) AS rf_min, CAST(max(l_returnflag) AS VARCHAR) AS rf_max,
        |    CAST(sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ls_nulls,
        |    count(DISTINCT l_linestatus) AS ls_ndv,
        |    CAST(min(l_linestatus) AS VARCHAR) AS ls_min, CAST(max(l_linestatus) AS VARCHAR) AS ls_max
        |  FROM lineitem)
        |SELECT 'l_orderkey' AS column_name, n_rows, ok_nulls AS n_nulls, ok_ndv AS ndv,
        |       ok_min AS min_val, ok_max AS max_val FROM w
        |UNION ALL SELECT 'l_partkey', n_rows, pk_nulls, pk_ndv, pk_min, pk_max FROM w
        |UNION ALL SELECT 'l_suppkey', n_rows, sk_nulls, sk_ndv, sk_min, sk_max FROM w
        |UNION ALL SELECT 'l_quantity', n_rows, q_nulls, q_ndv, q_min, q_max FROM w
        |UNION ALL SELECT 'l_returnflag', n_rows, rf_nulls, rf_ndv, rf_min, rf_max FROM w
        |UNION ALL SELECT 'l_linestatus', n_rows, ls_nulls, ls_ndv, ls_min, ls_max FROM w
        |ORDER BY column_name""".stripMargin)),

    // A29 — mutual information between two categorical columns (order
    // status × priority): the dependence screen feature stores run before
    // trusting a categorical feature pair (and the MI feature-selection
    // primitive of quality-classifier pipelines). Cell counts and both
    // marginals are EXACT bigints from one aggregate + two tiny windows
    // over the |X|·|Y| cell table; every per-cell quantity (pmi, mi_term)
    // is row-local, and the scalar MI is exposed as `mi_running` — a
    // cumulative sum in a DETERMINISTIC (x, y) order, so the double
    // sequence is identical in the DuckDB oracle (no order-nondeterministic
    // global double sum anywhere). Last row's mi_running = total MI in nats.
    Q("a29_mutual_information", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cells = Tables.table(s, d, "orders")
        .groupBy(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
        .agg(count(lit(1)).as("n_xy"))
      val wx = Window.partitionBy("x")
      val wy = Window.partitionBy("y")
      val wAll = Window.partitionBy()
      val wCum = Window.orderBy("x", "y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = cells
        .withColumn("n_x", sum("n_xy").over(wx))
        .withColumn("n_y", sum("n_xy").over(wy))
        .withColumn("n", sum("n_xy").over(wAll))
        .withColumn("pmi",
          log(d2(col("n")) * d2(col("n_xy")) / (d2(col("n_x")) * d2(col("n_y")))))
        .withColumn("mi_term", d2(col("n_xy")) / d2(col("n")) * col("pmi"))
      t.withColumn("mi_running", sum("mi_term").over(wCum))
        .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
          round(col("pmi"), 9).as("pmi"), round(col("mi_term"), 9).as("mi_term"),
          round(col("mi_running"), 9).as("mi_running"))
        .orderBy("x", "y")
    }, Some(
      """WITH cells AS (
        |  SELECT o_orderstatus AS x, o_orderpriority AS y, count(*) AS n_xy
        |  FROM orders GROUP BY 1, 2),
        |t AS (
        |  SELECT x, y, n_xy,
        |         sum(n_xy) OVER (PARTITION BY x) AS n_x,
        |         sum(n_xy) OVER (PARTITION BY y) AS n_y,
        |         sum(n_xy) OVER () AS n
        |  FROM cells),
        |e AS (
        |  SELECT x, y, n_xy, n_x, n_y,
        |         ln(CAST(n AS DOUBLE) * CAST(n_xy AS DOUBLE)
        |            / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) AS pmi,
        |         CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)
        |         * ln(CAST(n AS DOUBLE) * CAST(n_xy AS DOUBLE)
        |              / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))) AS mi_term
        |  FROM t)
        |SELECT x, y, n_xy, CAST(n_x AS BIGINT) AS n_x, CAST(n_y AS BIGINT) AS n_y,
        |       round(pmi, 9) AS pmi, round(mi_term, 9) AS mi_term,
        |       round(sum(mi_term) OVER (ORDER BY x, y
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS mi_running
        |FROM e ORDER BY x, y""".stripMargin)),

    // A30 — autocorrelation function: per event-type series ordered by
    // (ts, event_id), ACF at lags 1..5 with the full-series-mean estimator
    // r_ℓ = Σ(x_t−x̄)(x_{t−ℓ}−x̄) / Σ(x_t−x̄)². ONE window pass emits all
    // five lag columns (5 lag() calls share the same window frame sort),
    // stacked row-local, then per-(type, lag) EXACT integer cross-moments
    // on cents — the numerator expansion sxy − x̄(Σa+Σb) + np·x̄² keeps
    // every data-dependent sum a bigint; only the final ratio is floating
    // point. The seasonality/staleness probe of event-stream QC.
    Q("a30_acf", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("bigint").as("c"))
      val lagged = ev.select(
        col("event_type") +: col("c").as("x") +:
          (1 to 5).map(l => lag("c", l).over(w).as(s"b$l")): _*)
      val stacked = lagged.select(col("event_type"), col("x"),
        expr("stack(5, 1, b1, 2, b2, 3, b3, 4, b4, 5, b5) AS (lag, b)"))
        .filter(col("b").isNotNull)
      val base = ev.groupBy("event_type").agg(
        count(lit(1)).as("n"), sum("c").as("s"), sum(col("c") * col("c")).as("ss"))
      stacked.groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n_pairs"), sum(col("x") * col("b")).as("sxy"),
          sum("x").as("sa"), sum("b").as("sb"))
        .join(base, "event_type")
        .withColumn("mu", d2("s") / d2("n"))
        .withColumn("num", d2("sxy") - col("mu") * (d2("sa") + d2("sb"))
          + d2("n_pairs") * col("mu") * col("mu"))
        .withColumn("den", d2("ss") - d2("n") * col("mu") * col("mu"))
        .filter(col("den") > 0.0)
        .select(col("event_type"), col("lag"), col("n_pairs"),
          round(col("num") / col("den"), 6).as("acf"))
        .orderBy("event_type", "lag")
    }, Some(
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |lagged AS (
        |  SELECT event_type, c AS x,
        |         lag(c, 1) OVER w AS b1, lag(c, 2) OVER w AS b2,
        |         lag(c, 3) OVER w AS b3, lag(c, 4) OVER w AS b4,
        |         lag(c, 5) OVER w AS b5
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |stacked AS (
        |  SELECT event_type, x, 1 AS lag, b1 AS b FROM lagged WHERE b1 IS NOT NULL
        |  UNION ALL SELECT event_type, x, 2, b2 FROM lagged WHERE b2 IS NOT NULL
        |  UNION ALL SELECT event_type, x, 3, b3 FROM lagged WHERE b3 IS NOT NULL
        |  UNION ALL SELECT event_type, x, 4, b4 FROM lagged WHERE b4 IS NOT NULL
        |  UNION ALL SELECT event_type, x, 5, b5 FROM lagged WHERE b5 IS NOT NULL),
        |pairs AS (
        |  SELECT event_type, lag, count(*) AS n_pairs,
        |         CAST(sum(x * b) AS BIGINT) AS sxy, CAST(sum(x) AS BIGINT) AS sa,
        |         CAST(sum(b) AS BIGINT) AS sb
        |  FROM stacked GROUP BY 1, 2),
        |base AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
        |         CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM ev GROUP BY 1),
        |j AS (
        |  SELECT p.*, b.n, b.s, b.ss, CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS mu
        |  FROM pairs p JOIN base b USING (event_type))
        |SELECT event_type, lag, n_pairs,
        |       round((CAST(sxy AS DOUBLE)
        |              - mu * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
        |              + CAST(n_pairs AS DOUBLE) * mu * mu)
        |             / (CAST(ss AS DOUBLE) - CAST(n AS DOUBLE) * mu * mu), 6) AS acf
        |FROM j WHERE CAST(ss AS DOUBLE) - CAST(n AS DOUBLE) * mu * mu > 0.0
        |ORDER BY event_type, lag""".stripMargin)),

    // A31 — Benford first-digit profile: the classic fabricated-data /
    // ingest-anomaly screen. First significant digit extracted on the
    // EXACT integer cent path (substring of the bigint's decimal string —
    // no float log10 near power-of-10 boundaries), digit census in one
    // hash aggregate, Benford expectation ln(1+1/d)/ln(10) and the χ²
    // goodness-of-fit contribution row-local, and the statistic exposed as
    // `chisq_running` — a cumulative sum in digit order (the a29 pattern)
    // so the final row carries the full χ²(8) without any
    // order-nondeterministic double aggregate.
    Q("a31_benford", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val digits = Tables.table(s, d, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("bigint")
          .cast("string"), 1, 1).cast("int").as("digit"))
      val counts = digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
      val wAll = Window.partitionBy()
      val wCum = Window.orderBy("digit")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val t = counts
        .withColumn("n", sum("n_obs").over(wAll))
        .withColumn("expected_n",
          d2(col("n")) * log(lit(1.0) + lit(1.0) / d2(col("digit"))) / log(lit(10.0)))
        .withColumn("contrib",
          (d2(col("n_obs")) - col("expected_n")) * (d2(col("n_obs")) - col("expected_n"))
            / col("expected_n"))
      t.withColumn("chisq_running", sum("contrib").over(wCum))
        .select(col("digit"), col("n_obs"), round(col("expected_n"), 6).as("expected_n"),
          round(col("contrib"), 6).as("contrib"),
          round(col("chisq_running"), 6).as("chisq_running"))
        .orderBy("digit")
    }, Some(
      """WITH digits AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
        |                     1, 1) AS INT) AS digit
        |  FROM orders),
        |counts AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY 1),
        |t AS (
        |  SELECT digit, n_obs, sum(n_obs) OVER () AS n
        |  FROM counts),
        |e AS (
        |  SELECT digit, n_obs,
        |         CAST(n AS DOUBLE) * ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
        |           AS expected_n,
        |         (CAST(n_obs AS DOUBLE)
        |          - CAST(n AS DOUBLE) * ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |         * (CAST(n_obs AS DOUBLE)
        |            - CAST(n AS DOUBLE) * ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |         / (CAST(n AS DOUBLE) * ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))
        |           AS contrib
        |  FROM t)
        |SELECT digit, n_obs, round(expected_n, 6) AS expected_n,
        |       round(contrib, 6) AS contrib,
        |       round(sum(contrib) OVER (ORDER BY digit
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS chisq_running
        |FROM e ORDER BY digit""".stripMargin)),

    // A32 — partial correlation (price ~ quantity controlling for
    // discount): the confounder-adjusted dependence screen,
    // r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) computed entirely
    // from the a24 one-pass exact decimal(38,0) moment aggregate — ONE
    // scan, ONE 1-row reduce, every downstream step row-local double math.
    Q("a32_partial_corr", (s, d) => {
      val dec = "decimal(38,0)"
      val base = Tables.table(s, d, "lineitem").select(
        cents(col("l_extendedprice")).cast(dec).as("x"),
        col("l_quantity").cast("bigint").cast(dec).as("y"),
        round(col("l_discount") * 100).cast("bigint").cast(dec).as("z"))
      val vars = Seq("x", "y", "z")
      val m = crossMoments(base, vars)
      m.withColumn("r_xy", momentCorr("x", "y"))
        .withColumn("r_xz", momentCorr("x", "z"))
        .withColumn("r_yz", momentCorr("y", "z"))
        .select(round(col("r_xy"), 6).as("r_xy"),
          round(col("r_xz"), 6).as("r_xz"),
          round(col("r_yz"), 6).as("r_yz"),
          round((col("r_xy") - col("r_xz") * col("r_yz"))
            / sqrt((lit(1.0) - col("r_xz") * col("r_xz"))
              * (lit(1.0) - col("r_yz") * col("r_yz"))), 6).as("r_partial"))
    }, Some(
      """WITH v AS (
        |  SELECT CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT) AS x,
        |         CAST(CAST(l_quantity AS BIGINT) AS HUGEINT) AS y,
        |         CAST(CAST(round(l_discount * 100) AS BIGINT) AS HUGEINT) AS z
        |  FROM lineitem),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |         sum(x) AS s_x, sum(y) AS s_y, sum(z) AS s_z,
        |         sum(x * x) AS s_x_x, sum(x * y) AS s_x_y, sum(x * z) AS s_x_z,
        |         sum(y * y) AS s_y_y, sum(y * z) AS s_y_z, sum(z * z) AS s_z_z
        |  FROM v),
        |r AS (
        |  SELECT
        |    CAST(n * s_x_y - s_x * s_y AS DOUBLE)
        |      / sqrt(CAST(n * s_x_x - s_x * s_x AS DOUBLE)
        |             * CAST(n * s_y_y - s_y * s_y AS DOUBLE)) AS r_xy,
        |    CAST(n * s_x_z - s_x * s_z AS DOUBLE)
        |      / sqrt(CAST(n * s_x_x - s_x * s_x AS DOUBLE)
        |             * CAST(n * s_z_z - s_z * s_z AS DOUBLE)) AS r_xz,
        |    CAST(n * s_y_z - s_y * s_z AS DOUBLE)
        |      / sqrt(CAST(n * s_y_y - s_y * s_y AS DOUBLE)
        |             * CAST(n * s_z_z - s_z * s_z AS DOUBLE)) AS r_yz
        |  FROM m)
        |SELECT round(r_xy, 6) AS r_xy, round(r_xz, 6) AS r_xz,
        |       round(r_yz, 6) AS r_yz,
        |       round((r_xy - r_xz * r_yz)
        |             / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 6) AS r_partial
        |FROM r""".stripMargin)),

    // A33 — join-cardinality pre-flight: predict |A ⋈ B| on a key as
    // Σ_k cnt_A(k)·cnt_B(k) from the two per-key histograms BEFORE paying
    // for the join — the planner-style sanity check a pipeline runs before
    // kicking off a 100 TB fact-fact join (catches the accidental
    // many-to-many blowup that a27's single-side skew census can't see).
    // Two key-cardinality aggregates + one co-keyed join of the histograms
    // (never the facts), all counts exact bigints; reports the predicted
    // total, match coverage of each side, and the worst fan-out keys.
    Q("a33_join_cardinality", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ca = Tables.table(s, d, "orders")
        .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cnt_a"))
      val cb = Tables.table(s, d, "lineitem")
        .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cnt_b"))
      val h = ca.join(cb, Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
          coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
        .withColumn("contrib", col("cnt_a") * col("cnt_b"))
      val top = h.filter(col("contrib") > 0)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("contrib").desc, col("k").asc)))
        .filter(col("rk") <= 5)
        .select(lit("top_key").as("row_type"), col("k").as("key"),
          col("cnt_a"), col("cnt_b"), col("contrib").as("predicted_rows"))
      val total = h.agg(
        sum("contrib").as("predicted_rows"),
        sum(when(col("contrib") > 0, col("cnt_a")).otherwise(0L)).as("cnt_a"),
        sum(when(col("contrib") > 0, col("cnt_b")).otherwise(0L)).as("cnt_b"))
        .select(lit("total").as("row_type"), lit(-1L).as("key"),
          col("cnt_a"), col("cnt_b"), col("predicted_rows"))
      total.unionByName(top).orderBy("row_type", "key")
    }, Some(
      """WITH ca AS (SELECT o_orderkey AS k, count(*) AS cnt_a FROM orders GROUP BY 1),
        |cb AS (SELECT l_orderkey AS k, count(*) AS cnt_b FROM lineitem GROUP BY 1),
        |h AS (
        |  SELECT coalesce(ca.k, cb.k) AS k,
        |         CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
        |         CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b,
        |         CAST(coalesce(cnt_a, 0) * coalesce(cnt_b, 0) AS BIGINT) AS contrib
        |  FROM ca FULL OUTER JOIN cb ON ca.k = cb.k),
        |top AS (
        |  SELECT 'top_key' AS row_type, k AS key, cnt_a, cnt_b,
        |         contrib AS predicted_rows,
        |         row_number() OVER (ORDER BY contrib DESC, k) AS rk
        |  FROM h WHERE contrib > 0 QUALIFY rk <= 5),
        |total AS (
        |  SELECT 'total' AS row_type, CAST(-1 AS BIGINT) AS key,
        |         CAST(sum(CASE WHEN contrib > 0 THEN cnt_a ELSE 0 END) AS BIGINT) AS cnt_a,
        |         CAST(sum(CASE WHEN contrib > 0 THEN cnt_b ELSE 0 END) AS BIGINT) AS cnt_b,
        |         CAST(sum(contrib) AS BIGINT) AS predicted_rows
        |  FROM h)
        |SELECT row_type, key, cnt_a, cnt_b, predicted_rows FROM total
        |UNION ALL
        |SELECT row_type, key, cnt_a, cnt_b, predicted_rows FROM top
        |ORDER BY row_type, key""".stripMargin)),

    // A34 — Gini coefficient of per-user spend by event type: the
    // inequality / concentration profile (is engagement long-tailed or
    // whale-dominated — the same question a crawl asks of domain traffic).
    // Per-user spend and the rank-weighted sum Σi·s_i are EXACT bigints
    // over one keyed rank window (total order: spend asc, user asc);
    // G = 2Σi·s/(nΣs) − (n+1)/n is one row-local double expression per
    // group. Two co-keyed shuffles (spend agg, rank window + final agg).
    Q("a34_gini", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.events(s, d)
        .select(col("event_type"), col("user_id"),
          round(col("value") * 100).cast("bigint").as("c"))
        .groupBy("event_type", "user_id").agg(sum("c").as("spend"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("spend").asc, col("user_id").asc)
      spend.withColumn("i", row_number().over(w).cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"), sum("spend").as("total_cents"),
          sum(col("i") * col("spend")).as("sis"))
        .withColumn("gini",
          lit(2.0) * d2("sis") / (d2("n_users") * d2("total_cents"))
            - (d2("n_users") + 1.0) / d2("n_users"))
        .select(col("event_type"), col("n_users"), col("total_cents"),
          round(col("gini"), 6).as("gini"))
        .orderBy("event_type")
    }, Some(
      """WITH spend AS (
        |  SELECT event_type, user_id,
        |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY spend, user_id) AS BIGINT) AS i
        |  FROM spend),
        |a AS (
        |  SELECT event_type, count(*) AS n_users,
        |         CAST(sum(spend) AS BIGINT) AS total_cents,
        |         CAST(sum(i * spend) AS BIGINT) AS sis
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_users, total_cents,
        |       round(2.0 * CAST(sis AS DOUBLE)
        |             / (CAST(n_users AS DOUBLE) * CAST(total_cents AS DOUBLE))
        |             - (CAST(n_users AS DOUBLE) + 1.0) / CAST(n_users AS DOUBLE), 6)
        |         AS gini
        |FROM a ORDER BY event_type""".stripMargin)),

    // W14 — seasonal-naive forecast error (the MASE shape): per series,
    // compare the season-lag predictor x̂_t = x_{t−5} against the naive
    // x̂_t = x_{t−1} on the SAME evaluation rows — the model-free
    // baseline every forecasting pipeline scores against before training
    // anything. Absolute errors are exact integer cents from one keyed
    // window (both lags share the frame sort); MASE is one double ratio
    // per series.
    Q("w14_forecast_error", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("bigint").as("c"))
      ev.withColumn("lag5", lag("c", 5).over(w))
        .withColumn("lag1", lag("c", 1).over(w))
        .filter(col("lag5").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("c") - col("lag5"))).as("se"),
          sum(abs(col("c") - col("lag1"))).as("ne"))
        .filter(col("ne") > 0)
        .select(col("event_type"), col("n_eval"),
          round(d2("se") / d2("n_eval"), 6).as("mae_seasonal_cents"),
          round(d2("ne") / d2("n_eval"), 6).as("mae_naive_cents"),
          round(d2("se") / d2("ne"), 6).as("mase"))
        .orderBy("event_type")
    }, Some(
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |l AS (
        |  SELECT event_type, c, lag(c, 5) OVER w AS lag5, lag(c, 1) OVER w AS lag1
        |  FROM ev WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |a AS (
        |  SELECT event_type, count(*) AS n_eval,
        |         CAST(sum(abs(c - lag5)) AS BIGINT) AS se,
        |         CAST(sum(abs(c - lag1)) AS BIGINT) AS ne
        |  FROM l WHERE lag5 IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_eval,
        |       round(CAST(se AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) AS mae_seasonal_cents,
        |       round(CAST(ne AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) AS mae_naive_cents,
        |       round(CAST(se AS DOUBLE) / CAST(ne AS DOUBLE), 6) AS mase
        |FROM a WHERE ne > 0 ORDER BY event_type""".stripMargin)),

    // Classical additive seasonal decomposition over the gap-filled hourly
    // event series, period 24 (hour-of-day): trend = centered 24h moving
    // average, seasonal = per-slot mean of the detrended series, remainder
    // the rest (ops/Timeseries.seasonalDecompose). All sums exact integers
    // — the per-slot mean is (Σy − ΣS/24)/n over integer aggregates, so
    // the oracle hash-matches without any float-summation-order risk.
    Q("w15_seasonal_decompose", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      val dense = graft.ops.Timeseries.gapFillCounts(ev, "event_type", "hour_idx")
      graft.ops.Timeseries.seasonalDecompose(dense, "event_type", "hour_idx", "n", 24)
        .select(col("event_type"), col("hour_idx"), col("n").as("y"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(col("remainder"), 6).as("remainder"))
        .orderBy("event_type", "hour_idx")
    }, Some(
      """WITH sd_c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |sd_sp AS (SELECT event_type, min(hour_idx) AS lo, max(hour_idx) AS hi
        |          FROM sd_c GROUP BY 1),
        |sd_dense AS (
        |  SELECT g.event_type, g.hour_idx, CAST(coalesce(c.n, 0) AS BIGINT) AS y
        |  FROM (SELECT event_type, unnest(range(lo, hi + 1)) AS hour_idx FROM sd_sp) g
        |  LEFT JOIN sd_c c USING (event_type, hour_idx)),
        |sd_w AS (
        |  SELECT event_type, hour_idx, y,
        |         CAST(sum(y) OVER w AS BIGINT) AS s,
        |         CAST(count(*) OVER w AS BIGINT) AS cnt
        |  FROM sd_dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
        |               ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
        |sd_full AS (
        |  SELECT event_type, hour_idx, y, s, hour_idx % 24 AS slot
        |  FROM sd_w WHERE cnt = 24),
        |sd_slots AS (
        |  SELECT event_type, slot,
        |         (CAST(sum(y) AS DOUBLE) - CAST(sum(s) AS DOUBLE) / 24.0)
        |           / CAST(count(*) AS DOUBLE) AS seasonal
        |  FROM sd_full GROUP BY 1, 2)
        |SELECT f.event_type, f.hour_idx, f.y,
        |       round(CAST(f.s AS DOUBLE) / 24.0, 6) AS trend,
        |       round(sl.seasonal, 6) AS seasonal,
        |       round(CAST(f.y AS DOUBLE) - CAST(f.s AS DOUBLE) / 24.0 - sl.seasonal, 6) AS remainder
        |FROM sd_full f JOIN sd_slots sl ON sl.event_type = f.event_type AND sl.slot = f.slot
        |ORDER BY 1, 2""".stripMargin)),

    // W18 — seasonal anomaly detection: the w15 decomposition's REMAINDER
    // gated by a per-series robust MAD threshold (the "seasonal-hybrid"
    // composition every ops anomaly detector runs — detrend+deseasonalize
    // FIRST so a daily peak isn't an alert, then flag |r − med| >
    // 3·1.4826·MAD). Both medians use exact element selection
    // (Timeseries.exactMedian, the k33 move), and the remainders are the
    // SAME IEEE doubles w15's oracle already hash-matches — so an ENTIRE
    // anomaly pipeline, decomposition through flags, is oracle-checked.
    // Shape: everything after the w15 chain is windows/joins over the
    // bounded (series × hours) decomposed table.
    Q("w18_seasonal_outliers", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      val dense = graft.ops.Timeseries.gapFillCounts(ev, "event_type", "hour_idx")
      // dec feeds THREE consumers (med, the dev join, and mad-via-dev) in
      // one action; unpersisted, the events-scan → gap-fill → decompose
      // subtree would replay ~4x (the e09 cross-branch-no-reuse cost).
      val dec = graft.ops.Caches.track(graft.ops.Timeseries
        .seasonalDecompose(dense, "event_type", "hour_idx", "n", 24).persist())
      val med = graft.ops.Timeseries
        .exactMedian(dec, "event_type", "remainder", "hour_idx", "med")
      val dev = dec.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("remainder") - col("med")))
      val mad = graft.ops.Timeseries
        .exactMedian(dev, "event_type", "adev", "hour_idx", "mad")
      dev.join(broadcast(mad), "event_type")
        .filter(col("mad") > 0.0)
        .withColumn("score", col("adev") / (lit(1.4826) * col("mad")))
        .filter(col("score") > 3.0)
        .select(col("event_type"), col("hour_idx"), col("n").as("y"),
          round(col("remainder"), 6).as("remainder"),
          round(col("score"), 6).as("score"))
        .orderBy("event_type", "hour_idx")
    }, Some(
      """WITH sd_c AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_idx, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |sd_sp AS (SELECT event_type, min(hour_idx) AS lo, max(hour_idx) AS hi
        |          FROM sd_c GROUP BY 1),
        |sd_dense AS (
        |  SELECT g.event_type, g.hour_idx, CAST(coalesce(c.n, 0) AS BIGINT) AS y
        |  FROM (SELECT event_type, unnest(range(lo, hi + 1)) AS hour_idx FROM sd_sp) g
        |  LEFT JOIN sd_c c USING (event_type, hour_idx)),
        |sd_w AS (
        |  SELECT event_type, hour_idx, y,
        |         CAST(sum(y) OVER w AS BIGINT) AS s,
        |         CAST(count(*) OVER w AS BIGINT) AS cnt
        |  FROM sd_dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
        |               ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)),
        |sd_full AS (
        |  SELECT event_type, hour_idx, y, s, hour_idx % 24 AS slot
        |  FROM sd_w WHERE cnt = 24),
        |sd_slots AS (
        |  SELECT event_type, slot,
        |         (CAST(sum(y) AS DOUBLE) - CAST(sum(s) AS DOUBLE) / 24.0)
        |           / CAST(count(*) AS DOUBLE) AS seasonal
        |  FROM sd_full GROUP BY 1, 2),
        |so_dec AS (
        |  SELECT f.event_type, f.hour_idx, f.y,
        |         CAST(f.y AS DOUBLE) - CAST(f.s AS DOUBLE) / 24.0 - sl.seasonal AS remainder
        |  FROM sd_full f JOIN sd_slots sl
        |    ON sl.event_type = f.event_type AND sl.slot = f.slot),
        |so_mrank AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |           ORDER BY remainder, hour_idx) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS m
        |  FROM so_dec),
        |so_med AS (
        |  SELECT event_type, (min(remainder) + max(remainder)) / 2.0 AS med
        |  FROM so_mrank WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
        |  GROUP BY 1),
        |so_dev AS (
        |  SELECT d.*, abs(d.remainder - m.med) AS adev
        |  FROM so_dec d JOIN so_med m USING (event_type)),
        |so_arank AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |           ORDER BY adev, hour_idx) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS m
        |  FROM so_dev),
        |so_mad AS (
        |  SELECT event_type, (min(adev) + max(adev)) / 2.0 AS mad
        |  FROM so_arank WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
        |  GROUP BY 1)
        |SELECT d.event_type, d.hour_idx, d.y,
        |       round(d.remainder, 6) AS remainder,
        |       round(d.adev / (1.4826 * md.mad), 6) AS score
        |FROM so_dev d JOIN so_mad md USING (event_type)
        |WHERE md.mad > 0.0 AND d.adev / (1.4826 * md.mad) > 3.0
        |ORDER BY 1, 2""".stripMargin)),

    // J14 — keyed interval-overlap join (range × range): urgent orders'
    // 7-day windows × low-priority orders' 7-day windows FOR THE SAME
    // CUSTOMER NATION — the genomic (chromosome, bin) pattern. Each
    // interval explodes into its ≤2 week-buckets; candidates meet through
    // the (nation, bucket) EQUI-join (hash, never nested-loop), pairs
    // dedup by key, the exact overlap predicate filters locally. The
    // partition key is the scale lever: overlap-join OUTPUT grows with
    // within-key temporal density² (the d05 lesson), so at 100 TB you
    // key by the natural axis (chromosome, tenant, region) and keep each
    // key's density bounded. Bounded output: top-20 urgent orders.
    Q("j14_interval_overlap", (s, d) => {
      val weekUs = 604800000000L
      val nat = broadcast(Tables.table(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey")))
      def side(prio: String) = Tables.table(s, d, "orders")
        .filter(col("o_orderpriority") === prio)
        .join(nat, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey").as("k"), col("c_nationkey").as("nat"),
          unix_micros(col("o_orderdate")).as("lo"),
          (unix_micros(col("o_orderdate")) + weekUs).as("hi"))
      def binned(df: org.apache.spark.sql.DataFrame, pre: String) = df.select(
        col("k").as(s"${pre}k"), col("nat"),
        col("lo").as(s"${pre}lo"), col("hi").as(s"${pre}hi"),
        explode(sequence(expr("lo div 604800000000"),
          expr("(hi - 1) div 604800000000"))).as("bucket"))
      binned(side("1-URGENT"), "a")
        .join(binned(side("5-LOW"), "b"), Seq("nat", "bucket"))
        .filter(col("alo") < col("bhi") && col("blo") < col("ahi"))
        .select("ak", "bk").distinct()
        .groupBy("ak").agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("n_overlaps").desc, col("ak").asc)
        .limit(20)
        .select(col("ak").as("o_orderkey"), col("n_overlaps"))
    }, Some(
      """WITH a AS (
        |  SELECT o_orderkey AS k, c.c_nationkey AS nat,
        |         epoch_us(o_orderdate) AS lo,
        |         epoch_us(o_orderdate) + 604800000000 AS hi
        |  FROM orders JOIN customer c ON o_custkey = c.c_custkey
        |  WHERE o_orderpriority = '1-URGENT'),
        |b AS (
        |  SELECT o_orderkey AS k, c.c_nationkey AS nat,
        |         epoch_us(o_orderdate) AS lo,
        |         epoch_us(o_orderdate) + 604800000000 AS hi
        |  FROM orders JOIN customer c ON o_custkey = c.c_custkey
        |  WHERE o_orderpriority = '5-LOW'),
        |p AS (
        |  SELECT DISTINCT a.k AS ak, b.k AS bk
        |  FROM a JOIN b ON a.nat = b.nat AND a.lo < b.hi AND b.lo < a.hi)
        |SELECT ak AS o_orderkey, count(*) AS n_overlaps
        |FROM p GROUP BY 1
        |ORDER BY 2 DESC, 1 LIMIT 20""".stripMargin)),

    // ------------------------------------------------------------------
    // W — sorts / top-k / BH (reference top10k.py:11-14, volcano.R:138,
    // plots.R:162)
    // ------------------------------------------------------------------

    // Flagship: per-group variance via exact integer moments, top-k desc.
    Q("w01_topk_variance", (s, d) =>
      Tables.table(s, d, "lineitem")
        .withColumn("c", cents(col("l_extendedprice")))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("n"), sum("c").as("s"), sum(col("c") * col("c")).as("ss"))
        .filter(col("n") >= 2)
        .select(col("l_partkey"), col("n"),
          round(varFromMoments(col("n"), col("s"), col("ss")) / 10000.0, 4).as("var_price"))
        .orderBy(col("var_price").desc, col("l_partkey").asc)
        .limit(100),
      Some(
        s"""SELECT l_partkey, n,
           |       round((${SqlOracles.varFromMoments("n", "s", "ss")}) / 10000.0, 4) AS var_price
           |FROM (
           |  SELECT l_partkey, count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
           |         CAST(sum(c * c) AS BIGINT) AS ss
           |  FROM (SELECT l_partkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
           |        FROM lineitem)
           |  GROUP BY 1)
           |WHERE n >= 2
           |ORDER BY var_price DESC, l_partkey LIMIT 100""".stripMargin)),

    Q("w02_top10_pvalue", (s, d) =>
      D(s, d).groupBy("probe_id").agg(min("pval").as("p"))
        .orderBy(col("p").asc, col("probe_id").asc).limit(10)
        .select(col("probe_id"), round(col("p"), 6).as("p")),
      Some(ctes +
        """SELECT probe_id, round(p, 6) AS p
          |FROM (SELECT probe_id, min(pval) AS p FROM detp GROUP BY 1)
          |ORDER BY p, probe_id LIMIT 10""".stripMargin)),

    Q("w03_bh_adjust", (s, d) => {
      val p = D(s, d).groupBy("probe_id").agg(min("pval").as("p"))
      Analytic.bhAdjust(p, "p", "probe_id")
        .select(col("probe_id"), round(col("p"), 6).as("p"), round(col("fdr"), 6).as("fdr"))
        .orderBy("probe_id")
    }, Some(ctes +
      """, pp AS (SELECT probe_id, min(pval) AS p FROM detp GROUP BY 1),
        |r AS (SELECT probe_id, p, row_number() OVER (ORDER BY p, probe_id) AS rn,
        |             count(*) OVER () AS n
        |      FROM pp),
        |m AS (SELECT probe_id, p,
        |             least(min(p * CAST(n AS DOUBLE) / CAST(rn AS DOUBLE))
        |                   OVER (ORDER BY rn DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |                   1.0) AS fdr
        |      FROM r)
        |SELECT probe_id, round(p, 6) AS p, round(fdr, 6) AS fdr FROM m ORDER BY probe_id""".stripMargin)),

    // Benjamini–Yekutieli FDR (dependence-robust BH; p.adjust
    // method="BY"): the BH step-up quantity scaled by c(m) = Σ 1/i.
    // Engine computes H_m by an ASCENDING driver loop over the count the
    // size dispatch already made; the oracle reproduces the identical IEEE
    // sequence with an i-ordered running sum over range(1, m+1). Same
    // two-path size dispatch as w03 (scale=1 reproduces BH bit-for-bit).
    Q("w16_by_adjust", (s, d) => {
      val p = D(s, d).groupBy("probe_id").agg(min("pval").as("p"))
      Analytic.byAdjust(p, "p", "probe_id")
        .select(col("probe_id"), round(col("p"), 6).as("p"),
          round(col("fdr_by"), 6).as("fdr_by"))
        .orderBy("probe_id")
    }, Some(ctes +
      """, pp AS (SELECT probe_id, min(pval) AS p FROM detp GROUP BY 1),
        |hh AS (
        |  SELECT i, sum(1.0 / CAST(i AS DOUBLE))
        |           OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
        |  FROM (SELECT unnest(range(1, (SELECT count(*) FROM pp) + 1)) AS i)),
        |hl AS (SELECT h FROM hh ORDER BY i DESC LIMIT 1),
        |r AS (SELECT probe_id, p, h,
        |             row_number() OVER (ORDER BY p, probe_id) AS rn,
        |             count(*) OVER () AS n
        |      FROM pp CROSS JOIN hl),
        |m AS (SELECT probe_id, p,
        |             least(min(p * h * CAST(n AS DOUBLE) / CAST(rn AS DOUBLE))
        |                   OVER (ORDER BY rn DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |                   1.0) AS fdr_by
        |      FROM r)
        |SELECT probe_id, round(p, 6) AS p, round(fdr_by, 6) AS fdr_by
        |FROM m ORDER BY probe_id""".stripMargin)),

    // Holm step-down FWER adjustment (p.adjust method="holm") — completes
    // the multiple-testing family (BH w03, BY w16, Holm here): running MAX
    // ascending in rank of (m−rank+1)·p, clamped at 1. Same prefix-scan
    // kernel and size gate as w03 (Analytic.holmScan), with a running
    // maximum from the smallest p up where BH runs a minimum from the
    // largest p down.
    Q("w17_holm_adjust", (s, d) => {
      val p = D(s, d).groupBy("probe_id").agg(min("pval").as("p"))
      Analytic.holmAdjust(p, "p", "probe_id")
        .select(col("probe_id"), round(col("p"), 6).as("p"),
          round(col("p_holm"), 6).as("p_holm"))
        .orderBy("probe_id")
    }, Some(ctes +
      """, pp AS (SELECT probe_id, min(pval) AS p FROM detp GROUP BY 1),
        |r AS (SELECT probe_id, p,
        |             row_number() OVER (ORDER BY p, probe_id) AS rn,
        |             count(*) OVER () AS n
        |      FROM pp),
        |m AS (SELECT probe_id, p,
        |             least(max(p * CAST(n - rn + 1 AS DOUBLE))
        |                   OVER (ORDER BY rn ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |                   1.0) AS p_holm
        |      FROM r)
        |SELECT probe_id, round(p, 6) AS p, round(p_holm, 6) AS p_holm
        |FROM m ORDER BY probe_id""".stripMargin)),

    // ------------------------------------------------------------------
    // W4+ — windowed time-series analytics over the events table
    // (beyond-reference scale tier: rolling features, deltas, running
    // totals, gap-filled resampling — one hash shuffle on the partition
    // key each, sort within partitions, no self-joins)
    // ------------------------------------------------------------------

    Q("w04_rolling_avg", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      ev.select(col("event_id"), col("user_id"),
          round(avg("value").over(w), 6).as("roll_avg"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id, user_id,
        |       round(avg(value) OVER (PARTITION BY user_id
        |         ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS roll_avg
        |FROM events ORDER BY event_id""".stripMargin)),

    Q("w05_lag_delta", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      ev.select(col("event_id"),
          round(col("value") - lag("value", 1).over(w), 6).as("delta"),
          (col("ts_us") - lag("ts_us", 1).over(w)).as("gap_us"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id,
        |       round(value - lag(value, 1) OVER w, 6) AS delta,
        |       epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY event_id""".stripMargin)),

    Q("w06_cumulative_cents", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("bigint").as("cents"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("event_id"), sum("cents").over(w).as("cum_cents"))
        .orderBy("event_id")
    }, Some(
      """SELECT event_id,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |         PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |FROM events ORDER BY event_id""".stripMargin)),

    Q("w07_gap_fill", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts) div 3600000000").as("hour"))
      graft.ops.Timeseries.gapFillCounts(ev, "user_id", "hour")
        .orderBy("user_id", "hour")
    }, Some(
      """WITH c AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id, min(hour) AS lo, max(hour) AS hi FROM c GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS hour FROM sp)
        |SELECT g.user_id, g.hour, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM grid g LEFT JOIN c USING (user_id, hour)
        |ORDER BY 1, 2""".stripMargin)),

    // Small-file compaction roundtrip: fragment lineitem into 64 files,
    // compact to 4 without a shuffle, and prove content preservation by
    // aggregating the compacted layout against the original table's
    // oracle. RelationalSpec asserts the file-count collapse.
    Q("r09_compact_files", (s, d) => {
      val src = s"${Q.scratch}/r09_small"
      val dst = s"${Q.scratch}/r09_compact"
      Tables.table(s, d, "lineitem").repartition(64)
        .write.mode("overwrite").parquet(src)
      Relational.compactFiles(s, src, dst, targetFiles = 4)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("sum_cents"))
        .orderBy("l_returnflag")
    }, Some(
      """SELECT l_returnflag, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Curriculum binning export: per-source difficulty deciles via ntile
    // (the window partitions by source, so the sort is per-source — never
    // global) written out partitioned by bin, the layout a curriculum
    // schedule reads shard-by-shard. Deterministic: the window order
    // carries a doc_id tiebreak, and SQL ntile semantics (first buckets
    // take the remainder) are engine-portable.
    Q("r10_curriculum_export", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val out = s"${Q.scratch}/r10_curriculum"
      Tables.table(s, d, "documents")
        .withColumn("bin", ntile(10).over(
          Window.partitionBy("source")
            .orderBy(col("n_chars").asc, col("doc_id").asc)).cast("bigint"))
        .select("doc_id", "source", "n_chars", "bin")
        .write.mode("overwrite").partitionBy("bin").parquet(out)
      s.read.parquet(out)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .select(col("source"), col("bin").cast("bigint").as("bin"),
          col("n"), col("min_chars"), col("max_chars"))
        .orderBy("source", "bin")
    }, Some(
      """WITH b AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(ntile(10) OVER (PARTITION BY source
        |                              ORDER BY n_chars, doc_id) AS BIGINT) AS bin
        |  FROM documents)
        |SELECT source, bin, count(*) AS n,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Z-order layout: bit-interleave two 10-bit keys into one sort key,
    // bucket by its top 4 bits (= 16 Z-curve tiles), and report each
    // bucket's min/max span in BOTH dimensions — the per-file statistics
    // a lake engine prunes on. Both dimensions stay bounded per bucket
    // (each tile is a rectangle on the curve), which is exactly what
    // makes filters on either column skip files. Pure integer
    // arithmetic → identical in DuckDB.
    Q("r11_zorder_layout", (s, d) => {
      val bits = 10
      val li = Tables.table(s, d, "lineitem")
        .select(pmod(col("l_partkey"), lit(1024L)).as("ka"),
          pmod(col("l_suppkey"), lit(1024L)).as("kb"))
      li.withColumn("bucket",
          shiftright(graft.ops.Relational.zValue(col("ka"), col("kb"), bits),
            2 * bits - 4))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("ka").as("min_a"), max("ka").as("max_a"),
          min("kb").as("min_b"), max("kb").as("max_b"))
        .orderBy("bucket")
    }, Some {
      val terms = (0 until 10).map(i =>
        s"((ka // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
          s"((kb // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
        .mkString(" + ")
      s"""WITH k AS (
         |  SELECT l_partkey % 1024 AS ka, l_suppkey % 1024 AS kb
         |  FROM lineitem),
         |z AS (SELECT ka, kb, ($terms) // ${1L << 16} AS bucket FROM k)
         |SELECT bucket, count(*) AS n,
         |       min(ka) AS min_a, max(ka) AS max_a,
         |       min(kb) AS min_b, max(kb) AS max_b
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    // R12 — snapshot diff (CDC between table versions): v2 is derived
    // from the documents snapshot by a deterministic mutation set (every
    // 17th doc deleted, every 13th rewritten, a planted insert block), and
    // the diff is ONE full-outer join on the key emitting
    // added/removed/changed with the changed-column list — the
    // table-format time-travel diff (Delta/Iceberg snapshot compare)
    // restated relationally. At scale both sides bucket by the key, so
    // the join co-locates; unchanged rows are filtered before the sink.
    Q("r12_snapshot_diff", (s, d) => {
      val v1 = Tables.table(s, d, "documents")
        .select("doc_id", "text", "source", "n_chars")
      val v2base = v1
        .filter(col("doc_id") % 17 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 13 === 5, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
      val inserts = v1.filter(col("doc_id") % 29 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("ingest_v2").as("source"), col("n_chars"))
      val v2 = v2base.unionByName(inserts)
      val j = v1.as("a").join(v2.as("b"), Seq("doc_id"), "full_outer")
      j.select(col("doc_id"),
          when(col("a.n_chars").isNull, "added")
            .when(col("b.n_chars").isNull, "removed")
            .otherwise("changed").as("change_type"),
          concat_ws(",",
            when(col("a.text") =!= col("b.text"), lit("text")),
            when(col("a.source") =!= col("b.source"), lit("source")))
            .as("changed_cols"))
        .filter(col("change_type") =!= "changed" || col("changed_cols") =!= "")
        .orderBy("doc_id")
    }, Some(
      """WITH v1 AS (SELECT doc_id, text, source, n_chars FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 5 THEN text || ' [rev2]' ELSE text END AS text,
        |         source, n_chars
        |  FROM v1 WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 'ingest_v2', n_chars
        |  FROM v1 WHERE doc_id % 29 = 7),
        |j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              ELSE 'changed' END AS change_type,
        |         concat_ws(',',
        |           CASE WHEN a.text <> b.text THEN 'text' END,
        |           CASE WHEN a.source <> b.source THEN 'source' END) AS changed_cols
        |  FROM v1 a FULL OUTER JOIN v2 b USING (doc_id))
        |SELECT doc_id, change_type, changed_cols
        |FROM j WHERE change_type <> 'changed' OR changed_cols <> ''
        |ORDER BY doc_id""".stripMargin)),

    // Batch sessionization (12 h inactivity gap): session index via one
    // keyed window pass, then per-session aggregates. Money stays in exact
    // integer cents (w06 convention) so the cross-engine hash is stable.
    Q("w08_sessionize", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("bigint").as("cents"))
      graft.ops.Timeseries.sessionize(ev, "user_id", "ts_us", "event_id",
          gapUs = 43200000000L)
        .groupBy("user_id", "session_idx")
        .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"),
          count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
        .orderBy("user_id", "session_idx")
    }, Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 43200000000 THEN 1 ELSE 0 END AS nw
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM f)
        |SELECT user_id, session_idx, min(ts_us) AS start_us, max(ts_us) AS end_us,
        |       CAST(count(*) AS BIGINT) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Sequential conversion funnel view→click→purchase: chained
    // first-occurrence-after window minima over ONE keyed shuffle; NULL
    // propagation breaks the chain exactly where the user drops out.
    Q("w09_funnel", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      graft.ops.Timeseries.funnel(ev, "user_id", "ts_us", "event_type",
          Seq("view", "click", "purchase"))
        .orderBy("user_id")
    }, Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |w0 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS s0 FROM e),
        |w1 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts_us >= s0 THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS s1 FROM w0),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us >= s1 THEN ts_us END)
        |         OVER (PARTITION BY user_id) AS s2 FROM w1)
        |SELECT user_id, min(s0) AS stage_0_us, min(s1) AS stage_1_us, min(s2) AS stage_2_us,
        |       (CASE WHEN min(s0) IS NOT NULL THEN 1 ELSE 0 END
        |      + CASE WHEN min(s1) IS NOT NULL THEN 1 ELSE 0 END
        |      + CASE WHEN min(s2) IS NOT NULL THEN 1 ELSE 0 END) AS funnel_stage
        |FROM w2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Weekly retention cohorts: cohort = first signup week per user,
    // activity = distinct (user, week); the matrix is (cohort, offset) →
    // distinct active users.
    Q("w10_retention_cohorts", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      graft.ops.Timeseries.retentionCohorts(ev, "user_id", "ts_us",
          "event_type", "signup", bucketUs = 604800000000L)
        .orderBy("cohort_bucket", "bucket_offset")
    }, Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |c AS (SELECT user_id, min(ts_us) // 604800000000 AS cohort_bucket
        |      FROM e WHERE event_type = 'signup' GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, ts_us // 604800000000 AS bucket FROM e)
        |SELECT c.cohort_bucket, a.bucket - c.cohort_bucket AS bucket_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id) WHERE a.bucket >= c.cohort_bucket
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Robust outlier gate per group: exact median + MAD (median absolute
    // deviation), count rows beyond 3×MAD. Two bounded aggregate passes
    // (group medians are R rows each; the deviation pass re-joins by
    // broadcast) — the robust-statistics analog of the a15 z-score, immune
    // to the outliers it is hunting. Spark `percentile` and DuckDB
    // `quantile_cont` share the percentile_cont interpolation definition.
    Q("w11_mad_outliers", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5)").as("mad"), first("med").as("med"))
      dev.drop("med").join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
          round(first("med"), 6).as("med"), round(first("mad"), 6).as("mad"))
        .orderBy("event_type")
    }, Some(
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_type, e.value, abs(e.value - m.med) AS adev, m.med
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad, any_value(med) AS med
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |       CAST(sum(CASE WHEN d.adev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       round(any_value(m.med), 6) AS med, round(any_value(m.mad), 6) AS mad
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // W12 — single mean-shift changepoint per event-type series (the
    // binary-segmentation / CUSUM "at most one change" statistic): at
    // every split position t the standardized mean gap
    // G_t = √(t(n−t)/n)·|mean_left − mean_right| from EXACT cumulative
    // cent sums, argmax per key with a deterministic (G desc, t asc)
    // tie-break. One window for the ordered cumsum, one for the argmax —
    // both partitioned by event_type, so no global sort at any scale; the
    // drift detector that decides when a feature distribution moved.
    Q("w12_changepoint", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("event_type").orderBy(col("ts_us"), col("event_id"))
      val ev = Tables.events(s, d).select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("bigint").as("c"))
      val cum = ev
        .withColumn("t", row_number().over(ord))
        .withColumn("cum", sum("c").over(
          ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
        .withColumn("s", sum("c").over(Window.partitionBy("event_type")))
        .filter(col("t") < col("n"))
        .withColumn("mean_l", d2(col("cum")) / d2(col("t")))
        .withColumn("mean_r",
          (d2(col("s")) - d2(col("cum"))) / (d2(col("n")) - d2(col("t"))))
        .withColumn("g",
          sqrt(d2(col("t")) * (d2(col("n")) - d2(col("t"))) / d2(col("n")))
            * abs(col("mean_l") - col("mean_r")))
      val pick = Window.partitionBy("event_type")
        .orderBy(col("g").desc, col("t").asc)
      cum.withColumn("rn", row_number().over(pick)).filter(col("rn") === 1)
        .select(col("event_type"), col("n"), col("t").as("split_pos"),
          col("event_id").as("split_event_id"),
          round(col("g"), 6).as("g_stat"),
          round(col("mean_l"), 6).as("mean_left_cents"),
          round(col("mean_r"), 6).as("mean_right_cents"))
        .orderBy("event_type")
    }, Some(
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |cum AS (
        |  SELECT event_type, event_id,
        |         row_number() OVER w AS t,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY ts_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         count(*) OVER (PARTITION BY event_type) AS n,
        |         sum(c) OVER (PARTITION BY event_type) AS s
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT event_type, event_id, t, n,
        |         CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS mean_l,
        |         (CAST(s AS DOUBLE) - CAST(cum AS DOUBLE))
        |         / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) AS mean_r,
        |         sqrt(CAST(t AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))
        |              / CAST(n AS DOUBLE))
        |         * abs(CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)
        |               - (CAST(s AS DOUBLE) - CAST(cum AS DOUBLE))
        |                 / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))) AS g
        |  FROM cum WHERE t < n),
        |pick AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY g DESC, t ASC) AS rn
        |  FROM g)
        |SELECT event_type, n, t AS split_pos, event_id AS split_event_id,
        |       round(g, 6) AS g_stat, round(mean_l, 6) AS mean_left_cents,
        |       round(mean_r, 6) AS mean_right_cents
        |FROM pick WHERE rn = 1 ORDER BY event_type""".stripMargin)),

    // W13 — decile transition matrix (cohort mobility): rank every user's
    // spend into deciles in each half of the time range (split at the
    // exact integer midpoint of the observed span) and count
    // (decile_then, decile_now) user flows — the churn / upgrade-path
    // matrix of engagement analytics. Spend is exact cents; ntile(10) on
    // (spend desc, user_id) is a total order, so bucket assignment is
    // engine-independent; the 1-row time range broadcasts.
    Q("w13_decile_transition", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("t"),
        round(col("value") * 100).cast("bigint").as("c"))
      val rng = ev.agg(min("t").as("tmin"), max("t").as("tmax"))
      val spend = ev.crossJoin(broadcast(rng))
        .withColumn("period",
          when(col("t") <= expr("(tmin + tmax) div 2"), 1).otherwise(2))
        .groupBy("user_id", "period").agg(sum("c").as("spend"))
      val dc = spend.withColumn("decile", ntile(10).over(
        Window.partitionBy("period").orderBy(col("spend").desc, col("user_id").asc)))
      dc.as("a").filter(col("a.period") === 1)
        .join(dc.as("b").filter(col("b.period") === 2), "user_id")
        .groupBy(col("a.decile").as("decile_p1"), col("b.decile").as("decile_p2"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("decile_p1", "decile_p2")
    }, Some(
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS t, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |r AS (SELECT min(t) AS tmin, max(t) AS tmax FROM e),
        |sp AS (
        |  SELECT user_id,
        |         CASE WHEN t <= (tmin + tmax) // 2 THEN 1 ELSE 2 END AS period,
        |         CAST(sum(c) AS BIGINT) AS spend
        |  FROM e CROSS JOIN r GROUP BY 1, 2),
        |dc AS (
        |  SELECT *, ntile(10) OVER (PARTITION BY period
        |    ORDER BY spend DESC, user_id) AS decile
        |  FROM sp)
        |SELECT a.decile AS decile_p1, b.decile AS decile_p2, count(*) AS n_users
        |FROM dc a JOIN dc b ON a.user_id = b.user_id
        |WHERE a.period = 1 AND b.period = 2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // SCD type-2 dimension from the event_type change log: collapse
    // consecutive repeats per user, stamp [valid_from, valid_to) via lead.
    Q("r08_scd2_dimension", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      graft.ops.Timeseries.scd2(ev, "user_id", "event_type", "ts_us", "event_id")
        .select("user_id", "event_type", "valid_from_us", "valid_to_us", "is_current")
        .orderBy("user_id", "valid_from_us")
    }, Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
        |      FROM e),
        |f AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts_us AS valid_from_us,
        |       lead(ts_us) OVER w AS valid_to_us,
        |       lead(ts_us) OVER w IS NULL AS is_current
        |FROM f WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |ORDER BY user_id, valid_from_us""".stripMargin)),

    // ------------------------------------------------------------------
    // SO — set ops (reference workflow.R:78, idat.r:96, dataset.py:123)
    // ------------------------------------------------------------------

    Q("so01_intersect", (s, d) => {
      val br = B(s, d).join(broadcast(SS(s, d)), "sample_id")
      br.filter(col("run") === "run_0").select("probe_id")
        .intersect(br.filter(col("run") === "run_1").select("probe_id"))
        .orderBy("probe_id")
    }, Some(ctes +
      """SELECT b.probe_id FROM beta b JOIN sheet s USING (sample_id) WHERE s.run = 'run_0'
        |INTERSECT
        |SELECT b.probe_id FROM beta b JOIN sheet s USING (sample_id) WHERE s.run = 'run_1'
        |ORDER BY probe_id""".stripMargin)),

    Q("so02_union_distinct", (s, d) => {
      val spark = s
      import spark.implicits._
      val extra = Seq("S901", "S902").toDF("sample_id")
      B(s, d).select("sample_id").union(extra).distinct()
        .agg(count(lit(1)).as("n_ids"), min("sample_id").as("min_id"),
          max("sample_id").as("max_id"))
    }, Some(ctes +
      """SELECT count(*) AS n_ids, min(sample_id) AS min_id, max(sample_id) AS max_id
        |FROM (SELECT sample_id FROM beta UNION SELECT 'S901' UNION SELECT 'S902')""".stripMargin)),

    // ------------------------------------------------------------------
    // F — scalar functions (reference main.py:140-177, pca_analysis.py:25-35,
    // DoBMIQ.R:53, workflow.R:128)
    // ------------------------------------------------------------------

    Q("f01_regex_extract", (s, d) =>
      SS(s, d)
        .withColumn("run_num", regexp_extract(col("run"), "run_(\\d+)", 1).cast("int"))
        .withColumn("skey", regexp_extract(col("sample_id"), "S(\\d+)", 1).cast("bigint"))
        .groupBy("run_num")
        .agg(count(lit(1)).as("n_samples"), sum("skey").as("sum_key"))
        .orderBy("run_num"),
      Some(ctes +
        """SELECT CAST(regexp_extract(run, 'run_(\d+)', 1) AS INT) AS run_num,
          |       count(*) AS n_samples,
          |       CAST(sum(CAST(regexp_extract(sample_id, 'S(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_key
          |FROM sheet GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("f02_regex_replace", (s, d) =>
      B(s, d).select(regexp_replace(col("sample_id"), "^S0*", "").as("sid"))
        .groupBy("sid").agg(count(lit(1)).as("n"))
        .orderBy("sid"),
      Some(ctes +
        """SELECT regexp_replace(sample_id, '^S0*', '') AS sid, count(*) AS n
          |FROM beta GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("f03_concat_keys", (s, d) =>
      Tables.table(s, d, "supplier")
        .select(concat_ws("_", col("s_name"), col("s_nationkey").cast("string")).as("skey"))
        .orderBy("skey").limit(25),
      Some(
        """SELECT s_name || '_' || CAST(s_nationkey AS VARCHAR) AS skey
          |FROM supplier ORDER BY skey LIMIT 25""".stripMargin)),

    Q("f04_string_funcs", (s, d) =>
      Tables.table(s, d, "part")
        .select(lower(split(col("p_type"), " ").getItem(0)).as("type_head"),
          substring(col("p_brand"), -2, 2).as("brand_sfx"),
          col("p_name"))
        .groupBy("type_head", "brand_sfx")
        .agg(count(lit(1)).as("n"),
          sum(when(col("p_name").startsWith("a"), 1L).otherwise(0L)).as("n_a"))
        .orderBy("type_head", "brand_sfx"),
      Some(
        """SELECT lower(split_part(p_type, ' ', 1)) AS type_head,
          |       substr(p_brand, length(p_brand) - 1, 2) AS brand_sfx,
          |       count(*) AS n,
          |       CAST(sum(CASE WHEN p_name LIKE 'a%' THEN 1 ELSE 0 END) AS BIGINT) AS n_a
          |FROM part GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("f09_neglog10", (s, d) =>
      D(s, d).select(col("sample_id"), negLog10(col("pval")).as("nl"))
        .groupBy("sample_id")
        .agg(count(col("nl")).as("n_pos"), round(avg("nl"), 6).as("avg_neglog10"))
        .orderBy("sample_id"),
      Some(ctes +
        """SELECT sample_id, count(nl) AS n_pos, round(avg(nl), 6) AS avg_neglog10
          |FROM (SELECT sample_id, CASE WHEN pval > 0 THEN -log10(pval) END AS nl FROM detp)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("f11_casts_conditional", (s, d) =>
      Tables.table(s, d, "lineitem")
        .select(when(col("l_linenumber") <= 2, "BATCH1").otherwise("BATCH2").as("batch"),
          floor(col("l_quantity")).cast("int").as("qty_int"))
        .withColumn("qty_str", col("qty_int").cast("string"))
        .groupBy("batch", "qty_str")
        .agg(count(lit(1)).as("n"), sum("qty_int").as("sum_qty"))
        .orderBy("batch", "qty_str"),
      Some(
        """SELECT CASE WHEN l_linenumber <= 2 THEN 'BATCH1' ELSE 'BATCH2' END AS batch,
          |       CAST(CAST(floor(l_quantity) AS INT) AS VARCHAR) AS qty_str,
          |       count(*) AS n,
          |       CAST(sum(CAST(floor(l_quantity) AS INT)) AS BIGINT) AS sum_qty
          |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Semi-structured extraction: pull typed fields out of a JSON props
    // column without a full parse-to-struct pass — the Spark side stays a
    // codegen'd get_json_object scan, no UDF.
    Q("f14_json_extract", (s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type"),
      Some(
        """SELECT event_type, count(*) AS n,
          |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // VARIANT tier (Spark 4 native semi-structured type): parse the JSON
    // props ONCE into the binary-encoded VARIANT, then typed path
    // extraction is an offset lookup — repeated extractions don't re-parse
    // the string the way chained get_json_object calls (f14) do, and at
    // storage scale the column shreds to columnar parquet (variant
    // shredding), restoring pushdown/pruning over semi-structured data.
    Q("f15_variant_typed", (s, d) =>
      Tables.events(s, d)
        .withColumn("k", variant_get(parse_json(col("props")), "$.k", "bigint"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .orderBy("k_mod"),
      Some(
        """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
          |       count(*) AS n,
          |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ------------------------------------------------------------------
    // R — reshape / partitioned write (reference main.py:162-167,
    // dataset.py:66-101, S7 sinks)
    // ------------------------------------------------------------------

    Q("r02_partitioned_write", (s, d) => {
      val out = s"${Q.scratch}/r02_partitioned"
      B(s, d).join(broadcast(SS(s, d)), "sample_id")
        .write.mode("overwrite").partitionBy("run").parquet(out)
      s.read.parquet(out)
        .groupBy("run")
        .agg(count(lit(1)).as("n"), round(sum("beta"), 6).as("sum_beta"))
        .orderBy("run")
    }, Some(ctes +
      """SELECT s.run, count(*) AS n, round(sum(b.beta), 6) AS sum_beta
        |FROM beta b JOIN sheet s USING (sample_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // R3 — nested split: two partition keys (reference dataset.py:66-101
    // writes Experiment_{e}/{g}.csv; partitionBy is n-ary).
    Q("r03_partitioned_write_2key", (s, d) => {
      val out = s"${Q.scratch}/r03_partitioned"
      B(s, d).join(broadcast(SS(s, d)), "sample_id")
        .write.mode("overwrite").partitionBy("run", "group").parquet(out)
      s.read.parquet(out)
        .groupBy("run", "group")
        .agg(count(lit(1)).as("n"), round(sum("beta"), 6).as("sum_beta"))
        .orderBy("run", "group")
    }, Some(ctes +
      """SELECT s.run, s."group" AS "group", count(*) AS n, round(sum(b.beta), 6) AS sum_beta
        |FROM beta b JOIN sheet s USING (sample_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("r04_pivot_export", (s, d) => {
      val samples = Seq("S001", "S002", "S003", "S004", "S005", "S006")
      B(s, d).filter(col("sample_id").isin(samples: _*))
        .groupBy("probe_id").pivot("sample_id", samples).agg(round(min("beta"), 6))
        .orderBy("probe_id")
    }, Some(ctes +
      """SELECT probe_id,
        |       round(min(CASE WHEN sample_id = 'S001' THEN beta END), 6) AS "S001",
        |       round(min(CASE WHEN sample_id = 'S002' THEN beta END), 6) AS "S002",
        |       round(min(CASE WHEN sample_id = 'S003' THEN beta END), 6) AS "S003",
        |       round(min(CASE WHEN sample_id = 'S004' THEN beta END), 6) AS "S004",
        |       round(min(CASE WHEN sample_id = 'S005' THEN beta END), 6) AS "S005",
        |       round(min(CASE WHEN sample_id = 'S006' THEN beta END), 6) AS "S006"
        |FROM beta WHERE sample_id IN ('S001','S002','S003','S004','S005','S006')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("r05_melt_unpivot", (s, d) => {
      val p = Tables.table(s, d, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
      Relational.melt(p, Seq("p_partkey"), Seq("p_size", "p_retailprice"), "metric", "value")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("metric")
    }, Some(
      """SELECT metric, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM (SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |      UNION ALL
        |      SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // MERGE/upsert: a deterministic change batch (updates for doc_id%10=0,
    // deletes for doc_id%17=0, inserts above the id range) applied to the
    // documents table in one full-outer join.
    Q("r07_upsert_merge", (s, d) => {
      val base = Tables.table(s, d, "documents")
        .select("doc_id", "lang", "n_chars")
      val updates = base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), lit("U").as("op"), col("lang"),
          (col("n_chars") + 1000).as("n_chars"))
      val deletes = base.filter(col("doc_id") % 17 === 0)
        .select(col("doc_id"), lit("D").as("op"), col("lang"), col("n_chars"))
      val inserts = base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000).as("doc_id"), lit("I").as("op"),
          lit("new").as("lang"), lit(42L).as("n_chars"))
      // deletes win over updates on overlapping keys (doc_id % 170 == 0)
      val changes = deletes.unionByName(
        updates.join(deletes.select("doc_id"), Seq("doc_id"), "left_anti"))
        .unionByName(inserts)
      Relational.upsertMerge(base, changes, "doc_id", "op", Seq("lang", "n_chars"))
        .orderBy("doc_id")
    }, Some(
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |merged AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM base WHERE doc_id % 17 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new', 42 FROM base WHERE doc_id < 5)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
        |FROM merged ORDER BY doc_id""".stripMargin)),

    // JSONL training-export sink: to_json(struct(...)) → text files →
    // re-read. The oracle reconstructs Spark's compact JSON encoding
    // byte-for-byte, so the round-trip (serialize, write, read) is
    // value-checked, not just counted.
    Q("r06_jsonl_export", (s, d) => {
      val out = s"${Q.scratch}/r06_jsonl"
      Tables.table(s, d, "documents")
        .select(to_json(struct(col("doc_id"), col("lang"), col("source"),
          col("n_chars"))).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out).orderBy("value")
    }, Some(
      """SELECT '{"doc_id":' || doc_id || ',"lang":"' || lang ||
        |       '","source":"' || source || '","n_chars":' || n_chars || '}' AS value
        |FROM documents ORDER BY 1""".stripMargin)),

    // Incremental view maintenance — the 100 TB daily-update shape: the
    // standing per-type stats view is NOT recomputed over the full history
    // when a new time slice lands; the base aggregate (bounded mergeable
    // state: n / Σ / Σ² / min / max as exact integers) MERGES with the
    // delta slice's aggregate. The oracle recomputes from the full table
    // in one pass — merge ≡ recompute is exact because the states are
    // integer moments (no fp-order dependence), which is precisely the
    // property that makes the state mergeable at any fan-in. Slice
    // boundary = last exact-integer time quarter (the c16 fold rule).
    Q("a35_incremental_agg", (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        unix_micros(col("ts")).as("t"),
        round(col("value") * 100).cast("bigint").as("c"))
      val rng = ev.agg(min("t").as("tmin"), max("t").as("tmax"))
      val q = ev.crossJoin(broadcast(rng))
        .withColumn("quarter", expr("((t - tmin) * 4) div (tmax - tmin + 1)"))
      def agg(df: org.apache.spark.sql.DataFrame) = df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("s"),
          sum(col("c") * col("c")).as("ss"), min("c").as("mn"), max("c").as("mx"))
      val base = agg(q.filter(col("quarter") < 3))
      val delta = agg(q.filter(col("quarter") >= 3))
      def z(c: org.apache.spark.sql.Column) = coalesce(c, lit(0L))
      base.as("b").join(delta.as("dl"), Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (z(col("b.n")) + z(col("dl.n"))).as("n"),
          (z(col("b.s")) + z(col("dl.s"))).as("sum_cents"),
          (z(col("b.ss")) + z(col("dl.ss"))).as("ss_cents"),
          least(col("b.mn"), col("dl.mn")).as("min_cents"),
          greatest(col("b.mx"), col("dl.mx")).as("max_cents"))
        .orderBy("event_type")
    }, Some(
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS t,
        |         CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |       CAST(sum(c) AS BIGINT) AS sum_cents,
        |       CAST(sum(c * c) AS BIGINT) AS ss_cents,
        |       min(c) AS min_cents, max(c) AS max_cents
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Population-stability-index drift audit (the standard ML-ops check
    // that a serving-time feature distribution still matches training):
    // the event-value feature, reference = first time half, comparison =
    // second (exact integer midpoint split, the c16 pattern); 10 equal-
    // width integer bins from the REFERENCE min/max (broadcast 1-row
    // range); Laplace-smoothed shares p = (n+1)/(N+10) guard empty bins;
    // PSI = Σ (p_c − p_r)·ln(p_c/p_r) as a DETERMINISTIC ordered running
    // sum (the a31 pattern). Two aggregates + a 10-row window — nothing
    // data-sized is ever sorted.
    // A37 — Cohen's kappa between two label sources (the agreement audit
    // behind every weak-supervision pipeline: raw accuracy overstates
    // agreement when both labelers mostly say "pass"; kappa removes the
    // chance floor). Labelers: the Gopher rule-bundle verdict vs the
    // heuristic-score ≥ 0.5 gate, both row-local exact predicates on the
    // same corpus. ONE hash aggregate → a 1-row confusion table → kappa
    // from exact integer counts. Fully oracle-checked.
    Q("a37_cohens_kappa", (s, d) => {
      import graft.llm.TextAnalysis
      val f = Tables.table(s, d, "documents").select(
        TextAnalysis.gopherPass(col("text")).as("la"),
        (TextAnalysis.qualityScore(col("text")) >= 0.5).as("lb"))
      val m = f.agg(
        sum(when(col("la") && col("lb"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("la") && !col("lb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("la") && col("lb"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("la") && !col("lb"), 1L).otherwise(0L)).as("n00"))
      val n = d2("n11") + d2("n10") + d2("n01") + d2("n00")
      val po = (d2("n11") + d2("n00")) / n
      val pe = ((d2("n11") + d2("n10")) / n) * ((d2("n11") + d2("n01")) / n) +
        ((d2("n01") + d2("n00")) / n) * ((d2("n10") + d2("n00")) / n)
      m.select(col("n11"), col("n10"), col("n01"), col("n00"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
    }, Some(
      """WITH ck_f AS (SELECT
        |  (len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) BETWEEN 30 AND 100000
        |   AND length(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
        |       BETWEEN len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) * 3
        |           AND len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) * 10
        |   AND len(regexp_extract_all(text, '#|…|\.\.\.', 0)) * 10
        |       <= len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))
        |   AND len(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                       w -> regexp_matches(w, '[a-z]'))) * 5
        |       >= len(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) * 4
        |   AND len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) >= 2) AS la,
        |  (least(len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in)\b', 0)) /
        |     CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1) AS DOUBLE) * 2.0, 1.0) * 0.4 +
        |   (CASE WHEN length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) /
        |       CAST(greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0)), 1) AS DOUBLE)
        |       BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END) +
        |   least(length(text) / 500.0, 1.0) * 0.3 >= 0.5) AS lb
        |FROM documents),
        |ck_m AS (
        |  SELECT CAST(sum(CASE WHEN la AND lb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |         CAST(sum(CASE WHEN la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |         CAST(sum(CASE WHEN NOT la AND lb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |         CAST(sum(CASE WHEN NOT la AND NOT lb THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |  FROM ck_f)
        |SELECT n11, n10, n01, n00,
        |  round(CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE), 6) AS po,
        |  round((CAST(n11 + n10 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |          * (CAST(n11 + n01 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |        + (CAST(n01 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |          * (CAST(n10 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE)), 6) AS pe,
        |  round(((CAST(n11 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |         - ((CAST(n11 + n10 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |             * (CAST(n11 + n01 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |            + (CAST(n01 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |              * (CAST(n10 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))))
        |        / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |                   * (CAST(n11 + n01 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |                  + (CAST(n01 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE))
        |                    * (CAST(n10 + n00 AS DOUBLE) / CAST(n11 + n10 + n01 + n00 AS DOUBLE)))), 6) AS kappa
        |FROM ck_m""".stripMargin)),

    Q("a36_psi_drift", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(
        unix_micros(col("ts")).as("t"),
        round(col("value") * 100).cast("bigint").as("c"))
      val rng = ev.agg(min("t").as("tmin"), max("t").as("tmax"))
      val half = ev.crossJoin(broadcast(rng))
        .withColumn("is_ref", expr("((t - tmin) * 2) div (tmax - tmin + 1)") === 0)
      val refRng = half.filter(col("is_ref"))
        .agg(min("c").as("cmin"), max("c").as("cmax"))
      val binned = half.crossJoin(broadcast(refRng))
        .withColumn("bin",
          least(greatest(expr("((c - cmin) * 10) div (cmax - cmin + 1)"), lit(0L)), lit(9L)))
        .groupBy("bin")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cmp"))
      val tot = binned.agg(sum("n_ref").as("tr"), sum("n_cmp").as("tc"))
      val wRun = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      binned.crossJoin(broadcast(tot))
        .withColumn("p_ref", (col("n_ref").cast("double") + 1.0)
          / (col("tr").cast("double") + 10.0))
        .withColumn("p_cmp", (col("n_cmp").cast("double") + 1.0)
          / (col("tc").cast("double") + 10.0))
        .withColumn("contrib",
          (col("p_cmp") - col("p_ref")) * log(col("p_cmp") / col("p_ref")))
        .withColumn("psi_running", sum("contrib").over(wRun))
        .select(col("bin"), col("n_ref"), col("n_cmp"),
          round(col("p_ref"), 6).as("p_ref"), round(col("p_cmp"), 6).as("p_cmp"),
          round(col("contrib"), 6).as("contrib"),
          round(col("psi_running"), 6).as("psi_running"))
        .orderBy("bin")
    }, Some(
      """WITH ps_e AS (
        |  SELECT epoch_us(ts) AS t, CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |ps_r AS (SELECT min(t) AS tmin, max(t) AS tmax FROM ps_e),
        |ps_h AS (
        |  SELECT c, ((t - tmin) * 2) // (tmax - tmin + 1) = 0 AS is_ref
        |  FROM ps_e CROSS JOIN ps_r),
        |ps_cr AS (SELECT min(c) AS cmin, max(c) AS cmax FROM ps_h WHERE is_ref),
        |ps_b AS (
        |  SELECT least(greatest(((c - cmin) * 10) // (cmax - cmin + 1), 0), 9) AS bin,
        |         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |         CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_cmp
        |  FROM ps_h CROSS JOIN ps_cr GROUP BY 1),
        |ps_t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |                CAST(sum(n_cmp) AS BIGINT) AS tc FROM ps_b),
        |ps_p AS (
        |  SELECT bin, n_ref, n_cmp,
        |         (CAST(n_ref AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 10.0) AS p_ref,
        |         (CAST(n_cmp AS DOUBLE) + 1.0) / (CAST(tc AS DOUBLE) + 10.0) AS p_cmp
        |  FROM ps_b CROSS JOIN ps_t),
        |ps_c AS (
        |  SELECT *, (p_cmp - p_ref) * ln(p_cmp / p_ref) AS contrib FROM ps_p)
        |SELECT bin, n_ref, n_cmp, round(p_ref, 6) AS p_ref,
        |       round(p_cmp, 6) AS p_cmp, round(contrib, 6) AS contrib,
        |       round(sum(contrib) OVER (ORDER BY bin
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS psi_running
        |FROM ps_c ORDER BY 1""".stripMargin))
  )
}
