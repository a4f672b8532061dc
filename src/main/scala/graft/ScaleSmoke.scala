package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Developer tool: replicate the sf0.1 testdata N× with per-replica key
  * offsets (so the derived long model actually grows N× — probes, samples
  * and documents all multiply, not just raw rows) and time headline
  * queries at 1× vs N×. Evidence for the scale-up claims in PERF.md.
  * Usage: runMain graft.ScaleSmoke [reps] [srcDir]
  */
object ScaleSmoke {

  def main(args: Array[String]): Unit = {
    val reuse = args.contains("--reuse")
    // --only=<substr>[,<substr>…] filters the timed query list (replica
    // build unaffected) — for re-measuring one query after a perf change.
    val only = args.collectFirst { case a if a.startsWith("--only=") =>
      a.stripPrefix("--only=").split(',').toSeq }
    val rest = args.filterNot(a =>
      a == "--reuse" || a == "--warm" || a.startsWith("--only="))
    val reps = if (rest.nonEmpty) rest(0).toInt else 8
    val src = if (rest.length > 1) rest(1) else "/root/testdata/sf0.1"
    val out = s"${Q.scratch}/scale$reps"
    val spark = Sessions.local(Sessions.envCpus(32))

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      if (!reuse) {
        val base = Tables.table(spark, src, name)
        (0 until reps).map(i => f(base, i)).reduce(_.unionByName(_))
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
    val pOff = 1000000L
    val sOff = 100000L
    val oOff = 10000000L
    replicate("lineitem")((df, i) => df
      .withColumn("l_orderkey", col("l_orderkey") + i * oOff)
      .withColumn("l_partkey", col("l_partkey") + i * pOff)
      .withColumn("l_suppkey", col("l_suppkey") + i * sOff))
    replicate("supplier")((df, i) => df.withColumn("s_suppkey", col("s_suppkey") + i * sOff))
    replicate("part")((df, i) => df.withColumn("p_partkey", col("p_partkey") + i * pOff))
    replicate("orders")((df, i) => df.withColumn("o_orderkey", col("o_orderkey") + i * oOff))
    replicate("documents")((df, i) => df
      .withColumn("doc_id", col("doc_id") + i * oOff)
      .withColumn("text", concat(col("text"), lit(s" replica token r$i"))))
    replicate("embeddings")((df, i) => df
      .withColumn("vec_id", col("vec_id") + i * oOff)
      .withColumn("embedding",
        transform(col("embedding"), (x, idx) =>
          when(idx === 0, x + lit(i * 0.001)).otherwise(x))
          .cast("array<float>")))
    if (!reuse) {
      Seq("region", "nation", "customer").foreach { n =>
        Tables.table(spark, src, n).write.mode("overwrite").parquet(s"$out/$n.parquet")
      }
      // Events replicate with user/event offsets (users multiply, the time
      // axis stays fixed — the realistic growth direction for an event log).
      val ev = Tables.events(spark, src)
      (0 until reps).map(i => ev
        .withColumn("event_id", col("event_id") + i * oOff)
        .withColumn("user_id", col("user_id") + i * sOff))
        .reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
    }
    println(s"[scale] built ${reps}x replica at $out")

    val queries = Seq("w01_topk_variance", "p09_qc_sample_filter", "j01_outer_merge_runs",
      "k03_dmp_pass1", "k03_dmp_multicontrast_moderated", "w03_bh_adjust",
      "d02_ngram_jaccard", "d03_minhash_lsh", "d04_simhash",
      "d05_embedding_neardup", "n01_ann_cosine_topk", "d01_dedup_exact", "t03_token_count",
      "c05_sequence_packing", "t06_repetition",
      "j09_asof_join", "j10_range_join_binned", "w04_rolling_avg", "w07_gap_fill",
      "b02_bloom_prune_join", "n04_embedding_centroid", "t07_pii_redact",
      "t08_unigram_logprob", "c09_chunk_documents", "r07_upsert_merge",
      "n05_vector_quantize", "w08_sessionize", "r08_scd2_dimension",
      "c10_importance_weights", "c23_dsir_hashed",
      "t10_quality_classifier", "t11_compression_ratio",
      "w09_funnel", "w10_retention_cohorts", "a15_zscore_normalize",
      "t12_bigram_logprob", "j11_fuzzy_join", "r09_compact_files",
      "t13_sketch_watchlist", "d10_jaccard_df_pruned", "d13_substring_remove",
      "d15_winnowing", "d16_winnow_matches",
      "a16_approx_quantile",
      "a17_expectations", "a19_topk_per_group_agg", "a20_hll_union",
      "r11_zorder_layout", "t15_sketch_merge", "t14_bpe_encode",
      "k07_quantile_normalize", "a21_cube", "a22_group_regression",
      "a23_chisq_independence", "a24_corr_matrix", "w11_mad_outliers",
      "t16_lang_entropy", "d12_semantic_dedup", "e05_attribution_join",
      "j12_range_join_auto", "k08_sample_distance_matrix",
      "k09_probe_covariance", "s08_schema_evolution", "a25_chisq_inference",
      "k10_ranksum_dmp", "k11_ks_dmp", "t17_html_extract", "t18_url_normalize",
      "b03_partition_pruned_join", "k12_spearman_corr",
      // r8: the thresholded variant must grow sub-quadratically where
      // k12's samples² output is quadratic by contract — the sweep pair
      // is the direct evidence (τ only changes the final filter, not the
      // candidate-bounded plan cost)
      "k12_spearman_thresholded", "e06_web_pipeline",
      "k13_anova_f", "k14_dmr_regions", "k05_combat_betas", "k01_pca_allcpg",
      "t19_gopher_rules", "t20_c4_line_dedup", "c13_temperature_mixture",
      "k15_clock_predictor", "k16_cell_deconvolution",
      "k17_welch_dmp", "t21_bm25", "g03_triangle_count",
      "a26_decay_features", "a27_skew_profile", "c14_domain_cap",
      "k18_brown_forsythe", "e08_ingest_pipeline", "t22_nfc_normalize",
      "a28_table_profile", "k19_fisher_combined",
      "k20_kruskal_wallis", "k21_jarque_bera", "a29_mutual_information",
      "a30_acf", "a31_benford", "a32_partial_corr", "w12_changepoint",
      "w13_decile_transition", "g04_shortest_paths", "c15_k_anonymity",
      "c16_time_folds", "r12_snapshot_diff", "t23_zipf_slope",
      "a33_join_cardinality",
      "a34_gini", "w14_forecast_error", "j14_interval_overlap",
      "k22_mann_kendall", "t24_heaps_law",
      // k24_hclust_dendrogram is absent for the same reason k02_mds_coords
      // is: its growth axis is samples² collected to the driver — samples
      // is the bounded axis by design (135 in the reference; replication
      // multiplies samples, violating the operator's contract). 1x covers
      // it: 5.4 s at 1000 samples.
      "s10_xlsx_partitioned", "k23_group_ellipse",
      "k25_bmiq_fit_density", "c17_entity_resolution", "c18_fuzzy_scores",
      "a35_incremental_agg",
      // S5/K7 reclamation + survival/seasonal/pairs tier
      "s05_idat_roundtrip", "k26_poobah_detp", "e09_idat_lifecycle",
      "k27_chisq_independence", "k28_kaplan_meier", "k28_logrank",
      "w15_seasonal_decompose", "c19_negative_sampling",
      "c20_preference_pairs", "j15_asof_ttl", "s12_zip_members",
      "a36_psi_drift", "e10_drift_monitor",
      // exact-inference tier (k29 margins / k30 B reps are sample-bounded:
      // the replicated axis is probes, so these must stay flat-ish)
      "k29_fisher_exact", "k30_permutation_dmp", "k31_effect_sizes",
      "k32_cmh_test", "k33_theil_sen",
      "t25_calibration_ece", "t26_isotonic_calibration",
      "k34_conformal_clock", "k35_cox_ph", "k36_cumulative_incidence",
      "w18_seasonal_outliers", "e11_watchlist_monitor",
      "n08_hybrid_rrf", "a37_cohens_kappa", "k37_dunn_posthoc",
      "k38_random_effects", "k39_icc", "k40_tost_equivalence",
      "k41_bootstrap_ci",
      "s13_warc_roundtrip", "e12_neardup_monitor",
      "k42_probe_ols", "k44_robust_se", "c21_token_budget",
      "n09_ann_eval", "e13_attribution_outer", "a38_grouping_sets",
      // r7: the two whole-pipeline lifecycles join the sweep for the 64×
      // stretch runs (their stages are all individually swept above; the
      // composite numbers anchor the e2e claims)
      "e02_full_workflow", "e04_curation_pipeline")
    val timed = only match {
      case Some(subs) => queries.filter(q => subs.exists(q.contains))
      case None => queries
    }
    // --warm: time each query twice, report the second run. Single-shot
    // cold timings attribute the shared derived-view builds (Tables views
    // per dir) to whichever filtered query touches them first — fine for
    // the full sweep where builds amortize over ~150 queries, but a
    // 10-query --only subset concentrates them (a 2.5 s query reads 52 s).
    // The second run matches the bench's median-of-3 semantic: kernel
    // caches released (releaseAll between runs), Tables views warm.
    val warm = args.contains("--warm")
    Seq("1x" -> src, s"${reps}x" -> out).foreach { case (tag, dir) =>
      timed.foreach { qn =>
        def once(): (Double, Long) = {
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(qn)(spark, dir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          graft.ops.Caches.releaseAll()
          (secs, n)
        }
        val (secs, n) = if (warm) { once(); once() } else once()
        println(f"[scale] $tag%4s $qn%-24s ${secs}%8.2f s  rows=$n")
      }
    }

    // Production dedup-clustering shape at Nx: edges from the BANDED
    // MinHash candidates (bounded by true near-dups), components over them
    // — the oracle query c01 instead uses exact-Jaccard edges, which
    // inherit d02's deliberate quadratic-on-duplication behavior.
    // `--only=cclsh` / `--only=bh10m` / `--only=holm` / `--only=d13mat`
    // reach their direct drives below without the full sweep; each drive
    // block checks its OWN tag (a Holm re-measure must not pay the 64×
    // d13 DAG and vice versa). With no --only, every drive runs.
    def drive(tag: String): Boolean = only.forall(_.contains(tag))
    val driveAny = Seq("cclsh", "bh10m", "holm", "d13mat").exists(drive)
    if (!driveAny) { spark.stop(); return }
    if (drive("cclsh")) {
      val t0 = System.nanoTime()
      val docs8 = Tables.table(spark, out, "documents")
      val edges = graft.llm.Dedup.minhashNearDups(docs8)
      val n = graft.ops.Graph.connectedComponents(edges, docs8.select("doc_id"))
        .groupBy("cluster").count().filter(col("count") > 1).count()
      println(f"[scale] cc-over-lsh ${reps}x ${(System.nanoTime() - t0) / 1e9}%8.2f s  multi-doc clusters=$n")
      graft.ops.Caches.releaseAll()
    }

    // Direct drive of both sides of the shared prefix scan's size gate:
    // 10M synthetic p-values through BH and Holm on one range partition
    // (the whole sort in ONE task) and on spark.sql.shuffle.partitions.
    // Each pair must print the same checksum: an exact decimal sum, so
    // the two sides' different row orders cannot move it.
    lazy val big = spark.range(10000000L).select(
      format_string("k%09d", col("id")).as("id"),
      (pmod(hash(col("id")), lit(1000000)).cast("double") / 1000000.0).as("p"))
    Seq(("bh10m", "bh-10M", graft.ops.Analytic.bhScan("p", "id")),
        ("holm", "holm-10M", graft.ops.Analytic.holmScan("p", "id")))
      .filter(t => drive(t._1)).foreach { case (_, name, scan) =>
        val out = scan.out.head.name
        Seq("1-part" -> 1, "n-part" -> 0).foreach { case (tag, parts) =>
          val t0 = System.nanoTime()
          val chk = graft.ops.RangedScan.ranged(big, scan, parts).agg(sum(col(out).cast("decimal(38,18)"))).head().getDecimal(0)
          println(f"[scale] $name $tag%-9s ${(System.nanoTime() - t0) / 1e9}%8.2f s  sum=$chk")
          graft.ops.Caches.releaseAll()
        }
      }
    // Direct MATERIALIZED drive of d13's span removal: a bare count() of
    // the per-doc profile legally lets Catalyst eliminate the final left
    // join (unique join key, no referenced columns), so the sweep row
    // above under-measures by ~200× at 64×. Summing the output columns —
    // including a function of the reassembled text — forces the full DAG.
    // The Nx replica is d13's adversarial case: every doc gains N−1
    // near-copies, so duplicated-span mass ≈ the whole corpus.
    if (drive("d13mat"))
    Seq("1x" -> src, s"${reps}x" -> out).foreach { case (tag, dir) =>
      val t0 = System.nanoTime()
      val prof = graft.llm.Dedup.removeDuplicateSpans(
        Tables.table(spark, dir, "documents").select("doc_id", "text"), n = 10)
      val r = prof.agg(sum("n_removed"), sum("n_kept"),
        max(length(col("text")))).head()
      println(f"[scale] d13-materialized $tag%4s ${(System.nanoTime() - t0) / 1e9}%8.2f s  removed=${r.getLong(0)} kept=${r.getLong(1)}")
      graft.ops.Caches.releaseAll()
    }
    spark.stop()
  }
}
