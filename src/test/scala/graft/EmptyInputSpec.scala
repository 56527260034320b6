package graft

/** Zero-row robustness: every sampled query must run on an EMPTY
  * corpus and return a schema-correct empty result — no
  * head-of-empty crashes, no null-seeded aggregates, no divide-
  * by-count errors. At scale this is the "partition pruned
  * everything away" / "first run of an incremental pipeline" path,
  * which production hits constantly and fixtures never do. */
class EmptyInputSpec extends SparkTestBase {

  /** sf0.001 schemas with zero rows, written RAW (no ts conversion) so
    * Tables.load applies its normal nanos handling on read-back. */
  private lazy val emptyDir: String = {
    val dir = tempDir("graft_empty_sf").toString
    graft.core.Tables.names.foreach { n =>
      spark.read.parquet(s"$sf/$n.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  private val sample = Seq(
    "q1_agg", "join_inner_star", "win_rank", "win_rolling_zscore",
    "events_sessionize", "llm_exact_dedup", "llm_minhash_sigs",
    "llm_inverted_index", "setop_union_all", "join_asof_nearest",
    "llm_substring_runs", "llm_substring_dedup", "llm_substring_exact",
    "mm_decode_png",
    // round-9 widening (llm_zipf excluded: a global aggregate returns
    // its one all-null row on empty input, on both engines)
    "join_cross", "win_ewma", "graph_pagerank", "llm_edit_distance",
    // (agg_chi2 excluded for the same global-aggregate reason)
    "agg_ttest_welch", "join_asof_tolerance",
    // round-9 batches 4-6 (the global-aggregate shapes — theil_sen,
    // anova, levene, gumbel, runs_test, assortativity — are excluded
    // per the same one-null-row rule)
    "win_cusum", "win_kalman", "text_readability", "text_sentiment",
    "win_rsi", "win_bollinger", "win_drawdown", "llm_bpe_pairs",
    "agg_market_basket", "graph_degree_dist", "agg_benford",
    "events_interarrival", "llm_ann_ndcg", "llm_rank_fusion",
    // round-9 batches 7-9 (grouped shapes only; the global-aggregate
    // censuses — jarque_bera, levene, runs_test, and graph_clustering's
    // whole-graph summary row — return their one all-null row on empty
    // input by SQL semantics, so they stay out; etl_stock_* read the
    // golden CSV, not the fixture dir)
    "events_burstiness", "agg_seasonality", "win_sharpe",
    // round-10: rule census projection, LPA fixpoint over an empty
    // edge set, per-lang terciles, perceptual hashes over zero blobs,
    // and the Z-order rewrite (its max()-funded scale factors must
    // coalesce, not NPE, when the table prunes to nothing)
    "text_gopher_rules", "graph_label_prop", "llm_ccnet_buckets",
    "mm_phash", "mm_phash_neardup", "scan_zorder_scaled",
    // round-10 session 2 (agg_heaps_law excluded per the
    // global-aggregate one-null-row rule; the bootstrap's CI cross
    // joins collapse its one-row estimate to zero rows on empty)
    "graph_kcore", "graph_hits", "graph_closeness", "text_ttr",
    "llm_lang_temperature", "agg_kaplan_meier", "agg_poisson_bootstrap",
    "mm_vad_segments", "win_garch",
    // round-10 session 4 (agg_cointegration and agg_pacf excluded per
    // the global-aggregate one-null-row rule; scan_metadata_cols
    // exercises the zero-data-file partitioned read-back via its
    // explicit schema)
    "win_rolling_beta", "agg_vol_estimators", "agg_ljung_box",
    "llm_bpe_train", "llm_dp_histogram", "graph_adamic_adar",
    "sql_pipe_syntax", "scan_metadata_cols",
    // batch B: the two global-aggregate censuses (hill, tau) carry
    // HAVING count(*) > 0 guards precisely so this path is 0-row
    "win_frac_diff", "agg_hill_tail", "agg_kendall_tau",
    "llm_bpe_apply", "agg_mutual_info", "stream_tws_topk",
    // batch C
    "agg_nelson_aalen", "win_ulcer_index", "text_burrows_delta",
    "llm_rouge_decontam", "sql_named_params", "mm_scene_cuts",
    // batch D
    "agg_pca_power", "graph_random_walk", "win_donchian", "text_rake",
    "etl_cdc_apply",
    // batch E
    "win_ichimoku", "agg_var_es", "llm_cooccurrence", "agg_binseg_split",
    "stream_tws_typecounts",
    // batch F
    "agg_mann_kendall", "etl_freshness_sla", "llm_hard_negatives",
    // batch G
    "llm_span_corruption", "agg_hhi", "win_pivot_points",
    // batch H (agg_effect_size's global-aggregate pivot carries a
    // HAVING count(*) = 2 guard, so it is zero-row-safe)
    "text_novelty", "mm_patchify", "sql_execute_immediate",
    "agg_effect_size", "stream_timer_sessions",
    // batch I (agg_two_proportion carries the HAVING count(*) = 2
    // guard like agg_effect_size)
    "llm_langid_eval", "etl_bitemporal", "agg_two_proportion",
    // batch J (agg_randomization_test's rstat carries a HAVING guard
    // and obs collapses through the GROUP BY on empty input)
    "win_heikin_ashi", "graph_hitting_prob", "agg_randomization_test",
    // WHERE p.n > 0 keeps the Chow census off the one-null-row path
    "agg_chow_test",
    // round 11 (the global-aggregate shapes — scan_csv_permissive,
    // mm_pixel_dedup, agg_power_law, etl_dq_expectations,
    // scan_time_travel — return their guard/zero rows rather than
    // none, so they stay out per the one-null-row rule; agg_huber_mean
    // short-circuits to a schema-correct empty frame when no groups
    // exist and is exactly the path this suite pins)
    "sql_merge_into", "sql_update", "sql_delete", "scan_csv_multiline",
    "text_entropy", "agg_tukey", "llm_curriculum_order",
    "llm_tokenizer_fertility", "graph_modularity", "agg_winsorized_mean",
    "etl_late_arriving_dim", "llm_cross_source_overlap",
    "llm_contrastive_pairs", "llm_dedup_threshold_sweep",
    "stream_merge_upsert", "agg_huber_mean", "win_hmm_filter",
    "graph_betweenness", "win_haar", "win_stl_decompose",
    "win_stl_anomaly", "llm_data_mixture_epochs",
    // round-11 session 3: grouped/per-row shapes only — per-user
    // indicator windows and folds, grouped scoring/stat censuses,
    // the typed mapGroups path, top-k cuts over empty corpora, and
    // the DFT coefficient census. The single-row global aggregates
    // (newey_west, kruskal, g_test, odds, fisher, granger, bass,
    // logrank, jsd, periodogram, probit_qq, anderson_darling,
    // weibull, reciprocity, srm, cuped, power, energy, conformal,
    // markov_entropy, pairs_spread) stay out per the one-null-row
    // rule; etl_stock_* read the golden CSV, not the fixture dir.
    "win_aroon", "win_williams_r", "win_mfi", "win_trix",
    "win_holt_winters", "agg_dunn_posthoc", "events_decay_score",
    "typed_user_stats", "stat_crosstab", "mm_dft_energy",
    "llm_embed_outlier", "agg_mahalanobis", "agg_cpk", "sql_pivot",
    "sql_unpivot", "agg_isotonic")

  test("sampled queries return schema-correct empty results on empty tables") {
    sample.foreach { name =>
      val out = SparkEntry.queries(name)(spark, emptyDir)
      val expected = SparkEntry.queries(name)(spark, sf).schema.map(_.name)
      assert(out.schema.map(_.name) == expected,
        s"$name: schema drifted on empty input")
      assert(out.count() == 0L, s"$name: expected 0 rows on empty input")
    }
  }
}
