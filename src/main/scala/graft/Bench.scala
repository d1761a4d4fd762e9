package graft
import java.nio.file.{Files, Paths}

/** Driver-run benchmark: times every declared query at
  * `SPARK_GRAFT_SF_DIR`, prints ONE compact JSON line and also writes it
  * to `bench_out.json` so a truncated/interleaved stdout capture cannot
  * lose the round's bench signal (round 1: sbt's `[success]` trailer plus
  * a tail-capture cut the line mid-string → `parsed:null`).
  *
  * The driver's stdout capture is a 2000-char tail ring buffer
  * (BENCH_r02.json: `tail` length exactly 2000, valid JSON line of 2339
  * chars → `parsed:null` again). The stdout line therefore uses
  * DETERMINISTICALLY ABBREVIATED query names (legend: BASELINE.md §bench
  * name legend; the table is `overrides` below) and COMPACT 1dp values
  * (3 chars for the typical sub-10 s query), keeping the full line
  * < 1992 chars at 219+ queries. `bench_out.json` keeps FULL names at
  * 1 ms precision — that file is the canonical per-query record and is
  * committed each round. */
object Bench {

  /** Family prefixes, longest-match-first. Applied after stripping `q_`. */
  private val famMap = Seq(
    "multimodal_" -> "mm_", "stream_" -> "st_", "string_" -> "str_",
    "stateful_" -> "stf_", "stats_" -> "sta_", "window_" -> "w_",
    "dedup_" -> "d_", "text_" -> "t_", "join_" -> "j_", "agg_" -> "a_",
    "sql_" -> "s_", "skew_" -> "sk_", "sample_" -> "smp_",
    "template_" -> "tpl_", "percentile_" -> "pct_", "median_" -> "med_",
    "regex_" -> "rx_", "simsearch_" -> "sim_", "conditional_" -> "cond_",
    "condition_" -> "cond_", "scan_" -> "sc_")

  /** Suffix/infix contractions; first match per pair, all pairs applied. */
  private val sufMap = Seq(
    "_funcs" -> "_f", "session_dynamic" -> "sessdyn", "session" -> "sess",
    "broadcast" -> "bcast", "_exact" -> "_x", "analytic" -> "anl",
    "first_last" -> "fl", "fingerprint" -> "fprint",
    "tokencount" -> "tokcnt", "tokenize" -> "tk", "repetition" -> "rep",
    "stratified" -> "strat", "grouping_sets" -> "gsets",
    "scalar_subquery" -> "scalsub", "in_subquery" -> "insub",
    "exists_subquery" -> "existsub", "pii_redact" -> "pii",
    "_predicate" -> "", "approx_distinct" -> "apxdist",
    "distinct" -> "dist", "neighbors" -> "nbrs", "shuffle" -> "shuf",
    "quality" -> "qual", "salted_" -> "", "set_unset_lookup" -> "setlkp",
    "topk_per_group" -> "topkgrp", "explode_outer" -> "explout",
    "docfreq" -> "df", "minmax_by" -> "minmax", "moments" -> "mo",
    "pipeline" -> "pipe", "features" -> "feat", "headers" -> "hdrs",
    "sessionize" -> "sessz", "bigrams" -> "bigr", "block" -> "blk",
    "weighted" -> "wtd", "sequences" -> "seqs", "outer_join" -> "oj",
    "histogram" -> "hs", "containment" -> "contain",
    "tumbling" -> "tumbl", "decontaminate" -> "decontam",
    "clusters" -> "clus",
    "explode" -> "expl", "gopher" -> "go", "extract" -> "extr",
    "project" -> "proj", "sliding" -> "slide")

  /** Explicit short names for the longest entries — consulted before the
    * generic famMap/sufMap rules. Keeps the worst-case stdout line inside
    * the driver's tail buffer as the query count grows (legend:
    * BASELINE.md §bench name legend). */
  private val overrides = Map(
    // round-13 additions
    "q_ann_hamming_panel" -> "hb", "q_stats_page_trend" -> "pj",
    "q_source_jsd" -> "js", "q_multimodal_midi" -> "m3",
    "q_text_mattr" -> "mt", "q_stats_cohens_kappa" -> "kp",
    "q_stats_prop_test" -> "zt", "q_ts_control_chart" -> "cc2",
    "q_ann_hamming_multiprobe" -> "mp",
    // round-12 additions
    "q_sketch_quantile" -> "qn", "q_sketch_quantile_merge" -> "qm",
    "q_stats_bartlett" -> "bb", "q_ts_sample_entropy" -> "se2",
    "q_multimodal_webm" -> "wv", "q_ann_hamming" -> "hm",
    "q_ts_hurst" -> "hz", "q_stats_dunn" -> "du",
    "q_ts_granger" -> "gc", "q_stats_ks_uniform" -> "ku",
    "q_dedup_cluster_purity" -> "cp",
    // round-11 additions (2-char codes keep the stdout line in budget)
    "q_stats_randomization" -> "rz", "q_stats_f_test" -> "fv",
    "q_ts_adf" -> "uq", "q_ts_spectral_entropy" -> "sy",
    "q_sketch_ams" -> "az", "q_graph_closeness" -> "hc",
    "q_tokenizer_fertility" -> "fy", "q_multimodal_gzip" -> "gz",
    "q_multimodal_parquet" -> "pz", "q_dedup_lsh_tune" -> "lu",
    "q_stateful_sessionize" -> "sf", "q_date_arith" -> "da",
    "q_embed_norm" -> "en", "q_setops_all" -> "st",
    "q_sort_limit" -> "sl", "q_split_hash" -> "sp",
    "q_sql_exists_subquery" -> "sx",
    "q_stream_session_dynamic" -> "sd",
    "q_agg_approx_distinct" -> "ap", "q_agg_collect" -> "al",
    "q_dedup_containment" -> "dc", "q_dedup_minhash" -> "dm",
    "q_dedup_simhash" -> "ds", "q_intersect" -> "is",
    "q_pack_sequences" -> "pk", "q_quality_gopher" -> "go",
    "q_sample_stratified" -> "sm", "q_scan_pruned" -> "sr",
    "q_sql_scalar_subquery" -> "ss", "q_udf_scala" -> "uf",
    "q_udtf_explode" -> "ud", "q_url_parse" -> "ur",
    "q_agg_having" -> "ah", "q_agg_minmax_by" -> "am",
    "q_agg_rollup" -> "ar", "q_ann_neighbors" -> "an",
    "q_array_funcs" -> "af", "q_array_funcs2" -> "a2",
    "q_condition_block" -> "cb", "q_conditional_agg" -> "cg",
    "q_decontaminate" -> "dn", "q_dedup_clusters" -> "dl",
    "q_dedup_spans" -> "dp", "q_sql_grouping_sets" -> "sg",
    "q_join_broadcast" -> "jc", "q_multimodal_features" -> "mf",
    "q_multimodal_headers" -> "mh", "q_multimodal_join" -> "mm",
    "q_text_fingerprint" -> "tf", "q_text_tokencount" -> "tc",
    "q_stats_histogram" -> "hs", "q_stream_tumbling" -> "su",
    "q_stream_sliding" -> "s0", "q_filter_predicate" -> "fl",
    "q_percentile_exact" -> "px", "q_explode_outer" -> "eo",
    "q_median_exact" -> "mx", "q_window_first_last" -> "wf",
    "q_embed_quantize" -> "eq", "q_kmeans_iter" -> "km",
    "q_stream_static_join" -> "sh", "q_retention" -> "rt",
    "q_resample_ffill" -> "ff", "q_vocab_per_lang" -> "vb",
    "q_source_quota" -> "sq", "q_anomaly_mad" -> "ma",
    "q_sql_lateral" -> "sa", "q_sql_recursive" -> "se",
    "q_sketch_countmin" -> "cm", "q_sketch_bloom" -> "bl",
    "q_simsearch_topk" -> "sk", "q_stats_corr" -> "co",
    "q_stream_dedup" -> "dd", "q_template_pipeline" -> "tp",
    "q_text_langid" -> "td", "q_udaf_weighted" -> "ua",
    "q_ann_ivf" -> "iv", "q_ann_lsh" -> "ls", "q_bitwise" -> "bw",
    "q_date_funcs2" -> "d2", "q_dedup_embed" -> "db",
    "q_dedup_ngram" -> "dg", "q_dedup_pairs" -> "dr",
    "q_join_outer" -> "jo", "q_join_range" -> "jr",
    "q_regex_extract" -> "rx", "q_scan_project" -> "sc",
    "q_skew_salted_join" -> "sj", "q_sql_in_subquery" -> "si",
    "q_stats_moments" -> "mo", "q_stream_join" -> "s2",
    "q_stream_session" -> "ts", "q_text_chunk" -> "ck",
    "q_text_dedup" -> "de", "q_text_stats" -> "te",
    "q_text_tfidf" -> "ti", "q_topk_per_group" -> "tg",
    "q_unpivot" -> "v", "q_window_frame" -> "wr",
    "q_window_ntile" -> "wn", "q_window_range" -> "rn",
    "q_scd2_intervals" -> "c2", "q_path_per_session" -> "pt",
    "q_upsert_latest" -> "us", "q_text_bigram_prob" -> "tb",
    "q_stats_regression" -> "rg", "q_dedup_minhash_est" -> "dh",
    "q_markov_transition" -> "mk", "q_concurrency_peak" -> "cc",
    "q_window_time_range" -> "wt", "q_mixture_weights" -> "mw",
    "q_label_balance" -> "lb", "q_text_clean" -> "tl",
    "q_embed_rp" -> "er",
    "q_agg_bool" -> "b", "q_agg_cube" -> "c",
    "q_agg_distinct" -> "d", "q_agg_hash" -> "h",
    "q_agg_mode" -> "m", "q_date_funcs" -> "u", "q_except" -> "e",
    "q_funnel" -> "f", "q_join_anti" -> "j", "q_join_asof" -> "a",
    "q_join_full" -> "J", "q_join_semi" -> "s",
    "q_join_shuffle" -> "S", "q_json_funcs" -> "n",
    "q_math_funcs" -> "M", "q_null_funcs" -> "N",
    "q_regex_sub" -> "r", "q_set_unset_lookup" -> "l",
    "q_skew_salted_agg" -> "k", "q_string_funcs" -> "g",
    "q_string_funcs2" -> "G", "q_text_bigrams" -> "B",
    "q_text_gini" -> "i", "q_text_quality" -> "q",
    "q_window_cume" -> "w", "q_window_rank" -> "W",
    "q_map_funcs" -> "p", "q_pivot" -> "P", "q_sql_cte" -> "C",
    "q_stream_outer_join" -> "o", "q_text_pii_redact" -> "I",
    "q_text_repetition" -> "R", "q_text_tokenize" -> "T",
    "q_union" -> "U", "q_window_analytic" -> "y",
    "q_ann_pq" -> "V", "q_rolling_distinct" -> "O",
    "q_graph_triangles" -> "t", "q_join_bloom" -> "jb",
    "q_text_pmi" -> "x", "q_ann_ivfpq" -> "z",
    "q_sample_weighted" -> "sw", "q_text_winnow" -> "tw",
    "q_stats_ttest" -> "tt", "q_graph_jaccard" -> "gj",
    "q_agg_bitmap" -> "ab", "q_ann_pq_recall" -> "pr",
    "q_window_rolling_median" -> "wm", "q_rate_limit" -> "rl",
    "q_join_asof_fwd" -> "jf", "q_dedup_survivor" -> "dv",
    "q_gap_stats" -> "ga", "q_text_docfreq" -> "df",
    "q_stats_chi2" -> "x2",
    "q_dedup_bands_curve" -> "bc", "q_ann_ivf_trained" -> "it",
    "q_graph_cc_sizes" -> "cz", "q_embed_dim_stats" -> "ed",
    "q_ts_autocorr" -> "ax", "q_ts_cusum" -> "cu", "q_ts_ewma" -> "ew",
    "q_tpch_q6" -> "6", "q_tpch_q7" -> "7", "q_tpch_q8" -> "8",
    "q_tpch_q10" -> "0", "q_tpch_q19" -> "9", "q_tpch_q1" -> "1",
    "q_tpch_q14" -> "4", "q_tpch_q15" -> "5", "q_tpch_q18" -> "3",
    "q_tpch_q22" -> "2", "q_stats_ks" -> "K",
    "q_stats_mwu" -> "X", "q_agg_weighted_median" -> "Y",
    "q_ann_ivf_curve" -> "E", "q_ann_recall" -> "F",
    "q_ann_recall_multi" -> "H", "q_text_lm_score" -> "L",
    "q_join_interval" -> "Q", "q_graph_pagerank" -> "Z",
    "q_attribution" -> "A", "q_schema_profile" -> "D",
    // The 62 alphanumeric single-char codes are exhausted; JSON string
    // keys accept any character that needs no escaping (everything but
    // '"' and '\'), so newer queries take single PUNCTUATION codes —
    // each saves one byte per bench line against the driver's 2000-char
    // stdout tail budget (BenchLineSpec pins the bound at the full
    // inventory).
    "q_multimodal_framesample" -> "^", "q_embed_outlier" -> "_",
    "q_tpch_q4" -> "!", "q_tpch_q13" -> "#", "q_tpch_q17" -> "$",
    "q_join_nullsafe" -> ">", "q_dedup_recall" -> "?",
    "q_sample_reservoir" -> "@", "q_user_streaks" -> "[",
    "q_ann_ivfpq_refined" -> "<", "q_multimodal_wav" -> "=",
    "q_tpch_q2" -> "%", "q_tpch_q9" -> "&", "q_tpch_q11" -> "'",
    "q_tpch_q12" -> "(", "q_tpch_q16" -> ")", "q_tpch_q20" -> "*",
    "q_tpch_q21" -> "+", "q_snapshot_diff" -> "-",
    "q_ann_pq_residual" -> ".", "q_stats_anova" -> ":",
    "q_multimodal_mp4" -> ";", "q_ann_ivf_nprobe" -> "]",
    "q_sql_q3" -> "`", "q_sql_q5" -> "{", "q_funnel_time" -> "|",
    "q_ann_bucket_stats" -> "}", "q_seasonal_profile" -> "~",
    "q_layout_zorder" -> "/", "q_corpus_curate" -> "c9",
    "q_source_overlap" -> "s9", "q_join_asof_nearest" -> "j9",
    "q_basket_pairs" -> "b9", "q_ann_ivfpq_residual" -> "i9",
    "q_window_analytic2" -> "y2", "q_text_editdist" -> "t9",
    "q_cohort_ltv" -> "l9", "q_customer_rfm" -> "r9",
    "q_dedup_lookup" -> "k9", "q_skew_profile" -> "w9",
    "q_embed_cov" -> "e9", "q_changepoint" -> "g9",
    "q_bpe_merges" -> "m9", "q_vocab_growth" -> "v9",
    "q_winsorize" -> "z9", "q_dedup_bucket_skew" -> "u9",
    "q_dedup_threshold_curve" -> "h9", "q_source_dup_rate" -> "d9",
    "q_quality_prune_sweep" -> "q9", "q_vocab_coverage" -> "o9",
    "q_label_prototypes" -> "p9", "q_embed_label_margin" -> "n9",
    "q_dedup_incremental" -> "f9", "q_pack_efficiency" -> "a9",
    "q_graph_degree_dist" -> "x9", "q_dedup_semantic" -> "s8",
    "q_dsir_weight" -> "d8", "q_source_token_shift" -> "t8",
    "q_rank_fusion" -> "r8", "q_corpus_curate_v2" -> "c7",
    "q_embed_dedup_exact" -> "e7", "q_multimodal_gif" -> "g7",
    "q_ann_dim_truncate" -> "u8", "q_kmeans_converge" -> "v8",
    "q_graph_kcore" -> "k8", "q_quality_linear" -> "q8",
    "q_multimodal_tiff" -> "m8", "q_text_entropy" -> "n8",
    "q_text_zipf" -> "z8", "q_embed_pca_power" -> "p8",
    "q_corpus_snapshot_delta" -> "c8", "q_text_perplexity" -> "x8",
    "q_source_kl" -> "l8", "q_dedup_url" -> "u7",
    "q_text_boilerplate" -> "b8", "q_join_fuzzy" -> "f8",
    "q_multimodal_png" -> "p7", "q_graph_bfs_layers" -> "b7",
    "q_graph_modularity" -> "m7", "q_embed_knn_classify" -> "k7",
    "q_stats_spearman" -> "s7", "q_multimodal_mp3" -> "y8",
    "q_curriculum" -> "cr", "q_snapshot_ivm" -> "im",
    "q_lang_confusion" -> "lc", "q_text_hapax" -> "hx",
    "q_stats_benford" -> "bf", "q_graph_cc_incremental" -> "ci",
    "q_embed_centroid_drift" -> "cd", "q_text_novelty" -> "nv",
    "q_source_mix_sqrt" -> "mq", "q_graph_labelprop" -> "lp",
    "q_ts_decompose" -> "dz", "q_anomaly_stl" -> "as",
    "q_quality_cascade" -> "qc", "q_source_budget" -> "sb",
    "q_audience_overlap" -> "ao", "q_graph_assortativity" -> "ov",
    "q_bpe_encode" -> "be", "q_event_entropy" -> "ee",
    "q_ts_mann_kendall" -> "mn", "q_event_gini" -> "eg",
    "q_embed_pairwise_hist" -> "ph", "q_multimodal_zip" -> "zp",
    "q_multimodal_flac" -> "fc", "q_dup_quality_bias" -> "qb",
    "q_source_lang_entropy" -> "yl", "q_stats_levene" -> "lv",
    "q_ts_ccf" -> "cf", "q_ts_seasonality_strength" -> "fs",
    "q_graph_clustering_coeff" -> "gt", "q_ts_fano" -> "fa",
    "q_text_burstiness" -> "bu", "q_corpus_curate_v3" -> "c3",
    "q_stream_late_audit" -> "la", "q_stats_kruskal" -> "kw",
    "q_multimodal_bmp" -> "bm", "q_ts_theil_sen" -> "th",
    "q_multimodal_webp" -> "wb", "q_ann_ndcg" -> "nc",
    "q_source_hhi" -> "hh", "q_stats_runs" -> "rw",
    "q_text_lm_kn" -> "kn", "q_multimodal_ogg" -> "og",
    "q_sketch_kmv" -> "kv", "q_trigger_wildcard" -> "wi",
    "q_sketch_theta" -> "ht", "q_text_rake" -> "ra",
    "q_stats_friedman" -> "fr", "q_stats_bhattacharyya" -> "bh",
    "q_stats_kendall_tau" -> "kt", "q_stats_jarque_bera" -> "jq",
    "q_dedup_source_matrix" -> "dx", "q_embed_isotropy" -> "ey",
    "q_stats_cramers_v" -> "cw", "q_stats_cochran_q" -> "cx",
    "q_stats_mcnemar" -> "mz", "q_graph_hits" -> "gg",
    "q_multimodal_avi" -> "mi", "q_multimodal_ico" -> "aa",
    "q_multimodal_tar" -> "mr", "q_text_bm25" -> "t5",
    "q_stats_durbin_watson" -> "dw",
    "q_ts_ljung_box" -> "lj", "q_ts_pacf" -> "pf",
    "q_embed_mmd" -> "md", "q_stats_grubbs" -> "gb",
    "q_agg_grouping_sets" -> "gs", "q_stats_sign_test" -> "sn",
    "q_stats_wilcoxon_signed" -> "wx", "q_ts_periodogram" -> "pg",
    "q_ts_turning_points" -> "tu", "q_window_rolling_beta" -> "rb",
    "q_text_readability" -> "ry", "q_stats_mood_median" -> "mv",
    "q_stats_ad_2sample" -> "ad", "q_embed_silhouette" -> "ac",
    "q_markov_2step" -> "m2", "q_sketch_linear" -> "ln",
    "q_sketch_hll" -> "hl", "q_sketch_hll_union" -> "hu",
    "q_ts_ewm_var" -> "ev", "q_stats_binom_ci" -> "wc",
    "q_event_interarrival" -> "ia", "q_embed_cka" -> "ka",
    "q_window_hampel" -> "hp", "q_stats_bootstrap_se" -> "bo",
    "q_tpch_q3" -> "t3", "q_tpch_q5" -> "v5",
    "q_multimodal_pdf" -> "pd", "q_stats_tost" -> "to",
    "q_source_effective_n" -> "ne", "q_ts_max_drawdown" -> "xd",
    "q_ts_acf_bands" -> "ae", "q_source_gini" -> "ag")

  /** q_join_broadcast → j_bc. Total function; BenchLineSpec asserts
    * injectivity over the declared query set and the line-length bound. */
  def abbr(name: String): String = overrides.getOrElse(name, {
    var n = if (name.startsWith("q_")) name.drop(2) else name
    famMap.find { case (p, _) => n.startsWith(p) }.foreach {
      case (p, r) => n = r + n.substring(p.length)
    }
    sufMap.foreach { case (a, b) => n = n.replace(a, b) }
    n
  })
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 32: the harness contract is local[32] with 32 shuffle
    // partitions (the round-1 default of 4 left 8× parallelism unused on
    // the 32-core host); SPARK_GRAFT_CPUS still overrides for local runs
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // Scale-adaptive split/coalesce knobs, parameterised per the
    // optimization-round contract (scale-dependent settings must be
    // conf/env, never constants tuned to one environment). ALL default
    // UNSET — the driver's bench keeps Spark's defaults and stays
    // round-comparable. They exist because the LOCAL fixtures sit below
    // the production-appropriate defaults (4 MB file open cost, 1 MB
    // AQE min partition size, 128 MB split size), which caps scan and
    // reduce parallelism at any core count on MB-scale inputs — the r13
    // scaling-check blind spot. All five are unset in every committed
    // run; setting them to fixture-proportional values for an sf1
    // core-scaling proof is the carried "Core-scaling proof" item in
    // ROADMAP.md. At 100 TB the defaults are already right.
    val splits = Seq(
      "SPARK_GRAFT_MAX_PART_B" -> "spark.sql.files.maxPartitionBytes",
      "SPARK_GRAFT_OPEN_COST_B" -> "spark.sql.files.openCostInBytes",
      "SPARK_GRAFT_MIN_SPLITS" -> "spark.sql.files.minPartitionNum",
      "SPARK_GRAFT_ADVISORY_B" ->
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "SPARK_GRAFT_MIN_COALESCE_B" ->
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ).flatMap { case (env, conf) => sys.env.get(env).map(conf -> _) }
    val spark = Session.local(cpus, Session.joinPreference +: splits: _*)
    Tables.warm(spark, sfDir)
    // Interleaved best-of-3: round-robin the full query list three times so
    // a transient host stall (observed round 1: 16 s on a 0.3 s broadcast
    // semi join) can poison at most one of a query's three samples — never
    // its reported floor. A query that EVER throws is reported as -1, never
    // as a fast time: a broken build must not look like a faster one.
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b: local-iteration subset (the driver
    // never sets it — full-inventory runs are the round contract). Two
    // safeguards keep a subset run from masquerading as a full one: the
    // line goes to a separate file (bench_out_subset.json) AND both the
    // file line and the stdout line carry a "subset":true marker. A
    // typo'd name is a hard error, not a silent filter-to-nothing — an
    // empty subset bench would read as a suspiciously fast clean run.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        Console.err.println(
          s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
            unknown.toSeq.sorted.mkString(", "))
        sys.exit(2)
      }
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.Set.empty[String]
    for (_ <- 1 to 3; (name, fn) <- ordered) {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        // One CacheScope per run: within-query persists (registered via
        // persistScoped) release right after the terminal action, so a
        // query's time never includes eviction pressure from caches an
        // EARLIER query leaked (r8: q_basket_pairs 5.17 s full-suite vs
        // 2.04 s solo). Fixture caches above are outside any scope and
        // stay warm. The unpersist cost itself is inside the timed
        // section — non-blocking, so it is bookkeeping only.
        // NAMED STAGES (r10, graft.NamedStages) deliberately survive
        // across queries like the fixture caches: the first consumer's
        // timed run PAYS the stage build (visible in its round-1
        // sample); later consumers and rounds read it — the nightly-
        // pipeline sharing the r9 verdict asked for, with the best-of-3
        // floor reflecting the warm-stage steady state.
        // MEASUREMENT FIX (r13, declared in OPTIMIZATION_r13.md): the
        // timed action is the NOOP SINK (guide §1.4), not `.count()`.
        // count() let the optimizer prune the terminal sort, the output
        // projection, and every narrow computed column not feeding a
        // filter/agg — e.g. the multimodal header parses were mostly
        // UNTIMED (count of a narrow map = count of the scan). The noop
        // sink computes every column of every row and discards it, so
        // the timed region now covers exactly what the declared query
        // computes. Old-methodology numbers for r12-comparability are
        // kept in OPTIMIZATION_r13.md §methodology.
        CacheScope.scoped {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val t = (System.nanoTime() - t0) / 1e9
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      } catch { case _: Throwable => failed += name }
    }
    val results = ordered.map { case (name, _) =>
      name -> (if (failed(name)) -1.0
               else best.getOrElse(name, -1.0))
    }
    // r14 (verdict item 3): publish per-stage build seconds next to the
    // per-query floors. The best-of-3 protocol hides a stage's one-time
    // build cost in its first consumer's discarded round-1 sample, so
    // the amortized-vs-per-query split must be auditable in the record.
    val stages = NamedStages.buildSeconds(spark).toSeq.sortBy(_._1)
    // canonical record: full names, 1 ms precision. Subset runs go to a
    // scratch file so the committed round record is always full-inventory.
    Files.writeString(
      Paths.get(if (only.isEmpty) "bench_out.json"
                else "bench_out_subset.json"),
      fullLineFor(results, failed.size, sfDir.split('/').last,
        subset = only.nonEmpty, stages = stages) + "\n")
    val stdoutLine =
      stdoutLineFor(results, failed.size, sfDir.split('/').last,
        subset = only.nonEmpty, stagesSec = stages.map(_._2).sum)
    spark.stop()
    // printed AFTER spark.stop() so executor-shutdown log noise cannot land
    // between the JSON and end-of-stream
    println(stdoutLine)
  }

  // Locale.ROOT: a de_DE-style default locale would print "0,123" and
  // break the JSON (ADVICE round 2)
  private def fmt(v: Double, dp: Int): String =
    if (v < 0) "-1"
    else String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  /** stdout values: 1dp under 100 s (≤ 4 chars, 3 for the typical < 10 s
    * query), 0dp above. The 62 single-char codes are exhausted at 193
    * queries, so the per-VALUE budget is the remaining lever for keeping
    * every query visible on stdout; full 1 ms precision lives in the
    * committed bench_out.json. */
  private def fmtCompact(v: Double): String =
    if (v < 0) "-1"
    else { val s1 = fmt(v, 1); if (s1.length <= 4) s1 else fmt(v, 0) }

  /** bench_out.json line: full names, 1 ms precision. `subset = true`
    * (BENCH_ONLY runs) stamps a "subset":true key so the line can never
    * be mistaken for a full-inventory round record. */
  def fullLineFor(results: Seq[(String, Double)], nFailed: Int,
      sfTag: String, subset: Boolean = false,
      stages: Seq[(String, Double)] = Nil): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val sub = if (subset) """"subset":true,""" else ""
    // per-stage build seconds (NamedStages) — the amortized share the
    // best-of-3 floors exclude; always present so its absence is loud
    val st = stages.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
      .mkString(""""stages":{""", ",", "},")
    s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","failed":$nFailed,$sub$st"queries":$qs,"sf":"$sfTag"}"""
  }

  /** The printed stdout line: abbreviated names + compact values, bounded
    * by the driver's 2000-char tail ring buffer. If the full line would
    * not fit, elides MINIMALLY: every failure (-1) is ALWAYS kept — the
    * elision must only drop fast successes, never hide which queries
    * broke — and then as many of the SLOWEST successes as the budget
    * holds (binary-searched, so the channel is always filled; past
    * ~220 queries a handful of the fastest entries drop, with the
    * count in the `elided_fast_queries` marker). The committed
    * bench_out.json is the canonical full-name 1 ms record either way.
    * Public (and pure) so BenchLineSpec asserts the bound on the line
    * actually printed. */
  def stdoutLineFor(results: Seq[(String, Double)], nFailed: Int,
      sfTag: String, subset: Boolean = false,
      stagesSec: Double = 0.0): String = {
    def line(rs: Seq[(String, Double)], extra: String): String = {
      val qs = rs.map { case (k, v) => "\"" + abbr(k) + "\":" +
        fmtCompact(v) }.mkString("{", ",", "}")
      val total = results.collect { case (_, v) if v >= 0 => v }.sum
      val sub = if (subset) """"subset":true,""" else ""
      // total NamedStages build seconds, key abbreviated like the query
      // names ("stg"; the full per-stage map is the "stages" field of
      // bench_out.json) — ~11 chars of the tail budget, and the elision
      // search below accounts for it automatically
      val st = s""""stg":${fmt(stagesSec, 1)},"""
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","failed":$nFailed,$sub$st$extra"queries":$qs,"sf":"$sfTag"}"""
    }
    val full = line(results, "")
    if (full.length < 1992) full
    else {
      val failures = results.filter(_._2 < 0)
      val bySlow = results.filter(_._2 >= 0).sortBy(-_._2)
      def mk(k: Int): String = {
        val keep = (failures ++ bySlow.take(k)).map(_._1).toSet
        line(results.filter { case (n, _) => keep(n) },
          s""""elided_fast_queries":${results.size - keep.size},""")
      }
      var lo = 0
      var hi = bySlow.length
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (mk(mid).length < 1992) lo = mid else hi = mid - 1
      }
      mk(lo)
    }
  }
}
