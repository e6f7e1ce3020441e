package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: render every query's physical plan and flag scale
  * anti-patterns — nested-loop/cartesian joins where a hash join was
  * expected, plus plans that fail to construct at all. Intentional
  * nested loops (query-vs-candidate cross products against a broadcast
  * side) are allowlisted.
  *
  * Runs two ways: `runMain graft.PlanAudit [sfDir]` for the verbose
  * dev report, and [[PlanAudit.audit]] inside PlanAuditSpec so a plan
  * regression (an operator silently degrading to NLJ) fails `sbt test`,
  * not just a manual check.
  *
  * Each report line also carries the query's parquet-scan and
  * cached-scan leaf counts — the cheap detector for the
  * multi-consumer-without-persist anti-pattern (a subtree referenced
  * from k plan branches scans its sources k times unless persisted).
  */
object PlanAudit {

  /** Queries whose cross/NLJ shape is by design: a tiny broadcast query
    * set against every candidate (brute-force similarity, PQ ADC
    * scoring), a 1-row broadcast corpus-stats factor (BM25), or an
    * explicit bounded all-pairs block. */
  val intentionalNlj = Set(
    "q19_ngram_jaccard", "q20_embedding_topk", "q21_ivf_ann",
    "q22_embedding_neardup", "q58_pq_ann", "q59_bm25_search", "q67_tfidf",
    "q81_lm_score", "q84_hybrid_rrf", "q103_containment",
    // Vocab.build's corpus-total denominator is a 1-row broadcast
    // crossJoin (same shape as the BM25/TF-IDF stats factors)
    "q108_vocab", "q109_oov", "q117_zipf",
    // sketch-threshold tiles: the percentile_approx threshold arrays
    // are a 1-row broadcast crossJoin (same stats-factor shape)
    "q128_rfm_approx", "q129_curriculum_approx",
    // skew profile: 1-row stats frame × 1-row hottest-key frame
    "q145_skew_advisor",
    // dataset card: 1-row base agg × 1-row entropy × 1-row top-stratum
    "q167_corpus_card",
    // pagerank: per-iteration dangling mass is a 1-row broadcast
    // crossJoin (stat factor, same shape as the corpus totals above)
    "q150_pagerank",
    // JL recall probe: tiny broadcast query set × candidates, the
    // same bounded brute-force eval harness as q20/q22
    "q175_random_projection",
    // HLL overlap matrix: |slices|² pairing of postcard-sized sketch
    // rows (slice_a < slice_b inequality join on a ~5-row frame)
    "q176_audience_overlap",
    // KS: the (n_a, n_b) totals are a 1-row broadcast stat factor
    // into the cumulative table (same shape as the corpus totals)
    "q178_ks_drift", "q179_ks_drift_grid",
    // MI grand-total is a 1-row broadcast crossJoin into the joint
    // cell table (the ksBySliceFdr joined-stat-tables workaround)
    "q216_mutual_info",
    // JS matrix: |S|² source-pair grid (the q176 postcard-pairing
    // shape); PMI: 1-row user-day-total stat factor; burstiness:
    // |types|×|days| calendar grid spine
    "q237_js_divergence", "q238_session_pmi", "q240_burstiness",
    // whitened-ANN probe rides the q20 bounded brute-force harness
    "q246_whitened_ann",
    // MMR exact rerank: candidates come from the q20 bounded
    // brute-force harness (broadcast 8-query set x corpus)
    "q162_mmr_rerank",
    // KM: the (max date, cohort size) pair is a 1-row stat factor;
    // log-rank adds the cohort-totals factor; CUPED's midpoint date
    // is the same 1-row shape; RMST and Gehan ride the identical
    // risk-table construction (max-date/cohort-totals/area-total
    // 1-row factors)
    "q247_kaplan_meier", "q251_log_rank", "q252_cuped", "q267_did",
    "q379_rmst", "q380_gehan_wilcoxon",
    // CvM: the (n_a, n_b, N) totals are the q178 KS-shape 1-row
    // stat factor into the cumulative-ECDF table
    "q378_cvm_twosample",
    // Breusch–Pagan: the min-date origin is the q269/q281 1-row
    // calendar factor (the OLS-diagnostics shared shape)
    "q382_breusch_pagan",
    // average precision: the (P, N) class totals are the q205
    // ROC-shape 1-row stat factor
    "q386_avg_precision",
    // Hodges–Lehmann: the days² pair grid is a deliberate
    // calendar-bounded cross (the Theil–Sen shape) plus two 1-row
    // cohort-count factors
    "q388_hodges_lehmann",
    // Kendall W: the k-distinct-levels and n-blocks totals are 1-row
    // stat factors into cell-cardinality frames (the Page shape)
    "q389_kendall_w",
    // keyness/collocations: corpus token totals are 1-row broadcast
    // stat factors into the vocab-bounded count tables (the q234
    // lexical-KL shape); collocations adds the (N_bi × N_uni) 1-row
    // totals pair
    "q392_dunning_llr", "q393_fightin_words", "q394_collocations",
    // Burrows: the |S|·top-k complete cell grid is a deliberate
    // bounded cross (sources × 30 words); energy/dCor: the days²
    // V-statistic pair grids are the Theil–Sen calendar² shape with
    // 1-row cohort/grand-mean factors
    "q396_burrows_delta", "q398_energy_distance",
    "q399_distance_correlation",
    // Kuiper: the hour-histogram total is the KS-shape 1-row factor
    "q400_kuiper_uniformity",
    // seasonal MK: the per-season day-pair cross is the q287 shape
    // partitioned by weekday, plus the 1-row variance-total factor;
    // Bartels: 1-row rank-mean factor; Watson: the Kuiper 1-row
    // total; weighted kappa: the k×k marginal grid is a deliberate
    // bounded cross with the 1-row n/span factor
    "q401_seasonal_mann_kendall", "q402_bartels_rank",
    "q403_watson_u2", "q404_weighted_kappa",
    // Cucconi/Lepage/Conover: the pooled-totals are the q378 CvM
    // 1-row stat factor into the value-frequency table; Conover
    // adds the 2-value cohort-means factor
    "q405_cucconi", "q406_lepage", "q407_conover_sqranks",
    // BWS: the 1-row cohort-counts factor into the ranked corpus
    "q433_bws",
    // ordinal association: the 25-cell contingency self-pairing is
    // the q176 postcard-grid shape plus 1-row margin factors
    "q408_ordinal_assoc",
    // Fleiss: the item-count/P̄ totals are a 1-row stat factor into
    // the category-marginal table; partition agreement: three 1-row
    // comb-sum factors combined scalar-wise
    // Krippendorff α rides the same shape with variable raters
    "q410_fleiss_kappa", "q411_partition_agreement",
    "q428_krippendorff_alpha",
    // daily-series randomness panel: the (n, h) totals are 1-row
    // stat factors into calendar-sized tables (the Bartels shape);
    // Pettitt rides the same shape for its U_t cumulative; KPSS
    // adds the bounded calendar self-lag (lag <= l) range join and
    // Dickey-Fuller the 1-row OLS moment factor
    "q413_cox_stuart", "q416_perm_entropy", "q434_pettitt",
    "q435_kpss", "q436_dickey_fuller", "q437_lmoments",
    // AD normality: the 1-row moment factor into the value-frequency
    // table (the q375 Lilliefors shape)
    "q417_ad_normality",
    // control charts: 1-row center-line factors into calendar
    // tables; histogram distances: 1-row totals into the 50-bin grid
    "q418_imr_chart", "q419_p_chart", "q420_hist_distances",
    // Allan deviation: the 1-row (n, mean) factor into the calendar
    // table before its block-mean windows
    "q422_allan_deviation",
    // nominal association: entropy/second-moment 1-row factors into
    // the contingency; Cressie-Read: the 1-row margins factor
    "q423_nominal_assoc", "q424_cressie_read",
    // Grubbs: the 1-row moment factor into the calendar table;
    // GESD: the same factor once per remove-argmax round (k = 3)
    "q426_grubbs", "q427_gesd",
    // theta: the 1-row slope/level factor into the calendar table
    // (the Grubbs moment-factor shape, second tiny pass for the
    // inside-abs drift MAE)
    "q438_theta",
    // c/u/WECO charts: 1-row center-line/sigma factors into
    // calendar tables (the q418/q419 shape)
    "q440_c_chart", "q441_u_chart", "q443_weco_rules",
    // Jonckheere-Terpstra: each order fans out to its 4 group pairs
    // via a broadcast 5-row priority-list inequality join (bounded
    // ×(k−1) expansion, NOT a pair grid over rows), plus the 1-row
    // (J, group-sizes) stat factors
    "q445_jonckheere",
    // Engle-Granger: the 1-row OLS factor into the calendar table
    // for step-2 residuals (the Grubbs moment-factor shape)
    "q448_engle_granger",
    // HAC trend: the KPSS shape — 1-row OLS factor into the calendar
    // table, bounded self-lag range join for the Bartlett sum
    "q449_hac_trend",
    // segment lift: BH family-size 1-row factor (ksBySliceFdr shape);
    // quantile lift: |levels|-row broadcast quantile table
    "q256_segment_lift", "q257_quantile_lift",
    // retention decay: offset × window-length calendar² coverage join
    // + the 1-row max-date factor; LTV shares the max-date factor
    "q261_retention_decay", "q263_ltv_curve",
    // retrieval eval rides the q20 bounded brute-force harness
    "q184_retrieval_eval",
    // LSH quality harness: exact-Jaccard ground truth is a bounded
    // all-pairs block on the doc_id slice (the q19 pattern)
    "q186_dedup_eval",
    // join advisor: the three 1-row stat frames (left/right/shared)
    // assemble via crossJoin — stat factors, not data products
    "q190_join_cardinality",
    // DSIR: distribution totals and the top-k threshold are 1-row
    // broadcast stat factors
    "q153_dsir_select",
    // ROC curve: the (P, N) class totals are a 1-row broadcast stat
    // factor into the bounded distinct-score table (the KS shape)
    "q205_roc_curve",
    // ACF: series mean/denominator are 1-row broadcast stat factors
    // and the lag spine is a maxLag-row broadcast cross into the
    // day-cardinality table
    "q213_daily_acf",
    // conformal gate: the calibration threshold is a 1-row broadcast
    // stat factor into the eval aggregate
    "q219_conformal",
    // bootstrap: the full-data point estimate is a 1-row broadcast
    // stat factor beside the replicate-mean aggregate
    "q221_bootstrap_ci",
    // ks-fdr: grand total and test count are 1-row broadcast stat
    // factors; the slice×bucket grid is a bounded deliberate cross
    "q225_ks_fdr",
    // CCF: series means/normalizer are 1-row stat factors, the lag
    // spine a (2L+1)-row broadcast cross into the daily table
    "q228_cross_correlation",
    // RBO: the depth spine × matched-token list is a deliberate
    // K²-bounded cross (≤10k rows)
    "q232_rbo_vocab",
    // Theil–Sen: day² pairwise slopes are a deliberate bounded cross;
    // the OLS row is a 1-row stat factor
    "q236_theil_sen",
    // Neyman: the Σ N·σ / total-rows row is a 1-row stat factor
    "q233_neyman_allocation",
    // lexical KL: the corpus grand total is a 1-row stat factor
    "q234_lexical_kl",
    // entropy rate: the transition grand total is a 1-row stat factor
    "q229_entropy_rate",
    // OLS trend (batch + streaming dashboard): the min-date origin is
    // a 1-row broadcast stat factor into the calendar×type table
    "q269_ols_trend", "q276_stream_trend",
    // breakpoint: candidate×day calendar² grid + 1-row pooled/origin
    // stat factors — bounded forever by the calendar
    "q270_breakpoint",
    // EB shrinkage: the (μ, M) prior is a 1-row broadcast stat factor
    "q272_eb_shrinkage",
    // Hill: the x_(k+1) threshold is a 1-row stat factor over k rows
    "q273_hill_tail",
    // skyline: the min/max span of the maximized dim is a 1-row
    // broadcast stat factor feeding the grid prune
    "q275_skyline",
    // winsorized Welch: the pooled p95 cap is a 1-row stat factor
    "q279_ab_winsorized",
    // Durbin–Watson: the min-date origin is the q269 1-row factor
    "q281_durbin_watson",
    // Shapley: the coalition lattice is 2^C-bounded (16 rows) — the
    // containment join, the C×2^C pair grid and the 1-row total
    // factor are all deliberate bounded crosses
    "q283_shapley_attribution",
    // NB fit rides the q240 calendar-grid spine cross
    "q284_nb_fit",
    // association: the grand-total and H(a) rows are 1-row stat
    // factors into the |a|×|b| cell table (the q216 recipe)
    "q286_association",
    // Mann–Kendall: the q236 calendar² pair cross + 1-row n/tie rows
    "q287_mann_kendall",
    // runs test: the exact-median row is a 1-row stat factor
    "q288_runs_test",
    // KW: the (N, ties) totals are a 1-row stat factor into the
    // per-group rank sums (the MWU/q216 shape)
    "q290_kruskal_wallis",
    // Ljung–Box rides q213's ACF crosses + its own 1-row day count
    "q291_ljung_box",
    // UniMax: 1-row (L, B) totals + 1-row water level into the
    // stratum-cardinality cap table
    "q293_unimax_budget",
    // AD: the (n_a, n_b, N) totals are a 1-row stat factor into the
    // pooled value-frequency table (the KS/q178 shape)
    "q295_ad_twosample",
    // DoReMi tilt: 1-row corpus total + 1-row normalizer into the
    // source-cardinality table
    "q299_doremi_weights",
    // EWMA chart (batch + streaming face): 1-row μ/σ stat factor into
    // the day table
    "q300_ewma_chart",
    "q306_stream_ewma",
    // Kendall τ: bounded nation-grain entity self-cross (q176 shape)
    "q301_kendall_tau",
    // basket affinity: 1-row distinct-order total into the pair table
    "q302_market_basket",
    // periodogram: 1-row μ/σ/n stat factor into the day table
    "q308_periodogram",
    // McNemar: 1-row span-midpoint stat factor into events
    "q310_mcnemar",
    // Nelson-Aalen: the q247 KM 1-row max-date/count stat factor
    "q312_nelson_aalen",
    // link prediction: 1-row span-midpoint stat factor into lineitem
    "q316_link_prediction",
    // Davies-Bouldin: 1-row DB/SSW/SST stat factors composed at the end
    "q318_davies_bouldin",
    // SQ8 ANN: broadcast tiny query set x corpus (the q20 baseline shape)
    "q320_sq8_ann",
    // IND discovery: column-count-bounded pair grid (12x12 cross)
    "q321_ind_discovery",
    // truncated recall: q20 baseline shape per m (broadcast query set)
    "q322_truncated_recall",
    // Friedman: 1-row treatment-count + chi2 stat factors; Quade
    // adds the month-bounded block-range-rank broadcast + F factor;
    // Conover-Iman adds the k²-bounded pair grid + t-crit factor
    "q325_friedman", "q431_quade", "q432_conover_iman",
    // Theil decomposition: 1-row total + identity stat factors
    "q326_theil",
    // alignment/uniformity: two 1-row stat factors composed at the end
    "q330_alignment_uniformity",
    // kNN label noise: bounded probe sample x corpus (q20 shape)
    "q332_knn_label_noise",
    // Cochran Q: k-bounded treatment grid + 1-row stat factors
    "q334_cochran_q",
    // spectral summary: the periodogram's 1-row stats factor
    "q335_spectral_entropy",
    // LSH advisor: 8-row grid x 1-row measured-background factor
    "q337_lsh_advisor",
    // Brier decomposition: 1-row base-rate factor over <=10 bins
    "q339_brier",
    // effective data: the q293 UniMax 1-row budget/theta factors
    "q340_effective_data",
    // competing risks: the KM 1-row cohort-size factor
    "q341_competing_risks",
    // RDD: cross of the two 1-row side fits
    "q342_rdd",
    // Simpson audit: 1-row pooled-diff factor
    "q344_simpsons",
    // Youden: the ROC's 1-row totals factor
    "q345_youden",
    // chi2 residuals: the q286 bounded marginal grid cross + 1-row N
    "q346_chi2_residuals",
    // Bland-Altman: 1-row moments factor recounted over diffs
    "q347_bland_altman",
    // Hurst: 1-row origin-date + |sizes|-row fit factors
    "q349_hurst",
    // Cramér's V: the q346 bounded marginal grid cross + 1-row N
    "q351_cramers_v",
    // balanced sample: the min-class-count 1-row stat factor
    "q353_balanced_sample",
    // gain ratio: 1-row corpus-total factors into bounded cell tables
    "q354_gain_ratio",
    // TwoNN: bounded probe sample x corpus (q20/q332 shape) + two
    // 1-row stat factors
    "q355_intrinsic_dim",
    // hubness: bounded query sample x corpus (q20 shape) + 1-row
    // moment/zero-count factors
    "q356_hubness",
    // Fisher exact: margin-bounded support spine + 1-row norm/obs
    // stat factors
    "q357_fisher_exact",
    // signed rank: the q310 span-midpoint factor + two 1-row stat
    // frames composed at the end
    "q358_signed_rank",
    // Jonckheere: bounded value-histogram pair cross + 1-row
    // moment factors
    "q359_jonckheere",
    // HITS: per-iteration 1-row L1-normalizer factors (q150 shape)
    "q360_hits",
    // TOST: the q248 1-row moment frame (no joins, but the margin
    // rides the same single-agg shape); cronbach (batch + stream
    // face): item-count and unit-count 1-row stat factors
    "q362_tost", "q364_cronbach_alpha", "q365_stream_cronbach",
    // Mood's median: the grand-median and totals 1-row stat factors
    "q366_mood_median",
    // modularity: the total-edge-weight 1-row stat factor
    "q372_modularity",
    // Lilliefors: the 1-row moment factor into the ECDF value table
    "q375_lilliefors")

  /** Oracled queries ALLOWED to emit round()-produced double output
    * columns — FROZEN at the round-12 inventory. Every one is proven
    * byte-exact against the DuckDB oracle by the strict gate
    * (dev/check_oracle.py's STRICT pass, run at both SFs by
    * dev/close.sh), so they do not currently diverge from the
    * driver's bit-exact hash. The round-11 hash-red class was NOT
    * rounding ulp drift: it was (a) oracle-side SUM-over-int
    * returning HUGEINT -> pandas float64 against the engine's int64,
    * and (b) DuckDB's float-path ROUND emitting -0.0 where Spark's
    * BigDecimal round gives +0.0 — both are structurally handled by
    * `SparkEntry.canonPlan` + the strict gate. A rounded double is
    * still one `-0.0`-able signed statistic away from a hash red on
    * regenerated data, so this set MUST NOT GROW: a new oracled query
    * with rounded-double output fails the audit until it either gets
    * a canonPlan entry (micro-unit bigints) or — with recorded
    * justification — is added here. */
  val roundedDoubleLegacy: Set[String] = Set(
    "q01_pricing_summary", "q02_daily_store_metrics", "q03_top_orders",
    "q04_region_revenue", "q05_event_type_stats", "q06_window_rank",
    "q09_json_props", "q101_constraints", "q103_containment",
    "q105_decayed_mix", "q106_drift", "q107_transitions",
    "q108_vocab", "q109_oov", "q10_merge_upsert",
    "q111_quantile_keep", "q115_curriculum", "q116_source_overlap",
    "q117_zipf", "q11_staging_orders", "q120_hopping_window",
    "q121_retention", "q123_dim_truncation", "q124_gapfill_locf",
    "q125_anomaly", "q129_curriculum_approx", "q133_compaction",
    "q137_calibration", "q138_split_leakage", "q141_embedding_drift",
    "q143_segment_dedup", "q145_skew_advisor", "q147_bloom_join",
    "q148_incremental_segdedup", "q150_pagerank", "q153_dsir_select",
    "q155_semantic_decontaminate", "q157_token_budget", "q15_text_stats",
    "q167_corpus_card", "q168_mix_divergence", "q171_disorder_profile",
    "q172_vocab_growth", "q173_dp_accounting", "q178_ks_drift",
    "q179_ks_drift_grid", "q181_point_in_time", "q182_grouping_sets",
    "q184_retrieval_eval", "q187_psi_equidepth", "q190_join_cardinality",
    "q194_sql_gateway", "q195_seasonal_anomaly", "q198_lang_confusion",
    "q19_ngram_jaccard", "q200_chi2_drift", "q201_sequence_pack",
    "q202_quality_auc", "q203_triangles", "q205_roc_curve",
    "q206_token_gini", "q207_pack_ffd", "q208_burstiness",
    "q209_allpairs_join", "q20_embedding_topk", "q212_benford",
    "q213_daily_acf", "q215_hampel", "q216_mutual_info",
    "q218_personalized_rank", "q219_conformal", "q220_wasserstein",
    "q221_bootstrap_ci", "q223_degree_profile", "q224_cusum",
    "q225_ks_fdr", "q226_novelty_curve", "q227_unseen_mass",
    "q228_cross_correlation", "q229_entropy_rate", "q22_embedding_neardup",
    "q230_width_advisor", "q231_seasonal_decompose", "q232_rbo_vocab",
    "q233_neyman_allocation", "q235_robust_location", "q236_theil_sen",
    "q238_session_pmi", "q239_label_kappa", "q240_burstiness",
    "q244_class_separation", "q245_quantile_align", "q247_kaplan_meier",
    "q248_ab_welch", "q249_ab_mannwhitney", "q250_ab_ratio_delta",
    "q251_log_rank", "q252_cuped", "q253_power",
    "q254_sequential_msprt", "q255_srm_check", "q256_segment_lift",
    "q257_quantile_lift", "q258_stream_msprt", "q259_ses_forecast",
    "q261_retention_decay", "q262_readability", "q263_ltv_curve",
    "q264_session_summary", "q265_funnel_latency", "q266_error_slo",
    "q267_did", "q268_script_profile", "q269_ols_trend",
    "q26_asof_join", "q270_breakpoint", "q271_ess_weights",
    "q272_eb_shrinkage", "q273_hill_tail", "q275_skyline",
    "q276_stream_trend", "q277_ratio_jackknife", "q279_ab_winsorized",
    "q27_rollup", "q280_holt_trend", "q281_durbin_watson",
    "q282_stream_holt", "q283_shapley_attribution", "q284_nb_fit",
    "q286_association", "q287_mann_kendall", "q288_runs_test",
    "q289_png_features", "q28_rolling_revenue", "q290_kruskal_wallis",
    "q291_ljung_box", "q292_page_hinkley", "q293_unimax_budget",
    "q294_renyi_entropy", "q295_ad_twosample", "q296_stream_page_hinkley",
    "q299_doremi_weights", "q29_percentiles", "q300_ewma_chart",
    "q302_market_basket", "q305_soft_dedup", "q306_stream_ewma",
    "q307_seasonal_holt", "q308_periodogram", "q30_topk_per_store",
    "q311_concentration", "q312_nelson_aalen", "q316_link_prediction",
    "q317_silhouette", "q318_davies_bouldin", "q320_sq8_ann",
    "q321_ind_discovery", "q322_truncated_recall", "q324_brown_forsythe",
    "q325_friedman", "q326_theil", "q32_sessionize",
    "q330_alignment_uniformity", "q331_cka", "q332_knn_label_noise",
    "q333_elasticity", "q335_spectral_entropy", "q336_fd_violation_rate",
    "q337_lsh_advisor", "q338_touch_attribution", "q339_brier",
    "q33_freshness", "q340_effective_data", "q342_rdd",
    "q345_youden", "q346_chi2_residuals", "q347_bland_altman",
    "q348_cliffs_delta", "q349_hurst", "q34_corpus_clean",
    "q36_range_join", "q42_monthly_revenue", "q44_cube",
    "q51_session_window", "q53_grouping_sets", "q59_bm25_search",
    "q67_tfidf", "q69_user_profiles", "q71_repetition",
    "q77_curation_pipeline", "q78_entropy", "q79_pruned_scan",
    "q81_lm_score", "q82_temperature_mix", "q83_length_buckets",
    "q84_hybrid_rrf", "q85_incremental_mv", "q86_delete",
    "q91_repeated_spans", "q97_mv_percentiles")

  final case class Audit(name: String, shuffles: Int,
      joins: Seq[(String, Int)], flagged: Boolean, error: Option[String],
      roundedDoubles: Seq[String] = Nil, parquetScans: Int = -1,
      inMemScans: Int = -1)

  /** Output columns of `df` that are DoubleType and transitively
    * produced by a `round()`/`bround()` — the round-11 hash-red
    * signature: Spark's BigDecimal HALF_UP round and DuckDB's
    * float-path ROUND can differ by one ulp (and disagree on `-0.0`),
    * so a rounded double in an ORACLED query's output re-rolls the
    * driver's bit-exact-hash dice on every data regeneration. Such
    * columns must be canonicalized through `SparkEntry.canonPlan`
    * (micro-unit bigints); this walk is what makes that rule a build
    * failure instead of a convention. Attribute references are
    * inlined through every Alias in the plan so a round computed in
    * an aggregate and renamed by a later projection is still found. */
  def roundedDoubleOutputs(df: org.apache.spark.sql.DataFrame)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, Attribute, Expression, ExprId}
    import org.apache.spark.sql.catalyst.expressions.{Round, BRound}
    import org.apache.spark.sql.types.DoubleType
    val plan = df.queryExecution.analyzed
    val aliasMap: Map[ExprId, Expression] =
      plan.collect { case p =>
        p.expressions.flatMap(_.collect { case a: Alias => a })
      }.flatten.map(a => a.exprId -> a.child).toMap
    def hasRound(e: Expression, seen: Set[ExprId]): Boolean = e match {
      case r: Round if r.dataType == DoubleType => true
      case r: BRound if r.dataType == DoubleType => true
      case a: Attribute =>
        !seen(a.exprId) && aliasMap.get(a.exprId)
          .exists(hasRound(_, seen + a.exprId))
      case other => other.children.exists(hasRound(_, seen))
    }
    plan.output.collect {
      case a if a.dataType == DoubleType && hasRound(a, Set.empty) =>
        a.name
    }
  }

  /** Cached relations hide their plans from `executedPlan.toString`
    * (an InMemoryTableScan prints as a leaf), so a query built over
    * eagerly persisted frames — the funnel's step frames — would
    * otherwise dodge the NLJ tripwire entirely. Collect every cached
    * plan reachable from `p`, crossing AQE wrappers and nested
    * caches. */
  private def cachedPlans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // a cached relation referenced from several scans (or nested inside
    // another cached plan) must be counted ONCE — otherwise chained
    // caches (funnel step frames, LSH signatures) double-count their
    // shuffles/joins in the audit numbers
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[
        org.apache.spark.sql.execution.SparkPlan, java.lang.Boolean]())
    def walk(q: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val kids = q match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case other => other.children
      }
      val here = q match {
        case m: InMemoryTableScanExec if seen.add(m.relation.cachedPlan) =>
          val cp = m.relation.cachedPlan
          cp +: walk(cp)
        case _ => Seq.empty
      }
      here ++ kids.flatMap(walk)
    }
    walk(p)
  }

  /** Audit every contract query's physical plan at `sfDir`. */
  def audit(spark: SparkSession, sfDir: String): Seq[Audit] = {
    val oracled = SparkEntry.oracleSql.keySet
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // rounded-double tripwire only where the driver hashes the
        // output bit-exactly (oracled queries); rows-only queries may
        // emit whatever doubles they like
        val rounded =
          if (oracled.contains(name) && !roundedDoubleLegacy.contains(name))
            roundedDoubleOutputs(df)
          else Nil
        val exec = df.queryExecution.executedPlan
        val top = exec.toString
        val plan = (top +: cachedPlans(exec).map(_.toString)).mkString("\n")
        def count(s: String) = s.r.findAllIn(plan).size
        // scan leaves of the top plan only: a cached relation is one
        // InMemoryTableScan leaf however many scans built it
        def leaves(s: String) = s.r.findAllIn(top).size
        val joins = Seq(
          "BroadcastHashJoin" -> count("BroadcastHashJoin"),
          "SortMergeJoin" -> count("SortMergeJoin"),
          "ShuffledHashJoin" -> count("ShuffledHashJoin"),
          "BroadcastNestedLoopJoin" -> count("BroadcastNestedLoopJoin"),
          "CartesianProduct" -> count("CartesianProduct"))
          .filter(_._2 > 0)
        val shuffles = count("Exchange hashpartitioning") +
          count("Exchange rangepartitioning")
        val badNlj =
          (count("BroadcastNestedLoopJoin") + count("CartesianProduct")) > 0 &&
            !intentionalNlj.contains(name)
        Audit(name, shuffles, joins, badNlj || rounded.nonEmpty, None,
          rounded, leaves("Scan parquet"), leaves("InMemoryTableScan"))
      } catch {
        case e: Throwable =>
          val msg = Option(e.getMessage).filter(_.nonEmpty)
            .map(_.linesIterator.next()).getOrElse(e.getClass.getName)
          Audit(name, 0, Nil, flagged = true, Some(msg))
      } finally {
        // fixture queries may persist frames eagerly (funnel steps);
        // drop them so later audits aren't measured over foreign caches
        spark.catalog.clearCache()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val results = audit(spark, sfDir)
    results.foreach { a =>
      val joinStr = a.joins.map { case (k, v) => s"$k x$v" }.mkString(", ")
      val flag =
        if (a.error.isDefined) s"  <-- PLAN FAILED: ${a.error.get}"
        else if (a.roundedDoubles.nonEmpty)
          s"  <-- ROUNDED-DOUBLE ORACLED OUTPUT: ${a.roundedDoubles.mkString(",")}"
        else if (a.flagged) "  <-- UNEXPECTED NLJ"
        else ""
      println(f"[audit] ${a.name}%-24s shuffles=${a.shuffles}%-2d " +
        f"parquetScans=${a.parquetScans}%-3d inMemScans=${a.inMemScans}%-3d " +
        s"joins=[$joinStr]$flag")
    }
    println(s"[audit] flagged=${results.count(_.flagged)}")
    spark.stop()
  }
}
