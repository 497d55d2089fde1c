"""Empirical scaling probe: does each scale-critical query's runtime
grow ~linearly with corpus size?

The bench answers "how fast at sf0.1"; this answers the 100 TB question
the plan dossier argues statically — measured. Two input families:

- documents-driven queries (dedup/LSH/text/packing): the testdata
  corpus only reaches 5k docs at sf0.1, so the probe AMPLIFIES it to
  x1/x2/x4 under ``.derived/scaleprobe/``. Copy i suffixes every
  token with a copy-unique marker (a vocabulary bijection), which
  keeps every within-copy duplicate/near-dup/n-gram relation intact
  while making the copies' token and shingle universes pairwise
  disjoint — corpus size grows, duplicate DENSITY stays constant, so
  a linear algorithm should scale ~linearly (a quadratic all-pairs
  would show exponent ~2).
- lineitem/orders/events-driven queries: the real sf0.001/0.01/0.1
  dirs already scale 10x per step.

For each (query, sizes) the probe reports the fitted scaling exponent
``log(t_big / t_small) / log(n_big / n_small)`` between the largest two
sizes (after a warm-up run at the smallest size so session/codegen cost
is excluded) and flags exponents > 1.35 as super-linear. Constant
overheads make tiny-input exponents meaningless; sub-linear values just
mean fixed cost still dominates.

Usage::

    PYTHONPATH=/root/repo python tools/scale_probe.py                 # full
    PYTHONPATH=/root/repo python tools/scale_probe.py --quick         # smoke
    PYTHONPATH=/root/repo python tools/scale_probe.py --refresh-stale # stale rows only
    PYTHONPATH=/root/repo python tools/scale_probe.py --only q1 q2    # named rows

Writes SCALING.md at the repo root, row by row as each probe lands, so
an interrupted run keeps what it measured. Every row carries a
``probed_at`` UTC timestamp and the ``corpus`` digest it was measured
on: a sha256 over the relative path and bytes of every parquet file
under the testdata root. A row is STALE when its digest differs from
the current corpus or is missing — an exponent measured on a different
corpus is not evidence about this one, while the same bytes re-created
with a newer mtime are the same corpus. ``--refresh-stale`` re-probes
exactly the stale or missing rows and keeps every fresh row verbatim,
so the zero-super-linear claim stays live at the cost of re-measuring
only what moved; ``tests/test_tools.py`` asserts no committed row is
stale.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
import sys
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

from hadoop_cs4225_spark import registry
from hadoop_cs4225_spark.session import get_spark
from hadoop_cs4225_spark.sources import sinks
from hadoop_cs4225_spark.sources.sinks import DERIVED_ROOT, derived_is_fresh

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALING_PATH = os.path.join(ROOT, "SCALING.md")
BASE_SF = "/root/testdata/sf0.1"
TESTDATA_ROOT = "/root/testdata"
COPIES = (1, 2, 4)

#: documents-driven queries probed on the amplified corpora.
DOC_QUERIES = (
    # --- round-13 additions ---
    "media_byte_minhash_pairs",  # byte-shingle LSH: capped band fanout
    "dup_quality_interaction",  # pair-frame projection + band rollup
    "minhash_estimate_error_audit",  # pair-set-sized sig join
    "newcrawl_near_dup_gate",  # memoized pair frame + source projections
    "newcrawl_oov_rate",  # vocab-scale join over the written tf layout
    "dedup_near_dup_gc",  # fp-vocab groupBy + doc-keyed size join, no pairs
    "bloom_pruned_decon_docs",  # broadcast-bit prune + pruned exact join
    "cross_corpus_decon_report",  # new-batch shingles vs maintained index
    # --- round-12 additions ---
    "doc_keyword_tag_counts",
    "dedup_survivorship_report",
    "word_count",
    "simhash_fingerprints",
    "minhash_lsh_dup_pairs",
    "dedup_clusters",
    "shingle_idf_similarity_topk",
    "tfidf_top_terms",
    "bpe_pair_counts",
    "sequence_pack_bins",
    "curriculum_phase_bins",
    "doc_unigram_entropy",
    "lsh_recall_audit",  # id-bounded truth side, LSH side scales
    "dedup_canonical_keep",
    "duplicate_ngram_coverage",  # shingle-keyed join shuffle, skew-prone
    "doc_unigram_logprob",
    "quality_filter_funnel",
    "shingle_containment_pairs",  # df-banded self-join: fanout must stay capped
    "doc_winnowing_fingerprints",  # O(n*w) per-row window minima, map-only
    "source_kl_divergence",
    "lang_confusion_matrix",
    "per_source_doc_cap",  # bucketed rank: boundary window must stay bounded
    "source_length_powerlaw",
    "source_vocab_heaps",
    "bigram_pmi_topk",  # marginal joins must stay on the pruned pair set
    "source_dup_cross_matrix",  # memoized pair frame + source joins
    "doc_zipf_fit",  # global window must stay behind the top-k LIMIT
    "bm25_search_topk",  # one scan + one |docs|-row shuffle at any query length
    "term_keyness_llr",  # ln-of-integer cells; ranking input pre-pruned
    "source_simpson_diversity",
    "doc_mad_outliers",  # histogram medians: value-DOMAIN-bounded windows
    "lang_source_chi2",  # cells table bounded by the lang x source domain
    "weighted_aes_sample",  # per-source partitioned top-k only
    "source_vocab_jaccard",  # term-keyed join, source-domain fanout
    "doc_bigram_logprob",  # stream-keyed joins, no self-join
    "quality_score_calibration",
    "source_length_ks",  # sources x value-domain grid stays bounded
    "source_length_qnorm",  # bounded rank-interval range join
    "source_length_mannwhitney",  # histogram rank-sum, value-domain bounded
    "source_mean_bootstrap_ci",  # 32x row fanout, one pass, map-side combine
    "corpus_to_training_set",  # full pipeline chain: every stage must stay linear
    "doc_len_tok_spearman",  # histogram midranks: windows stay domain-bounded
    "doc_subword_stats_iterpandas",  # Arrow iterator UDF: map-only, batch-bounded
    "source_length_w1_drift",  # CDF-gap integral on the bounded value grid
    "source_token_waterfill",  # one partial agg + k-row source-domain frame
    "source_bigram_perplexity",  # bigram-stream shuffles + one doc-keyed join
    "eval_ngram_novelty",  # one shingle-keyed join vs the train shingle set
    # --- round-8 additions ---
    "source_length_welch_fdr",  # one partial agg + 20-row BH self-join
    "quality_brier_decomposition",  # one score pass + 10-bin aggregate
    "bigram_kneser_ney_topk",  # pair-count shuffle + vocab-bounded re-aggs
    "textrank_keywords_topk",  # vocab-bounded edge list, 3 equi-join rounds
    "doc_prefix_dup_groups",  # map-side prefix hash + one combine-heavy agg
    "eval_bloom_decon_audit",  # k-way bucket fanout vs broadcast bit table
    "training_set_shards",  # pipeline + parquet write + read-back
    "jaccard_prefix_filter_pairs",  # rarity-prefix candidates, df-capped
    "contrastive_pairs_manifest",  # memoized labels + hash-draw negatives
    "vocab_good_turing_chao1",  # explode + two map-side-combined aggs
    "nb_lang_classifier_acc",  # two train aggs + 5x test-token fanout
    "split_leakage_audit",  # memoized pairs + split-expression joins
    "token_context_entropy",  # pair-vocab windows, corpus-linear scan
    "quality_isotonic_calibration",  # score pass + constant bin algebra
    "dedup_methods_overlap",  # memoized LSH pairs + md5-group explode
    "media_chunk_dedup_ratio",  # 256-byte chunk hash rollup, map-heavy
    "doc_readability_scores",  # map-only syllable-run scan + source agg
    # --- round-9 additions ---
    "token_burstiness",  # token partial agg + distributed top-k
    "token_coverage_curve",  # vocab agg + LIMITed 10k cumulative
    "source_segmental_ttr",  # (source, doc, seg)-keyed partial aggs
    "doc_rake_keyphrases",  # per-doc prefix-sum + phrase-keyed aggs
    "lsh_band_planner",  # 3 band-keyed groupBys over the signature frame
    "token_window_pmi_topk",  # x2-skip window join, df-pruned marginals
    # --- round-10 gap-closing (VERDICT r9 task 2) + new ops ---
    "topk_common_words_max",  # the flagship: two-source agg + top-k
    "source_js_divergence_matrix",  # shared-vocab join, source-pair grid
    "doc_hapax_by_source",  # token partial agg + source rollup
    "token_chi2_feature_topk",  # presence aggs + df-pruned marginal join
    "doc_repetition_scores",  # two (doc, gram) map-side-combined shuffles
    "winnowing_dup_pairs",  # fingerprint-keyed join under the bucket cap
    # --- round-11 backlog ---
    "source_char_entropy",  # (doc, char) partial agg + doc-local windows
    "simhash_band_dup_pairs",  # 60-vote agg + capped band equi-join
    "bpe_merge_rounds",  # vocabulary-grain rounds after one word count
    "tokenizer_fertility_by_source",  # trainer + vocab-keyed apply join
    "span_corruption_manifest",  # posexplode + (doc, block) rollup
    "doc_fluency_outlier_gate",  # shared LM joins + bounded histograms
    "packing_efficiency_curve",  # one source-partitioned window + fan-out
    # --- round-11 registry-wide gap closing (VERDICT r10 task 5):
    # every remaining documents-only query ---
    "clean_corpus_stats",
    "curated_split_manifest",
    "decontamination_overlap",
    "dedup_cluster_size_histogram",  # memoized cluster labels + 1 agg
    "dedup_exact_summary",
    "doc_chunk_windows",
    "doc_fingerprints",
    "doc_quality_scores",
    "doc_repetition_signals",
    "doc_sentences_udtf",  # UDTF lateral join, map-only
    "doc_token_stats",
    "documents_hash_sample",
    "documents_split_stats",
    "documents_stratified_sample",
    "lang_id_heuristic",
    "lang_id_agreement_kappa",  # composes two doc-only classifiers
    "quality_score_auc",
    "media_byte_features",  # doc_id<=100 slice: must stay ~flat
    "media_byte_features_arrow",
    "media_frame_chunks",
    "media_metadata_stats",
    "minhash_signatures",  # index-build pipeline measured directly
    "mixture_weighted_sample",
    "ngram_jaccard_topk",
    "source_mixture_weights",
    "source_trimmed_stats_pandas",
    "token_length_histogram",
    "token_positions",
    "topk_common_words_min",  # golden twin of topk_common_words_max
    "topk_words_per_lang",
    "weighted_minhash_signatures",
    "binaryfile_docs_scan",  # derived binary-file layout (warmed/size)
)

#: embeddings-driven queries probed on amplified vector corpora. Copy i
#: applies a deterministic per-copy sign-flip pattern across dimensions
#: (flip dim d in copy i iff (d*31 + i*17) % 3 == 0, i > 0), which
#: preserves every within-copy cosine relation exactly (|v| unchanged,
#: pairwise dot products within a copy unchanged) while making
#: cross-copy cosines incoherent — vector count grows, near-dup density
#: stays constant.
EMB_QUERIES = (
    # --- round-13 additions ---
    "ivf_reassignment_churn",  # constant 64x16 re-score fanout, linear
    "embedding_knn_label_noise",  # ID-bounded probe side, corpus-linear scan
    "embedding_half_drift",  # (label x 2 x dim) centroid agg, corpus-linear
    # --- round-12 additions ---
    "embedding_residual_quant_audit",
    "embedding_near_dup_lsh",
    "ann_lsh_buckets",
    "ivf_ann_query_topk",
    "embedding_gram_topeig",
    "pq_code_histogram",
    "ivf_pq_query_topk",
    "ivf_pq_index_probe",  # DPP probe: should be ~flat in corpus size
    "ann_recall_audit",
    "ann_rerank_topk",
    "kmeans_embedding_clusters",  # per-iteration joins: linear in n per round
    "ann_ndcg_audit",  # constant fusion layer over the methods' own plans
    "mmr_diverse_topk",  # brute top-k plan + O(K*POOL^2) constant greedy layer
    "embedding_rp_distortion",  # map-only JL fold + tiny histogram agg
    "label_centroid_cosine",  # one posexplode agg into a (labels x dim) frame
    "kmeans_simplified_silhouette",  # one extra assignment-shaped pass
    "embedding_pca_two",  # deflated power iteration, per-round joins
    # --- round-9 additions ---
    "embedding_mahalanobis_outliers",  # (label, dim) moments + top-k window
    "embedding_triplet_margin",  # |V| x L x d single partial-agg shuffle
    "ann_index_balance_audit",  # two memoized-index rollups
    "embedding_maxsim_topk",  # |V| x subvector broadcast-probe shuffle
    # --- round-10 additions ---
    "embedding_signq_hamming_topk",  # 2-word popcount scan + top-k
    "ann_lsh_knn_graph_stats",  # bucket-keyed join + per-node top-k window
    # --- round-11 registry-wide gap closing (VERDICT r10 task 5):
    # every remaining embeddings-only query ---
    "ann_lsh_query_topk",
    "ann_lsh_multiprobe_topk",
    "cosine_topk_brute",  # the one intentionally linear full scan
    "cosine_topk_pandas",  # Arrow-UDF twin of the brute scan
    "embedding_array_features",
    "embedding_dim_stats",
    "embedding_int8_quant",
    "embedding_near_dup_pairs",  # id-bounded slice: must stay ~flat
    "ivf_inverted_lists",
    "label_centroid_stats",  # grouped-map pandas reduce
    "label_norm_stats_arrow",  # grouped-map arrow reduce
    "pq_adc_query_topk",
)

#: queries probed across the real sf dirs (10x data per step).
SF_QUERIES = (
    "events_daily_ohlc",  # one min_by/max_by partial-agg shuffle
    "lineitem_woe_iv",  # dollar-domain histogram cumulatives
    "orders_seasonal_naive_mase",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_tumbling_counts",
    "events_session_windows",
    "orders_profile_exact",
    "epoch_shard_plan",
    "bucketed_segment_revenue",
    "order_trend_regression",
    "events_daily_ewma",  # bounded per-type fold on top of the daily rollup
    "event_transition_matrix",
    "star_constraint_audit",
    "orders_cdc_apply",
    "user_activity_gini",  # two-level cumulative: histogram-sized after 2 shuffles
    "events_minute_peak",
    "events_user_path_topk",
    "events_user_recency_churn",
    "customer_rfm_segments",
    "part_brand_affinity",  # per-order pair fanout must stay bounded
    "order_fill_gap_cogroup",  # cogroup Arrow path
    "lineitem_benford_audit",
    "events_weekly_seasonality",
    "order_ship_delay_stats",  # fact-fact join + grouped exact percentile
    "orders_sql_script_ewma",  # calendar-bounded loop: must be ~flat in rows
    "skyline_orders_pareto",  # grid prune: survivors/window input must stay tiny
    "events_max_concurrency",  # partitioned sweep: 2 rows per event, 1 shuffle
    "events_interval_coverage",  # islands: 2 windows + 2 aggs, no self-join
    "events_daily_cusum",  # calendar-bounded daily frame after 1 shuffle
    "events_count_acf",
    "ship_delay_survival",  # one conditional-agg pass, no threshold fan-out
    "supplier_triangle_stats",  # degree-capped wedge join: fanout <= K^2 per node
    "supplier_communities_lpa",  # K-bounded messages per round
    "orders_monthly_psi",  # month x 10-bin grid after one count shuffle
    "events_fano_factor",  # bounded (type x minute) rollup + tiny reduce
    "part_abc_classes",  # two-level rank blocks: no global sort
    "revenue_forecast_backtest",  # calendar-bounded trailing window
    "markov_next_event_accuracy",  # one LEAD window + tiny per-state reduces
    "event_entropy_rate",
    "events_type_crosscorr",  # day-keyed join, domain-bounded pair space
    "events_theilsen_trend",  # calendar-bounded percentile groups
    "orders_seasonal_decompose",  # calendar-bounded month frame windows
    "events_multires_rollup",  # cascade: one raw shuffle, bounded coarser aggs
    "lineitem_correlation_matrix",  # one-pass 15-sum partial agg
    "orders_priority_price_kendall",  # bounded-grid pair collapse
    "hybrid_search_rrf",  # two arm scans + constant bounded-k fusion
    "user_freq_cms_audit",  # d-way fanout into 768 cells, map-side combined
    "user_distinct_hll_audit",  # 256 max-registers, map-side combined
    "partkey_join_size_estimate",  # key histogram + 1-row sum, no join run
    "events_changepoint_day",  # daily histogram + calendar-bounded windows
    "lineitem_decision_stump",  # cents histogram + bounded split search
    # --- round-8 additions ---
    "order_value_conformal_coverage",  # split scan + 5-partition quantile
    "supplier_adamic_adar_topk",  # degree-capped wedge join + anti-join
    "order_value_histogram_quantiles",  # domain-bounded buckets vs exact sort
    "lineitem_stump_cv",  # fold-histogram algebra, one scan
    "events_daily_hll_rollup",  # 64 registers/day + calendar range join
    "orders_cuped_adjustment",  # custkey partial agg + 1-row moments
    "lineitem_ridge_normal_eq",  # one scan -> 15 moments -> O(1) solve
    "kmv_distinct_sketch_audit",  # distinct fold + per-type k-min window
    "events_attribution_weights",  # user-keyed 7-day range join
    "customer_l_diversity_audit",  # bounded QI-dictionary aggregates
    "part_name_fuzzy_pairs",  # dictionary-grain q-gram blocking join
    "events_sprt_arms",  # daily partial agg + |days|^2 bounded join
    "orders_did_estimator",  # one scan -> 4-cell moments
    "lineitem_quantile_reg_grid",  # x11 grid fanout -> mergeable histogram
    "supplier_hits_scores",  # one edge-join shuffle per half-round
    "orders_negbin_overdispersion",  # per-day agg + 1-row moments
    "supplier_kcore_peeling",  # 3 shrinking degree-agg rounds
    "basket_name_rules",  # per-order pair fanout, width-bounded
    "customer_rfm_migration",  # two windowed halves + tercile joins
    # --- round-9 additions ---
    "priority_returnflag_mutual_info",  # orderkey join + 15-cell fold
    "lineitem_anova_returnflag",  # one partial-agg moment pass
    "lineitem_logit_fisher_step",  # two moment/score passes, no window
    "customer_order_gap_geomfit",  # custkey lag window + 9-cell GOF
    "events_markov_stationary",  # memoized LEAD counts + 5-state folds
    "user_freq_countsketch_audit",  # 768 signed cells, map-side combined
    "orders_window_group_limit_topn",  # WindowGroupLimit pre-shuffle prune
    "graph_degree_assortativity",  # degree joins on the K-bounded edges
    "supplier_local_clustering",  # C(K,2)-bounded wedge join per node
    "lineitem_weighted_quantiles",  # domain-bounded cents histogram walk
    "orders_hurst_rs",  # calendar-bounded blocks, <=32-row partitions
    "orders_periodogram_power",  # x5 period fan-out, 5-row fold
    "supplier_personalized_pagerank",  # per-round edge join + |V| left join
    # --- round-10 gap-closing (VERDICT r9 task 2) + new ops ---
    "decimal_exact_revenue",  # exact-decimal partial agg, one shuffle
    "lineitem_discount_elasticity",  # 11-cell log-log fold
    "supplier_nation_herfindahl",  # per-nation squared-share grid
    "events_user_entropy_topk",  # per-user plogp + distributed top-k
    "lineitem_simpson_slopes",  # pooled-vs-grouped moment folds
    "lineitem_two_way_interaction",  # factorial cell means, one pass
    "customer_cohort_ltv_curve",  # custkey agg + (cohort, age) rollup
    "orders_totalprice_reconciliation",  # orderkey join + cents compare
    "orders_jsonl_malformed_audit",  # two line-splittable text scans
    "orders_monthly_gumbel",  # calendar-bounded block maxima
    "orders_daily_ma_crossover",  # daily rollup + 7/28-day windows
    "events_hourly_profile_by_type",  # (type x 24) shares, one shuffle
    "date_dim_generate",  # generated calendar — input-size-free (flat)
    "lineitem_return_rate_eb_topk",  # supplier agg + shrinkage top-k
    "orders_kaplan_meier",  # orderkey agg + horizon-bounded cumulatives
    "lineitem_theil_decomposition",  # (suppkey, nation) agg + 25-row fold
    "lineitem_unpivot_profile",  # map-side x4 melt + bounded-domain agg
    "supplier_ktruss_peeling",  # degree-capped support joins, 2 rounds
    "customer_t_closeness_audit",  # QI-dictionary TVD aggregates
    # --- round-11 backlog ---
    "orders_weibull_delay_fit",  # day-domain CDF + 5-sum OLS fold
    "events_burst_scan_statistic",  # (type, minute) agg + RANGE window
    "lineitem_boosted_stumps",  # one histogram shuffle + 50-row algebra
    "orders_ar2_yule_walker",  # daily rollup + calendar-bounded lags
    "orders_spectral_entropy",  # x10 period fan-out, 10-row folds
    "ship_delay_nelson_aalen",  # orderkey agg + horizon-bounded cumsums
    "events_allan_variance",  # daily rollup + x4 dyadic block aggs
    "orders_holt_linear_smoothing",  # monthly rollup + bounded fold
    "customer_spend_lorenz_gini",  # custkey agg + spend-bucket windows
    "trade_bfs_hop_histogram",  # 6 frontier joins on the memoized edges
    "parquet_footer_stats_audit",  # footer-only parse + per-table extrema
    "kmv_intersection_audit",  # per-type k-min windows + dict pair joins
    "events_interarrival_fit",  # one partitioned lag + per-type moments
    "orders_mann_kendall_trend",  # daily rollup + |days|^2 bounded join
    "supplier_neighbor_jaccard_topk",  # degree-capped wedge join + top-k
    "trade_degree_powerlaw",  # one degree agg + 2-row tail fold
    "ship_delay_km_by_segment",  # orderkey agg + per-stratum cumsums
    "orders_logrank_test",  # pooled day-grid fold over bounded life tables
    # --- round-11 registry-wide gap closing (VERDICT r10 task 5):
    # every remaining relational/events query on the real sf sweep ---
    "approx_distinct_parts",
    "big_spender_customers",
    "brand_revenue",
    "conditional_expr_coverage",
    "corpus_health_report",  # composes 7 checks incl. orders PSI -> sf arm
    "customer_30day_window_spend",
    "customer_k_anonymity_audit",
    "customer_order_counts",
    "customer_order_multiset_ops",
    "customer_running_spend",
    "customers_without_orders",
    "event_freq_cms",
    "event_props_extract",
    "event_props_map",
    "event_props_variant",
    "event_type_prop_stats",
    "events_asof_join",
    "events_clustered_user_scan",  # derived layout (warmed per size)
    "events_cohort_retention",
    "events_daily_anomaly",
    "events_daily_rollup",
    "events_dedup_latest",
    "events_funnel_conversion",
    "events_gapfill_daily",
    "events_hot_key_profile",
    "events_partition_pruned_day",  # derived layout (warmed per size)
    "events_range_join",
    "events_rolling_active_users",
    "events_sliding_avg",
    "events_zorder_scan",  # derived layout (warmed per size)
    "lateral_top_customers",
    "lineitem_math_features",
    "nation_customer_lists",
    "nation_metrics_unpivot",
    "nation_presence_setops",
    "nested_struct_pruned_rollup",  # derived layout (warmed per size)
    "order_date_features",
    "order_neighbors",
    "order_quartiles",
    "order_value_percentiles",
    "order_value_percentiles_approx",
    "order_value_winsorized",
    "order_window_rank_suite",
    "orders_csv_scan_rollup",  # derived layout (warmed per size)
    "orders_jsonl_scan_rollup",  # derived layout (warmed per size)
    "orders_orc_scan_rollup",  # derived layout (warmed per size)
    "orders_param_sql_rollup",
    "orders_profile",
    "orders_revenue_runs_test",
    "orders_scan_observed",
    "orders_schema_evolution_scan",  # derived layout (warmed per size)
    "orders_upsert_merge",
    "orders_xml_scan_rollup",  # derived layout (warmed per size)
    "pagerank_trade_network",
    "part_string_features",
    "parts_never_shipped",
    "pii_redaction_scrub",
    "pyds_scan_rollup",  # synthetic python source — input-size-free
    "q2_min_balance_supplier",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q7_nation_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q11_important_part_values",
    "q12_shipmode_priority",
    "q13_customer_order_histogram",
    "q14_promo_revenue_ratio",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q19_disjunctive_predicates",
    "q20_part_stock_suppliers",
    "q21_waiting_suppliers",
    "q22_idle_rich_customers",
    "recursive_order_chain",
    "region_nation_rollup",
    "region_status_grid",
    "returnflag_qty_pivot",
    "revenue_grouping_sets",
    "segment_account_stats",
    "sketch_distinct_users_by_type",
    "skew_salted_agg",
    "status_priority_cube",
    "string_edit_distance",  # 25-row nation dictionary — ~flat
    "supplier_nation_full_join",
    "top_orders_per_customer",
    "topk_users_approx",
    "user_event_map_algebra",
    "user_state_scd2",
)
SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

SUPERLINEAR = 1.35

#: Queries that materialize a derived layout keyed on sf_dir (mtime-
#: guarded index/table builds): warm once PER SIZE before timing so the
#: exponent measures the steady-state query, not the one-off build (the
#: build pipeline's scaling is probed separately, e.g. the IVF-PQ code
#: table via pq_code_histogram).
WARM_PER_SIZE = {
    "ivf_pq_index_probe",
    "bucketed_segment_revenue",
    # derived dirty-JSONL feed build is a one-off layout step
    "orders_jsonl_malformed_audit",
    # round-11 sweep additions whose first run at a size builds an
    # mtime-guarded derived layout (format exports / partitioned /
    # z-ordered / clustered copies / binary-file fixture)
    "events_clustered_user_scan",
    "events_partition_pruned_day",
    "events_zorder_scan",
    "nested_struct_pruned_rollup",
    "orders_csv_scan_rollup",
    "orders_jsonl_scan_rollup",
    "orders_orc_scan_rollup",
    "orders_schema_evolution_scan",
    "orders_xml_scan_rollup",
    "binaryfile_docs_scan",
}


def ensure_amplified(spark, k: int) -> str:
    """x{k} corpus: k distinct-by-construction copies of sf0.1 docs.

    Copy i >= 1 suffixes EVERY token with "~i" — a bijection on the
    token vocabulary, so every within-copy duplicate / near-dup /
    n-gram relation is preserved exactly, while the copies' token and
    shingle universes are pairwise DISJOINT (an earlier scheme
    reversed the token order with one prepended tag token, which made
    copies 1..k-1 near-identical to EACH OTHER — their shingle sets
    overlapped ~fully — so any exact pair-reporting operator had a
    genuinely quadratic TRUE output on the amplified corpus and the
    probe flagged the operator for the corpus's sin)."""
    out = os.path.join(DERIVED_ROOT, "scaleprobe", f"x{k}")
    marker = os.path.join(out, "documents.parquet", "_SUCCESS")
    src = os.path.join(BASE_SF, "documents.parquet")
    if not derived_is_fresh(marker, src):
        docs = spark.read.parquet(src)
        parts = [docs]
        for i in range(1, k):
            parts.append(
                docs.select(
                    (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                    F.array_join(
                        F.transform(
                            F.filter(
                                F.split(F.col("text"), r"\s+"),
                                lambda x: x != "",
                            ),
                            lambda x: F.concat(x, F.lit(f"~{i}")),
                        ),
                        " ",
                    ).alias("text"),
                    "lang",
                    "source",
                    "n_chars",
                )
            )
        amp = parts[0]
        for p in parts[1:]:
            amp = amp.unionByName(p)
        amp.repartition(8).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
    return out


def ensure_amplified_emb(spark, k: int) -> str:
    """x{k} vector corpus next to the x{k} documents (same dir so one
    sf_dir serves queries that read either table)."""
    out = os.path.join(DERIVED_ROOT, "scaleprobe", f"x{k}")
    marker = os.path.join(out, "embeddings.parquet", "_SUCCESS")
    src = os.path.join(BASE_SF, "embeddings.parquet")
    if not derived_is_fresh(marker, src):
        emb = spark.read.parquet(src)
        dim = len(emb.select("embedding").first()["embedding"])
        parts = [emb]
        for i in range(1, k):
            signs = F.array(
                *[
                    F.lit(-1.0 if (d * 31 + i * 17) % 3 == 0 else 1.0)
                    for d in range(dim)
                ]
            )
            parts.append(
                emb.select(
                    (F.col("vec_id") + i * 1_000_000).alias("vec_id"),
                    "label",
                    F.zip_with(
                        "embedding", signs, lambda x, s: (x * s).cast("float")
                    ).alias("embedding"),
                )
            )
        amp = parts[0]
        for p in parts[1:]:
            amp = amp.unionByName(p)
        amp.repartition(8).write.mode("overwrite").parquet(
            os.path.join(out, "embeddings.parquet")
        )
    return out


def timed(fn, spark, sf_dir: str) -> float:
    # Queries share session memos (sinks.MEMOS) — correct for a long
    # session, but here a memo hit would time a no-op and fake a ~0
    # exponent. Clear before every timed run so each measurement pays
    # its own full pipeline.
    from hadoop_cs4225_spark.sources import sinks

    sinks.MEMO_FRAMES.clear()
    # Also drop CacheManager entries: the LSH shingle-set persist() is
    # plan-matched, so a later query rebuilding the identical subtree
    # would be served from cache and skip exactly the corpus-scaling
    # stage this probe exists to measure.
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    fn(spark, sf_dir).collect()
    return time.perf_counter() - t0


def exponent_adjudicated(fn, spark, dirs, k0, k1, ratio, ts):
    """Exponent between the two largest sizes, with SYMMETRIC
    min-over-2-runs adjudication (ADVICE r9): the top two sizes are
    ALWAYS re-timed once and the per-size MIN used, regardless of what
    the first estimate said. The r9 version re-timed only on a
    super-linear flag — a one-sided rule that could downgrade a
    noise-faked quadratic verdict but never catch a noise-masked FAST
    top-size run hiding a genuinely super-linear query. Both the raw
    (first-run) and adjudicated exponents are returned and land in
    SCALING.md, so the zero-super-linear claim is auditable against
    the unadjudicated measurements. (A 45-minute probe run accumulates
    GC/page-cache noise: round-9 jaccard prefix join measured 0.44 and
    1.59 in consecutive full runs; standalone re-timing gave
    0.63-0.66.)"""
    raw = math.log(ts[k1] / ts[k0]) / math.log(ratio)
    for k in (k0, k1):
        ts[k] = min(ts[k], timed(fn, spark, dirs[k]))
    adj = math.log(ts[k1] / ts[k0]) / math.log(ratio)
    return raw, adj


def coverage_gaps() -> tuple[list[str], list[str]]:
    """(registered-but-unlisted, listed-but-unregistered) — both must
    be empty for the registry-wide zero-super-linear claim (VERDICT
    r10 task 5). Also pinned by tests/test_tools.py so a new
    registration without a probe arm fails pytest, not just the
    probe run."""
    registry.load_all()
    listed = set(DOC_QUERIES) | set(EMB_QUERIES) | set(SF_QUERIES)
    return (
        sorted(set(registry.QUERIES) - listed),
        sorted(listed - set(registry.QUERIES)),
    )


def corpus_digest(root: str = TESTDATA_ROOT) -> str:
    """sha256 over the relative path and bytes of every parquet file
    (and ``_SUCCESS`` marker) under ``root``, walked in sorted order —
    the identity of the corpus a SCALING row was measured on. Unlike
    an mtime it survives re-creating the same bytes and changes with
    any one byte."""
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            if not (n.endswith(".parquet") or n == "_SUCCESS"):
                continue
            path = os.path.join(dirpath, n)
            h.update(os.path.relpath(path, root).encode() + b"\0")
            with open(path, "rb") as f:
                data = f.read()
            h.update(len(data).to_bytes(8, "little") + data)
    return h.hexdigest()


_ROW_RE = re.compile(
    r"^\| (?P<name>\S+) \| (?P<span>\S+) \| (?P<ts>[^|]+) \| "
    r"(?P<raw>-?\d+\.\d+) \| (?P<exp>-?\d+\.\d+) \| (?P<verdict>[^|]+?) "
    r"\| (?P<probed_at>\S+) \| (?P<corpus>\S+) \|$"
)


def read_scaling_rows() -> dict[str, dict]:
    """Parse the committed SCALING.md into {query: row} (empty when the
    file is absent or pre-dates the corpus column)."""
    rows: dict[str, dict] = {}
    if not os.path.exists(SCALING_PATH):
        return rows
    with open(SCALING_PATH) as f:
        for line in f:
            m = _ROW_RE.match(line.strip())
            if m:
                rows[m.group("name")] = m.groupdict()
    return rows


def parse_probed_at(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def row_is_stale(row: dict, digest: str) -> bool:
    """True when the row was measured on another corpus or records none."""
    return row.get("corpus") != digest


def _fmt_row(row: dict) -> str:
    return (
        f"| {row['name']} | {row['span']} | {row['ts']} | {row['raw']} "
        f"| {row['exp']} | {row['verdict']} | {row['probed_at']} "
        f"| {row['corpus']} |"
    )


def write_scaling(rows: dict[str, dict], master: str) -> int:
    """Write SCALING.md from ``rows`` in probe-list order; returns the
    number of SUPER-LINEAR rows."""
    order = [n for n in (*DOC_QUERIES, *EMB_QUERIES, *SF_QUERIES) if n in rows]
    lines = [
        "# SCALING — measured runtime-vs-corpus-size exponents",
        "",
        f"Generated by `tools/scale_probe.py` on {master}. Exponent =",
        "log(time ratio)/log(data ratio) between the two largest sizes,",
        "after a warm-up run (session/codegen cost excluded). ~1.0 =",
        "linear; > 1.35 flagged SUPER-LINEAR; < 1 = fixed cost still",
        "dominates at these sizes. Amplified corpora keep duplicate",
        "density constant (copies are mutually non-duplicate), so the",
        "dedup/LSH exponents measure the algorithm, not pair blow-up.",
        "Adjudication is SYMMETRIC: the top two sizes are always timed",
        "twice and the per-size MIN used; `exp_raw` is the first-run",
        "estimate (kept so the adjudication itself is auditable) and",
        "`exponent` the adjudicated value the verdict uses. Each row",
        "carries the UTC time it was probed and the sha256 `corpus`",
        "digest of the testdata parquet it was measured on; a row whose",
        "digest differs from the current testdata is STALE and",
        "re-probed by `scale_probe.py --refresh-stale`",
        "(tests/test_tools.py asserts none are committed stale).",
        "",
        "| query | sizes | times (s) | exp_raw | exponent | verdict | probed_at | corpus |",
        "|---|---|---|---|---|---|---|---|",
    ]
    n_super = 0
    for name in order:
        n_super += rows[name]["verdict"].strip() != "ok"
        lines.append(_fmt_row(rows[name]))
    with open(SCALING_PATH, "w") as f:
        f.write("\n".join(lines) + "\n")
    return n_super


def main() -> int:
    quick = "--quick" in sys.argv
    refresh_stale = "--refresh-stale" in sys.argv
    only: set[str] | None = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1 :])
    registry.load_all()
    unlisted, stale = coverage_gaps()
    assert not unlisted, f"registered queries missing a probe arm: {unlisted}"
    assert not stale, f"probe lists reference unregistered queries: {stale}"

    prior = read_scaling_rows()
    digest = corpus_digest()

    def selected(name: str) -> bool:
        if only is not None:
            return name in only
        if refresh_stale:
            return name not in prior or row_is_stale(prior[name], digest)
        return True

    doc_names = [n for n in (DOC_QUERIES[:3] if quick else DOC_QUERIES) if selected(n)]
    emb_names = [n for n in (EMB_QUERIES[:1] if quick else EMB_QUERIES) if selected(n)]
    sf_names = [n for n in (SF_QUERIES[:2] if quick else SF_QUERIES) if selected(n)]
    n_sel = len(doc_names) + len(emb_names) + len(sf_names)
    print(
        f"probing {n_sel} queries "
        f"({'refresh-stale' if refresh_stale else 'only' if only else 'full'}); "
        f"{len(prior)} prior rows"
    )
    spark = get_spark(app_name="scale-probe")
    master = spark.sparkContext.master
    # Freshly-probed rows override; untouched FRESH prior rows carry
    # over verbatim (their probed_at and corpus stay honest).
    merged = dict(prior)

    def stamp() -> str:
        return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")

    def record(name, span, ts, raw, exp):
        verdict = "SUPER-LINEAR" if exp > SUPERLINEAR else "ok"
        merged[name] = {
            "name": name,
            "span": span,
            "ts": ", ".join(f"{k}:{v:.2f}" for k, v in ts.items()),
            "raw": f"{raw:.2f}",
            "exp": f"{exp:.2f}",
            "verdict": verdict,
            "probed_at": stamp(),
            "corpus": digest,
        }
        write_scaling(merged, master)
        print(f"{name:34s} {span:14s} raw={raw:5.2f} exp={exp:5.2f} {verdict}")

    copies = COPIES[:2] if quick else COPIES
    if doc_names or emb_names:
        dirs = {k: ensure_amplified(spark, k) for k in copies}
        # pre-build every layout derived from documents per amplified
        # dir, so the one-off builds never land inside a timed run
        for k in copies:
            for layout in sinks.walk_layouts(("documents",)):
                sinks.ensure(spark, dirs[k], layout)
    for name in doc_names:
        fn = registry.QUERIES[name]
        timed(fn, spark, dirs[copies[0]])  # warm: session + codegen
        if name in WARM_PER_SIZE:
            for k in copies[1:]:
                timed(fn, spark, dirs[k])
        ts = {k: timed(fn, spark, dirs[k]) for k in copies}
        k0, k1 = copies[-2], copies[-1]
        raw, exp = exponent_adjudicated(fn, spark, dirs, k0, k1, k1 / k0, ts)
        record(name, f"x{k0}->x{k1}", ts, raw, exp)

    if emb_names:
        for k in copies:
            ensure_amplified_emb(spark, k)
    for name in emb_names:
        fn = registry.QUERIES[name]
        timed(fn, spark, dirs[copies[0]])
        if name in WARM_PER_SIZE:
            for k in copies[1:]:
                timed(fn, spark, dirs[k])
        ts = {k: timed(fn, spark, dirs[k]) for k in copies}
        k0, k1 = copies[-2], copies[-1]
        raw, exp = exponent_adjudicated(fn, spark, dirs, k0, k1, k1 / k0, ts)
        record(name, f"x{k0}->x{k1}", ts, raw, exp)

    for name in sf_names:
        fn = registry.QUERIES[name]
        timed(fn, spark, SF_DIRS[0])
        if name in WARM_PER_SIZE:
            for d in SF_DIRS[1:]:
                timed(fn, spark, d)
        ts = {d.rsplit("sf", 1)[1]: timed(fn, spark, d) for d in SF_DIRS}
        sf_dirs_by_tag = {d.rsplit("sf", 1)[1]: d for d in SF_DIRS}
        raw, exp = exponent_adjudicated(
            fn, spark, sf_dirs_by_tag, "0.01", "0.1", 10, ts
        )
        record(name, "sf0.01->sf0.1", ts, raw, exp)

    n_super = write_scaling(merged, master)
    print(f"\nSCALING.md written; super-linear: {n_super}")
    spark.stop()
    return 1 if n_super else 0


if __name__ == "__main__":
    sys.exit(main())
