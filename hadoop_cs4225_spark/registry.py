"""Central query registry backing ``__spark_entry__.py``.

Every operator module registers its public queries here with an optional
DuckDB oracle SQL string. The driver contract (``__spark_entry__.py``):

- ``queries()[name](spark, sf_dir) -> DataFrame``
- ``oracle_sql()[name]`` -> ANSI SQL DuckDB runs on the same parquet
  (views: region nation customer supplier part orders lineitem events
  documents embeddings), compared by row-count + schema +
  order-insensitive value-hash.

Rules enforced by convention here (SURVEY.md §5/§7):
- every computed column is aliased identically in Spark and SQL;
- every top-k/limit query defines a total order (deterministic ties);
- floating aggregates are rounded on both sides (ulp-reassociation
  differences between engines would break exact value-hashing).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Modules whose import populates the registry.
_OPERATOR_MODULES = (
    "hadoop_cs4225_spark.operators.wordcount",
    "hadoop_cs4225_spark.operators.relational",
    "hadoop_cs4225_spark.operators.windows",
    "hadoop_cs4225_spark.operators.funcs",
    "hadoop_cs4225_spark.operators.text_analysis",
    "hadoop_cs4225_spark.operators.dedup",
    "hadoop_cs4225_spark.operators.similarity",
    "hadoop_cs4225_spark.operators.pq",
    "hadoop_cs4225_spark.operators.ann_audit",
    "hadoop_cs4225_spark.operators.events_windows",
    "hadoop_cs4225_spark.operators.partitioned",
    "hadoop_cs4225_spark.operators.multimodal_ops",
    "hadoop_cs4225_spark.operators.joins_advanced",
    "hadoop_cs4225_spark.operators.sql_frontend",
    "hadoop_cs4225_spark.operators.tpch_more",
    "hadoop_cs4225_spark.operators.sketches",
    "hadoop_cs4225_spark.operators.udtf_ops",
    "hadoop_cs4225_spark.operators.cogroup_ops",
    "hadoop_cs4225_spark.operators.mining",
    "hadoop_cs4225_spark.operators.algo_ops",
    "hadoop_cs4225_spark.operators.clustering",
    "hadoop_cs4225_spark.operators.formats",
    "hadoop_cs4225_spark.operators.sampling",
    "hadoop_cs4225_spark.operators.pipeline_ops",
    "hadoop_cs4225_spark.operators.packing",
    "hadoop_cs4225_spark.operators.graph",
    "hadoop_cs4225_spark.operators.linalg",
    "hadoop_cs4225_spark.operators.bucketed",
    "hadoop_cs4225_spark.operators.training_set",
    "hadoop_cs4225_spark.operators.pandas_agg",
    "hadoop_cs4225_spark.operators.observability",
    "hadoop_cs4225_spark.sources.pydatasource",
    # composes text_analysis/similarity/pq queries+oracles (must
    # import after them, like ann_audit)
    "hadoop_cs4225_spark.operators.retrieval",
    # must stay LAST: composes registered queries/oracles from the
    # modules above (the ann_audit composition discipline)
    "hadoop_cs4225_spark.operators.health",
)

_loaded = False

#: Size of the driver's correctness window — the first N queries in
#: ``queries()`` iteration order get driver CORRECTNESS rows. Shared by
#: bench.py (headline split) and tests/test_oracle_parity.py so the two
#: can never silently diverge from ``_PRIORITY``.
PRIORITY_WINDOW = 50


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add ``fn`` to the registry under ``name``.

    Caller contract (ADVICE r13): a few queries ``persist()`` a
    per-invocation intra-query frame (basket pair generation, the
    byte-shingle set frame, the 5-gram explode) and cannot unpersist it
    before their terminal action runs. ``bench.py`` frees those blocks
    with ``spark.catalog.clearCache()`` after every timed query; any
    other long-lived session that invokes registered queries repeatedly
    should do the same (or accept evictable MEMORY_AND_DISK blocks
    accumulating for the session's lifetime). Session memos
    (``sinks.MEMOS``) deliberately use ``localCheckpoint`` so they
    survive that ``clearCache``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (idempotent)."""
    global _loaded
    if _loaded:
        return
    for mod in _OPERATOR_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Modules land milestone by milestone; only swallow the
            # "module itself not written yet" case.
            if mod.split(".")[-1] not in str(e):
                raise
    _loaded = True


#: PERMANENT window slots (VERDICT r11 task 5): the only queries tied
#: to the reference's own goldens (`/root/reference/input/answer{1,2}`
#: byte-exact replays + the WordCount contract) hold window seats every
#: round instead of rotating — the reference-faithful core must never
#: age out of driver verification. tests/test_oracle_parity.py asserts
#: membership; tests/test_golden_replay.py pins byte-exactness.
PERMANENT_PRIORITY = (
    "word_count",
    "topk_common_words_max",
    "topk_common_words_min",
)

#: Driver-correctness priority window. The driver records CORRECTNESS
#: rows for the FIRST 50 queries in ``queries()`` iteration order, and
#: the window is the min-staleness cut of the committed CORRECTNESS
#: history (tests/test_oracle_parity.py derives that rule from the
#: files). ROUND-15 ROTATION: rounds 13 and 14 both checked the same 50
#: queries, so this window = the 3 PERMANENT golden slots + the 13
#: registered queries no CORRECTNESS file has checked yet + the 20 rows
#: last checked in r06 (the oldest cohort; incl. the three rows-only
#: twins cosine_topk_pandas, label_centroid_stats, topk_users_approx,
#: each twin-checked every pytest run) + the first 14 of the 48 rows
#: last checked in r07, in registration order. The 34 r07 rows left
#: over are the next rotation seed: orders_sql_script_ewma,
#: weighted_aes_sample, source_mean_bootstrap_ci, events_user_path_topk,
#: lineitem_benford_audit, order_ship_delay_stats, skyline_orders_pareto,
#: events_max_concurrency, events_daily_cusum, events_count_acf,
#: doc_mad_outliers, lang_source_chi2, events_interval_coverage,
#: ship_delay_survival, orders_monthly_psi, orders_seasonal_decompose,
#: part_abc_classes, revenue_forecast_backtest, source_length_ks,
#: markov_next_event_accuracy, event_entropy_rate,
#: events_type_crosscorr, source_length_qnorm, events_theilsen_trend,
#: source_length_mannwhitney, orders_revenue_runs_test,
#: events_fano_factor, kmeans_embedding_clusters,
#: supplier_triangle_stats, supplier_communities_lpa,
#: corpus_to_training_set, corpus_health_report.
_PRIORITY = PERMANENT_PRIORITY + (
    # --- the 13 never driver-checked registrations ---
    "dedup_near_dup_gc",
    "newcrawl_near_dup_gate",
    "minhash_estimate_error_audit",
    "newcrawl_oov_rate",
    "dup_quality_interaction",
    "embedding_half_drift",
    "embedding_knn_label_noise",
    "ivf_reassignment_churn",
    "events_daily_ohlc",
    "media_byte_minhash_pairs",
    "cross_corpus_decon_report",
    "bloom_pruned_decon_docs",
    "lineitem_woe_iv",
    # --- the 20 r06-stale rows (oldest cohort) ---
    "events_hot_key_profile",
    "order_trend_regression",
    "star_constraint_audit",
    "order_window_rank_suite",
    "bpe_pair_counts",
    "quality_filter_funnel",
    "doc_unigram_logprob",
    "lang_confusion_matrix",
    "source_kl_divergence",
    "label_centroid_stats",  # rows-only, twin-checked
    "cosine_topk_pandas",  # rows-only, twin-checked
    "event_transition_matrix",
    "events_user_recency_churn",
    "user_activity_gini",
    "topk_users_approx",  # rows-only, twin-checked
    "epoch_shard_plan",
    "per_source_doc_cap",
    "order_fill_gap_cogroup",
    "customer_rfm_segments",
    "part_brand_affinity",
    # --- the first 14 of the 48 r07 rows, registration order ---
    "source_dup_cross_matrix",
    "source_length_powerlaw",
    "source_vocab_heaps",
    "bigram_pmi_topk",
    "doc_zipf_fit",
    "bm25_search_topk",
    "term_keyness_llr",
    "source_simpson_diversity",
    "source_vocab_jaccard",
    "quality_score_calibration",
    "doc_bigram_logprob",
    "label_norm_stats_arrow",  # rows-only, twin-checked
    "events_minute_peak",
    "events_weekly_seasonality",
)

def warm_shared_frames(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Materialize every declared session memo with ``warm=True``
    (``sinks.MEMOS``, walked upstream first) ahead of timing. bench.py
    calls this from its warmup so the first query of a memo-sharing
    family is not charged the whole family's pipeline build (VERDICT r8
    task 4). Each frame is bounded (short rows, capped fan-out), so
    warming is a constant-cost preamble at any SF. The five ANN
    method-result memos are declared ``warm=False``: they are results
    of registered queries, so their first consumer pays them inside the
    timed region (VERDICT r13 task 1).

    Returns per-memo build seconds keyed by memo kind, so bench.py can
    report what the untimed warmup costs."""
    import time as _time

    from hadoop_cs4225_spark.sources.sinks import walk_memos

    load_all()
    timings: dict[str, float] = {}
    for memo in walk_memos():
        if memo.warm:
            t0 = _time.perf_counter()
            # count() forces the lazy localCheckpoint to actually run.
            memo.get(spark, sf_dir).count()
            timings[memo.kind] = round(_time.perf_counter() - t0, 3)
    return timings


def warm_derived_layouts(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Materialize every declared DERIVED LAYOUT (``sinks.LAYOUTS``,
    walked upstream first) ahead of timing (VERDICT r9 task 6): these
    are write-once physical designs a cluster deployment builds as a
    pipeline step, so the bench should measure the PROBE cost of their
    queries — not charge whichever query runs first with the one-off
    layout build. Idempotent (each layout is freshness-guarded).
    Returns per-layout ensure seconds keyed by leaf, so bench.py can
    report what the untimed warmup costs (VERDICT r13 task 1; bench.py
    deletes the sf's ``.derived`` tree first so these are COLD build
    costs, not freshness checks)."""
    import time as _time

    from hadoop_cs4225_spark.sources import sinks

    load_all()
    timings: dict[str, float] = {}
    for layout in sinks.walk_layouts():
        t0 = _time.perf_counter()
        sinks.ensure(spark, sf_dir, layout)
        timings[layout.leaf] = round(_time.perf_counter() - t0, 3)
    return timings


def _prioritized(d: dict) -> dict:
    """Priority names first (in _PRIORITY order), the rest in
    registration order — dict insertion order carries the contract."""
    out = {n: d[n] for n in _PRIORITY if n in d}
    out.update((n, v) for n, v in d.items() if n not in out)
    return out


def get_queries() -> dict[str, QueryFn]:
    load_all()
    return _prioritized(QUERIES)


def get_oracles() -> dict[str, str]:
    load_all()
    return _prioritized(ORACLES)
