"""The written token-level index (VERDICT r12 task 2) — the unigram
twin of the shingle-postings layout.

Pins, following the shingle-layout discipline in test_plans.py:
- layout ≡ inline: the written (doc, source, word, tf) table carries
  exactly the explode+count frame, and the (word, df, cf) side table
  carries exactly its rollup;
- plan pins: every converted consumer's physical plan scans the
  layout, and the ones whose documents scan was fully displaced no
  longer scan documents.parquet at all;
- fingerprint coverage: the layout config moves with the tokenizer
  definition, and the side table's config extends the tf layout's (the
  ADVICE-r12 cascade rule).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_cs4225_spark import registry
from hadoop_cs4225_spark.operators.text_analysis import (
    _toks,
    ensure_token_counts,
    ensure_token_df,
    token_counts_frame,
    token_df_frame,
)
from hadoop_cs4225_spark.sources.tables import load_table
from tests.conftest import SF_ORACLE

registry.load_all()

#: Converted consumers whose documents.parquet scan is FULLY displaced
#: by the layout (any remaining documents scan would mean the rewrite
#: silently regressed to re-tokenizing).
_NO_DOCS_SCAN = (
    "doc_unigram_entropy",
    "doc_unigram_logprob",
    "source_kl_divergence",
    "source_vocab_heaps",
    "doc_zipf_fit",
    "term_keyness_llr",
    "source_simpson_diversity",
    "vocab_good_turing_chao1",
    "token_coverage_curve",
    "doc_readability_scores",
    "doc_keyword_tag_counts",
)

#: Converted consumers that legitimately keep one documents scan (a
#: 1-row corpus/doc count, or the BPE trainer's own corpus pass).
_DOCS_SCAN_OK = (
    "tfidf_top_terms",
    "token_burstiness",
    "token_chi2_feature_topk",
    "tokenizer_fertility_by_source",
)


def test_token_counts_layout_equals_inline(spark):
    path = ensure_token_counts(spark, SF_ORACLE)
    assert "documents_token_counts" in path
    docs = load_table(spark, SF_ORACLE, "documents")
    inline = (
        docs.select("doc_id", "source", F.explode(_toks()).alias("word"))
        .groupBy("doc_id", "source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    got = sorted(map(tuple, token_counts_frame(spark, SF_ORACLE).collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want


def test_token_df_side_table_equals_inline_rollup(spark):
    path = ensure_token_df(spark, SF_ORACLE)
    assert "documents_token_df" in path
    inline = (
        token_counts_frame(spark, SF_ORACLE, ("word", "tf"))
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
    )
    got = sorted(map(tuple, token_df_frame(spark, SF_ORACLE).collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want


def test_consumers_read_token_layout(spark):
    for name in _NO_DOCS_SCAN + _DOCS_SCAN_OK:
        df = registry.QUERIES[name](spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "documents_token_" in plan, (name, plan[:2000])
        if name in _NO_DOCS_SCAN:
            assert "documents.parquet" not in plan, (name, plan[:2000])


def test_vocab_jaccard_reads_layout_below_checkpoint(spark):
    """source_vocab_jaccard's localCheckpoint erases lineage from its
    final plan, so pin the layout scan on the pre-checkpoint frame it
    consumes (the _sig_index_frame pin pattern)."""
    from hadoop_cs4225_spark.operators.text_analysis import (
        _source_vocab_frame,
    )

    pre = _source_vocab_frame(spark, SF_ORACLE)
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "documents_token_counts" in plan, plan[:2000]
    assert "documents.parquet" not in plan, plan[:2000]


def test_token_index_config_covers_definition():
    from hadoop_cs4225_spark.operators.wordcount import TOKEN_DELIM_RE

    from hadoop_cs4225_spark.sources.sinks import LAYOUTS

    cfg = LAYOUTS["documents_token_counts"].fingerprint
    assert TOKEN_DELIM_RE in cfg
    assert "grain=doc,word" in cfg


def test_token_df_config_extends_tf_config(tmp_path, spark):
    """The side table is built FROM the tf layout, so its fingerprint
    must contain the tf layout's verbatim — a tokenizer change
    invalidates BOTH (the ADVICE-r12 sig-index cascade rule), and the
    layouts can never silently diverge in definition."""
    import os

    tf_path = ensure_token_counts(spark, SF_ORACLE)
    df_path = ensure_token_df(spark, SF_ORACLE)
    with open(os.path.join(tf_path, "_DERIVED_CONFIG")) as f:
        tf_cfg = f.read()
    with open(os.path.join(df_path, "_DERIVED_CONFIG")) as f:
        df_cfg = f.read()
    assert tf_cfg in df_cfg and df_cfg != tf_cfg
