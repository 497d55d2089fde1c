"""Round-14 optimization pins.

The r14 optimization round moved per-run corpus passes into written
layouts (the byte-shingle set/signature layouts, the 5-gram postings
index), rewrote ``lsh_recall_audit``'s ground-truth side onto the
postings index, and added an eviction path to the session memos.
Results are oracle-pinned elsewhere (test_oracle_parity /
replica_check); these tests pin the EQUIVALENCES and contracts the
rewrites rely on, so a future edit to one side cannot silently drift:

- the written byte-shingle set layout == the inline window computation,
  and the written byte signature index == signatures folded from it;
- the written 5-gram postings index == the inline explode + df count;
- ``lsh_recall_audit``'s postings-join ground truth == the former
  all-pairs array_intersect formulation (on the bounded slice);
- ``duplicate_ngram_coverage``'s query-time plan carries no explode /
  no join / no window (all three moved to index-build time);
- ``sinks.evict_memo`` drops a session memo and the next consumer
  rebuilds an identical frame (the storage-policy recompute path,
  VERDICT r13 task 8).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_cs4225_spark import registry
from tests.conftest import SF_SMOKE, assert_append_part, part_files

registry.load_all()


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_byte_shingle_set_layout_equals_inline(spark):
    from hadoop_cs4225_spark.operators.multimodal_ops import (
        _byte_shingle_sets,
        byte_shingle_sets_frame,
    )
    from hadoop_cs4225_spark.sources.tables import load_table

    inline = _byte_shingle_sets(load_table(spark, SF_SMOKE, "documents"))
    got = byte_shingle_sets_frame(spark, SF_SMOKE)
    # set column: compare order-insensitively inside the array too
    norm = lambda df: _rows(
        df.select("doc_id", F.array_sort("sh").alias("sh"))
    )
    assert norm(got) == norm(inline)


def test_byte_sig_layout_equals_fold_of_set_layout(spark):
    from hadoop_cs4225_spark.operators.multimodal_ops import (
        _byte_sigs_from_sets,
        byte_minhash_sigs_frame,
        byte_shingle_sets_frame,
    )

    got = byte_minhash_sigs_frame(spark, SF_SMOKE)
    want = _byte_sigs_from_sets(byte_shingle_sets_frame(spark, SF_SMOKE))
    assert _rows(got) == _rows(want)


def test_ngram5_postings_layout_equals_inline(spark):
    from hadoop_cs4225_spark.operators.text_analysis import (
        _ngram5_rows,
        ngram5_postings_frame,
    )
    from hadoop_cs4225_spark.sources.tables import load_table

    sh = _ngram5_rows(load_table(spark, SF_SMOKE, "documents"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).cast("long").alias("df"))
    inline = sh.join(dfreq, "sh").select("doc_id", "source", "sh", "df")
    got = ngram5_postings_frame(spark, SF_SMOKE)
    assert _rows(got) == _rows(inline)


def test_lsh_recall_ground_truth_matches_allpairs_form(spark):
    """The postings equi-join n_true must equal the former bounded
    all-pairs array_intersect count — the r14 rewrite is exact, not
    approximate."""
    from hadoop_cs4225_spark.operators.dedup import (
        AUDIT_SLICE,
        shingle_sets_frame,
    )

    sets = shingle_sets_frame(spark, SF_SMOKE).where(
        F.col("doc_id") <= AUDIT_SLICE
    )
    a = sets.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    b = sets.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (
        F.size("sh1") + F.size("sh2") - F.size(F.array_intersect("sh1", "sh2"))
    )
    want = (
        a.join(b, F.col("d1") < F.col("d2"))
        .where(inter / union >= 0.05)
        .count()
    )
    got = (
        registry.QUERIES["lsh_recall_audit"](spark, SF_SMOKE)
        .collect()[0]["n_true_pairs"]
    )
    assert got == want


def test_dup_ngram_coverage_query_plan_is_index_fold(spark):
    """Query-time plan: no Generate (explode), no Join, no Window —
    the 5-gram explode + frequency join live at index-build time."""
    df = registry.QUERIES["duplicate_ngram_coverage"](spark, SF_SMOKE)
    jplan = df._jdf.queryExecution().optimizedPlan()
    stack, seen = [jplan], set()
    while stack:
        node = stack.pop()
        seen.add(node.nodeName())
        for i in range(node.children().length()):
            stack.append(node.children().apply(i))
    assert not seen & {"Generate", "Join", "Window"}, seen


def test_media_byte_minhash_query_plan_reads_indexes(spark):
    """Query-time plan: no Generate over documents (the window explode
    lives at index-build time) — candidates come from the signature
    index, verify arrays from the set layout."""
    df = registry.QUERIES["media_byte_minhash_pairs"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().toString()
    assert "documents_byte_minhash_sigs" in plan
    assert "documents_byte_shingles" in plan
    assert "documents.parquet" not in plan


def test_evict_memo_rebuilds_identical_frame(spark):
    """Storage policy (VERDICT r13 task 8): evicting a session memo is
    safe — the next consumer rebuilds it from source, identically."""
    from hadoop_cs4225_spark.operators.graph import _trade_deg
    from hadoop_cs4225_spark.sources.sinks import evict_memo

    before = _rows(_trade_deg(spark, SF_SMOKE))
    assert evict_memo(spark, SF_SMOKE, "trade_deg") is True
    assert evict_memo(spark, SF_SMOKE, "trade_deg") is False  # already gone
    assert _rows(_trade_deg(spark, SF_SMOKE)) == before


def test_incremental_byte_shingles_matches_batch(spark, tmp_path):
    """The byte-shingle twin must converge to exactly the batch layout
    (sets AND sigs — document-local state), and a drained-source rerun
    must not change the index."""
    import os

    from hadoop_cs4225_spark.operators.multimodal_ops import (
        _byte_sigs_from_sets,
        byte_minhash_sigs_frame,
        byte_shingle_sets_frame,
    )
    from hadoop_cs4225_spark.sources.tables import load_table
    from hadoop_cs4225_spark.streaming import streams

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    got = streams.run_incremental_byte_shingles(spark, chunks, index_root, ckpt)
    norm = lambda df: _rows(df.select("doc_id", F.array_sort("sh").alias("sh")))
    assert norm(got) == norm(byte_shingle_sets_frame(spark, SF_SMOKE))
    # the sigs parts (one per batch) equal both the fold of the twin's
    # sets and the batch signature layout
    versions = sorted(d for d in os.listdir(index_root) if d.startswith("v"))
    assert len(versions) == 3, versions
    sigs = spark.read.parquet(
        *[os.path.join(index_root, v, "sigs") for v in versions]
    )
    assert _rows(sigs) == _rows(_byte_sigs_from_sets(got))
    assert _rows(sigs) == _rows(byte_minhash_sigs_frame(spark, SF_SMOKE))
    got2 = streams.run_incremental_byte_shingles(spark, chunks, index_root, ckpt)
    assert norm(got2) == norm(got)


def test_incremental_ngram5_postings_matches_batch(spark, tmp_path):
    """The 5-gram twin must converge to exactly the batch index
    (chunking order cannot matter: posts are document-local, df merges
    are commutative counts), and a rerun must not change it."""
    from hadoop_cs4225_spark.operators.text_analysis import (
        ngram5_postings_frame,
    )
    from hadoop_cs4225_spark.sources.tables import load_table
    from hadoop_cs4225_spark.streaming import streams

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    chunks = str(tmp_path / "chunks")
    docs.repartition(3).write.parquet(chunks)
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")
    got = streams.run_incremental_ngram5_postings(
        spark, chunks, index_root, ckpt
    )
    assert _rows(got) == _rows(ngram5_postings_frame(spark, SF_SMOKE))
    got2 = streams.run_incremental_ngram5_postings(
        spark, chunks, index_root, ckpt
    )
    assert _rows(got2) == _rows(got)


def test_incremental_ngram5_growth_is_o_batch(spark, tmp_path):
    """Append contract: a new batch adds exactly its own docs' posting
    rows; df rows for untouched shingles pass through unchanged."""
    from hadoop_cs4225_spark.operators.text_analysis import _ngram5_rows
    from hadoop_cs4225_spark.sources.tables import load_table
    from hadoop_cs4225_spark.streaming import streams

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    first = docs.where(F.col("doc_id") < 200)
    second = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    chunks = str(tmp_path / "chunks")
    index_root, ckpt = str(tmp_path / "index"), str(tmp_path / "ckpt")

    first.repartition(1).write.parquet(chunks)
    idx1 = streams.run_incremental_ngram5_postings(
        spark, chunks, index_root, ckpt
    )
    n1 = idx1.count()
    df1 = {
        r["sh"]: r["df"] for r in idx1.select("sh", "df").distinct().collect()
    }
    v0_files = part_files(index_root, 0, "posts")

    second.repartition(1).write.mode("append").parquet(chunks)
    idx2 = streams.run_incremental_ngram5_postings(
        spark, chunks, index_root, ckpt
    )
    assert idx2.count() == n1 + _ngram5_rows(second).count()
    assert_append_part(
        spark, index_root, "posts", _ngram5_rows(second), v0_files
    )
    touched = {r["sh"] for r in _ngram5_rows(second).select("sh").distinct().collect()}
    df2 = {
        r["sh"]: r["df"] for r in idx2.select("sh", "df").distinct().collect()
    }
    for s, d in df1.items():
        if s not in touched:
            assert df2[s] == d, (s, d, df2[s])
        else:
            assert df2[s] > d, (s,)
