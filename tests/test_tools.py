"""Tests for the round tooling and the dedup materialized-intermediate
memo semantics (round-5 review fixes)."""

from __future__ import annotations

import json
import os

import pytest


def test_bench_compare_sf_mismatch_is_not_green(tmp_path, monkeypatch):
    """A detail/baseline pair at different scale factors is ungateable —
    the tool must exit nonzero (2), never read as a passing gate."""
    from tools import bench_compare

    detail = tmp_path / "BENCH_DETAIL.json"
    base = tmp_path / "BENCH_BASELINE.json"
    detail.write_text(json.dumps({"sf": 0.01, "total_sec": 1.0, "queries": {"q": 1.0}}))
    base.write_text(json.dumps({"sf": 0.1, "total_sec": 1.0, "queries": {"q": 1.0}}))
    monkeypatch.setattr(bench_compare, "DETAIL", str(detail))
    monkeypatch.setattr(bench_compare, "BASELINE", str(base))
    monkeypatch.setattr("sys.argv", ["bench_compare.py"])
    assert bench_compare.main() == 2


def test_bench_compare_regression_gates(tmp_path, monkeypatch):
    from tools import bench_compare

    detail = tmp_path / "BENCH_DETAIL.json"
    base = tmp_path / "BENCH_BASELINE.json"
    base.write_text(json.dumps({"sf": 0.1, "total_sec": 2.0, "queries": {"q": 1.0, "r": 1.0}}))
    # q regressed 2x (above FLOOR), total within bounds
    detail.write_text(json.dumps({"sf": 0.1, "total_sec": 2.5, "queries": {"q": 2.0, "r": 0.5}}))
    monkeypatch.setattr(bench_compare, "DETAIL", str(detail))
    monkeypatch.setattr(bench_compare, "BASELINE", str(base))
    monkeypatch.setattr("sys.argv", ["bench_compare.py"])
    assert bench_compare.main() == 1


def test_bench_compare_host_normalization(tmp_path, monkeypatch):
    """With a real shared sample, a uniform host slowdown must NOT
    gate (every ratio shifts together), while a lone genuine
    regression on top of it still must."""
    import json as _json

    from tools import bench_compare

    detail = tmp_path / "BENCH_DETAIL.json"
    base = tmp_path / "BENCH_BASELINE.json"
    n = bench_compare.MIN_SHARED + 5
    bq = {f"q{i}": 1.0 for i in range(n)}
    base.write_text(_json.dumps({"sf": 0.1, "total_sec": float(n), "queries": bq}))
    monkeypatch.setattr(bench_compare, "DETAIL", str(detail))
    monkeypatch.setattr(bench_compare, "BASELINE", str(base))
    monkeypatch.setattr("sys.argv", ["bench_compare.py"])
    # uniform 1.8x host slowdown: raw gate would flag everything; the
    # median-normalized gate must pass
    cq = {k: 1.8 for k in bq}
    detail.write_text(_json.dumps({"sf": 0.1, "total_sec": 1.8 * n, "queries": cq}))
    assert bench_compare.main() == 0
    # same host shift plus ONE real 2x-on-top regression: must gate
    cq["q0"] = 1.8 * 2.0
    detail.write_text(
        _json.dumps({"sf": 0.1, "total_sec": sum(cq.values()), "queries": cq})
    )
    assert bench_compare.main() == 1


@pytest.mark.parametrize("user", ["memo", "read_derived", "load_table"])
def test_session_cache_evicts_dead_sessions(spark, tmp_path, user):
    """Entries keyed under another applicationId (a stopped context's
    plans and checkpointed frames) must be evicted when a new session
    inserts, by every user of the session cache."""
    from hadoop_cs4225_spark.sources import sinks, tables

    if user == "memo":
        cache = sinks.MEMO_FRAMES
        memo = sinks.Memo(
            "test_kind", (), (), (), False,
            lambda spark, sf_dir: spark.range(1).localCheckpoint(),
        )

        def call():
            return memo.get(spark, str(tmp_path))
    elif user == "read_derived":
        cache = sinks.LAYOUT_READS
        path = str(tmp_path / "layout")
        spark.range(3).write.parquet(path)
        open(os.path.join(path, sinks.DERIVED_CONFIG), "w").close()

        def call():
            return sinks.read_derived(spark, path)
    else:
        cache = tables.TABLE_READS
        spark.range(3).write.parquet(str(tmp_path / "t.parquet"))

        def call():
            return tables.load_table(spark, str(tmp_path), "t")

    saved = dict(cache.entries)
    try:
        cache.clear()
        dead = ("app-dead-123", "/tmp/x")
        cache.entries[dead] = (0, "sentinel")
        out = call()
        assert dead not in cache.entries, "dead-session entry retained"
        assert len(cache.entries) == 1
        # second call is a hit — no rebuild, same object
        assert call() is out
    finally:
        cache.clear()
        cache.entries.update(saved)


def test_shingle_cache_released_after_pairs_build(spark, monkeypatch):
    """_verified_pairs must take NO persist() at all since r12: the
    shingle sets come from the written .derived layout (two
    column-pruned parquet scans replace the session cache), so the
    round-5 persist-accumulation class is structurally gone — any
    persist this spy sees is a regression reintroducing it. (Pre-r12
    the contract was persist==unpersist; the layout made even that
    unnecessary.)"""
    # Spark 4: the runtime class is the classic subclass, which
    # overrides persist/unpersist — patching the pyspark.sql.DataFrame
    # base would intercept nothing.
    from pyspark.sql.classic.dataframe import DataFrame

    from hadoop_cs4225_spark.operators import dedup
    from hadoop_cs4225_spark.sources import sinks

    counts = {"persist": 0, "unpersist": 0}
    real_persist, real_unpersist = DataFrame.persist, DataFrame.unpersist

    def persist(self, *a, **kw):
        counts["persist"] += 1
        return real_persist(self, *a, **kw)

    def unpersist(self, *a, **kw):
        counts["unpersist"] += 1
        return real_unpersist(self, *a, **kw)

    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(DataFrame, "persist", persist)
    monkeypatch.setattr(DataFrame, "unpersist", unpersist)
    sinks.evict_memo(spark, SF_SMOKE, "lsh_pairs")
    try:
        df = dedup._verified_pairs(spark, SF_SMOKE)
        assert counts["persist"] == 0, counts
        assert counts["unpersist"] == 0, counts
        assert df.columns == ["d1", "d2", "jaccard"]
    finally:
        sinks.evict_memo(spark, SF_SMOKE, "lsh_pairs")


def test_scale_probe_covers_entire_registry():
    """VERDICT r10 task 5: every registered query must belong to a
    probe arm (amplified-docs / amplified-embeddings / real-sf sweep)
    so 'zero super-linear' is a registry-wide claim — and the lists
    must not reference unregistered names."""
    from tools import scale_probe

    unlisted, stale = scale_probe.coverage_gaps()
    assert not unlisted, f"queries missing a probe arm: {unlisted}"
    assert not stale, f"probe lists reference unregistered: {stale}"
    all_lists = (
        list(scale_probe.DOC_QUERIES)
        + list(scale_probe.EMB_QUERIES)
        + list(scale_probe.SF_QUERIES)
    )
    dupes = sorted({q for q in all_lists if all_lists.count(q) > 1})
    assert not dupes, f"query in more than one probe arm: {dupes}"


def test_scaling_rows_carry_probed_at_and_none_predate_testdata():
    """VERDICT r11 task 6: every SCALING.md row must carry a parseable
    probed_at stamp and must have been measured on the current testdata
    corpus — an exponent measured on another corpus is not evidence
    about this one. The corpus is identified by its content digest, so
    re-creating the same bytes with a newer mtime keeps rows fresh. When
    the testdata bytes change, re-run `scale_probe.py --refresh-stale`
    (stale rows only) to turn this green again."""
    from tools import scale_probe

    rows = scale_probe.read_scaling_rows()
    assert rows, "SCALING.md has no parseable rows (corpus column missing?)"
    for r in rows.values():
        scale_probe.parse_probed_at(r["probed_at"])
    digest = scale_probe.corpus_digest()
    stale = sorted(n for n, r in rows.items() if scale_probe.row_is_stale(r, digest))
    assert not stale, (
        f"{len(stale)} SCALING rows were measured on another corpus — run "
        f"tools/scale_probe.py --refresh-stale: {stale[:10]}..."
    )


def test_scaling_covers_entire_registry_rows():
    """Every registered query must have a SCALING.md row (registry-wide
    zero-super-linear is only a claim over rows that exist)."""
    from hadoop_cs4225_spark import registry
    from tools import scale_probe

    rows = scale_probe.read_scaling_rows()
    if not rows:
        import pytest

        pytest.skip("SCALING.md not yet regenerated with probed_at rows")
    registry.load_all()
    missing = sorted(set(registry.QUERIES) - set(rows))
    assert not missing, f"queries without a SCALING row: {missing[:10]}"


def test_scale_probe_row_roundtrip(tmp_path, monkeypatch):
    """_fmt_row output must parse back through read_scaling_rows, and
    staleness follows the corpus bytes, not their mtimes."""
    import os

    from tools import scale_probe

    corpus = tmp_path / "testdata"
    (corpus / "sf0.001" / "docs.parquet").mkdir(parents=True)
    part = corpus / "sf0.001" / "docs.parquet" / "part-0.parquet"
    part.write_bytes(b"PAR1 rows PAR1")
    (corpus / "sf0.001" / "docs.parquet" / "_SUCCESS").write_bytes(b"")
    (corpus / "sf0.001" / "orders.parquet").write_bytes(b"PAR1 orders PAR1")
    digest = scale_probe.corpus_digest(str(corpus))

    row = {
        "name": "q_example",
        "span": "x2->x4",
        "ts": "1:0.51, 2:0.30, 4:0.35",
        "raw": "-0.23",
        "exp": "0.19",
        "verdict": "ok",
        "probed_at": "2026-08-16T13:00:00Z",
        "corpus": digest,
    }
    path = tmp_path / "SCALING.md"
    path.write_text("header\n" + scale_probe._fmt_row(row) + "\n")
    monkeypatch.setattr(scale_probe, "SCALING_PATH", str(path))
    back = scale_probe.read_scaling_rows()
    assert back == {"q_example": row}
    scale_probe.parse_probed_at(back["q_example"]["probed_at"])

    # same bytes re-created later: newer mtimes, same corpus
    later = part.stat().st_mtime + 86400
    for f in corpus.rglob("*"):
        if f.is_file():
            os.utime(f, (later, later))
    assert scale_probe.corpus_digest(str(corpus)) == digest
    # one byte changed: another corpus
    part.write_bytes(b"PAR1 rowz PAR1")
    other = scale_probe.corpus_digest(str(corpus))
    assert other != digest

    assert not scale_probe.row_is_stale(row, digest)
    assert scale_probe.row_is_stale(row, other)
    assert scale_probe.row_is_stale({**row, "corpus": None}, digest)
    no_digest = {k: v for k, v in row.items() if k != "corpus"}
    assert scale_probe.row_is_stale(no_digest, digest)
