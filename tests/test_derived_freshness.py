"""The stale-layout guard (sources/sinks.py: ``derived_is_fresh`` and
the generic layout ``ensure``).

Round-4 incident: the driver regenerated /root/testdata between rounds
while .derived/ persisted, and existence-only _SUCCESS checks would
have served STALE derived layouts silently. These tests pin the mtime
semantics that prevent that.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

import pytest

from hadoop_cs4225_spark import registry
from hadoop_cs4225_spark.sources.sinks import (
    DERIVED_CONFIG,
    LAYOUTS,
    derived_is_fresh,
    derived_path,
    read_derived,
    walk_layouts,
)
from tests.conftest import SF_SMOKE

registry.load_all()


def _touch(path: str, when: float | None = None) -> None:
    with open(path, "a"):
        pass
    if when is not None:
        os.utime(path, (when, when))


def test_missing_marker_is_stale(tmp_path):
    src = tmp_path / "src.parquet"
    _touch(str(src))
    assert not derived_is_fresh(str(tmp_path / "absent"), str(src))


def test_marker_older_than_source_is_stale(tmp_path):
    now = time.time()
    marker = tmp_path / "_SUCCESS"
    src = tmp_path / "src.parquet"
    _touch(str(marker), now - 100)
    _touch(str(src), now)  # source regenerated after derivation
    assert not derived_is_fresh(str(marker), str(src))


def test_marker_newer_than_all_sources_is_fresh(tmp_path):
    now = time.time()
    marker = tmp_path / "_SUCCESS"
    s1 = tmp_path / "a.parquet"
    s2 = tmp_path / "b.parquet"
    _touch(str(s1), now - 100)
    _touch(str(s2), now - 50)
    _touch(str(marker), now)
    assert derived_is_fresh(str(marker), str(s1), str(s2))


def test_missing_source_is_stale(tmp_path):
    marker = tmp_path / "_SUCCESS"
    _touch(str(marker))
    assert not derived_is_fresh(str(marker), str(tmp_path / "gone.parquet"))


def test_config_fingerprint_invalidates(tmp_path, monkeypatch):
    """ADVICE r11: a derived layout is stale when its definition
    fingerprint changed, even if mtimes say fresh — a constant edit
    (N_PERMS, shingle width, tokenizer regex) must rebuild the index
    instead of silently serving signatures of the OLD definition. The
    generic ``sinks.ensure`` owns that rule for every layout: the
    fingerprint file is the single commit marker."""
    from hadoop_cs4225_spark.sources import sinks

    monkeypatch.setattr(sinks, "DERIVED_ROOT", str(tmp_path / "derived"))
    now = time.time()
    sf = tmp_path / "sf"
    sf.mkdir()
    _touch(str(sf / "documents.parquet"), now - 100)
    builds = []

    def build(spark, sf_dir, path):
        builds.append(path)
        os.makedirs(path)
        _touch(os.path.join(path, "part-0"))

    v1 = sinks.Layout("fp_layout", ("documents",), "v1", (), build)
    path = sinks.ensure(None, str(sf), v1)
    marker = os.path.join(path, sinks.DERIVED_CONFIG)
    assert len(builds) == 1 and open(marker).read() == "v1"
    # matching fingerprint, newer than the source -> fresh
    assert sinks.ensure(None, str(sf), v1) == path and len(builds) == 1
    # definition changed -> stale again, mtimes untouched; the stale
    # directory is cleared before the rebuild
    _touch(os.path.join(path, "leftover"))
    sinks.ensure(None, str(sf), dataclasses.replace(v1, config="v2"))
    assert len(builds) == 2 and open(marker).read() == "v2"
    assert not os.path.exists(os.path.join(path, "leftover"))
    # data present but no fingerprint -> never committed -> stale
    os.remove(marker)
    sinks.ensure(None, str(sf), v1)
    assert len(builds) == 3
    # source regenerated after the build -> stale
    _touch(str(sf / "documents.parquet"), time.time() + 100)
    sinks.ensure(None, str(sf), v1)
    assert len(builds) == 4

    # a build that fails leaves no fingerprint behind
    def boom(spark, sf_dir, path):
        os.makedirs(path)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        sinks.ensure(None, str(sf), dataclasses.replace(v1, config="v3", build=boom))
    assert not os.path.exists(marker)


def test_sig_index_config_covers_definition_constants():
    """The MinHash index fingerprint must move when any signature
    definition constant moves (the guard ADVICE r11 asked for) —
    INCLUDING the upstream shingle-set layout's full fingerprint
    (ADVICE r12): the signatures are built FROM that layout, so its
    min_toks/distinct eligibility constants must cascade into the
    signature config verbatim."""
    from hadoop_cs4225_spark.operators import dedup
    from hadoop_cs4225_spark.operators.wordcount import TOKEN_DELIM_RE

    cfg = LAYOUTS["documents_minhash_sigs"].fingerprint
    assert str(dedup.N_PERMS) in cfg
    assert str(dedup._PERM_MOD) in cfg
    assert TOKEN_DELIM_RE in cfg
    assert "shingle=3" in cfg
    assert LAYOUTS["documents_shingle_sets"].fingerprint in cfg


def test_layout_fingerprints_fold_upstream():
    """Every declared layout's fingerprint carries each upstream
    layout's fingerprint verbatim, so a definition change anywhere
    upstream rebuilds it; the walk puts upstream layouts first."""
    order = [lay.leaf for lay in walk_layouts()]
    assert sorted(order) == sorted(LAYOUTS)
    for leaf, lay in LAYOUTS.items():
        for up in lay.upstream:
            assert LAYOUTS[up].fingerprint in lay.fingerprint, (leaf, up)
            assert order.index(up) < order.index(leaf), (leaf, up)


def test_warm_derived_layouts_builds_the_table(spark):
    """The warm-up walks the layout table: it builds exactly the
    declared layouts (the format copies included), each committed
    under its own fingerprint."""
    timings = registry.warm_derived_layouts(spark, SF_SMOKE)
    assert set(timings) == set(LAYOUTS)
    assert {
        "orders_csv", "orders_jsonl", "orders_orc", "orders_xml",
        "docs_bin", "orders_evolved",
    } <= set(timings)
    for leaf, lay in LAYOUTS.items():
        with open(os.path.join(derived_path(SF_SMOKE, leaf), DERIVED_CONFIG)) as f:
            assert f.read() == lay.fingerprint, leaf


def test_read_derived_caches_only_committed_layouts(spark, tmp_path):
    """``read_derived`` memoizes a read plan only under the layout's
    commit marker and keys it on the marker's mtime alone."""
    path = str(tmp_path / "layout")
    spark.range(3).write.parquet(path)
    assert read_derived(spark, path) is not read_derived(spark, path)
    marker = os.path.join(path, DERIVED_CONFIG)
    _touch(marker)
    first = read_derived(spark, path)
    assert read_derived(spark, path) is first
    st = os.stat(marker)
    os.utime(marker, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert read_derived(spark, path) is not first


def test_ivf_pq_fingerprint_guards_method_memo(spark, tmp_path, monkeypatch):
    """The IVF-PQ index commits under a definition fingerprint, so a
    definition change rebuilds it AND every memo that declares it. The
    memo is stored under the commit marker read after its build, so the
    rebuilt frame is a hit from then on (read before the build, the
    frame would be stored under the tampered marker's mtime and built a
    second time by the next call)."""
    from hadoop_cs4225_spark.operators.pq import ivf_pq_index_probe
    from hadoop_cs4225_spark.sources import sinks

    monkeypatch.setattr(sinks, "DERIVED_ROOT", str(tmp_path / "derived"))
    monkeypatch.setattr(sinks, "MEMOS", dict(sinks.MEMOS))
    probe = sinks.session_memo(
        "test_ivf_pq_probe", layouts=("embeddings_ivf_pq",), warm=False
    )(lambda spark, sf_dir: ivf_pq_index_probe(spark, sf_dir).localCheckpoint(eager=False))
    fingerprint = LAYOUTS["embeddings_ivf_pq"].fingerprint
    try:
        first = probe(spark, SF_SMOKE)
        marker = os.path.join(derived_path(SF_SMOKE, "embeddings_ivf_pq"), DERIVED_CONFIG)
        assert open(marker).read() == fingerprint
        assert probe(spark, SF_SMOKE) is first
        want = sorted(first.collect())
        with open(marker, "w") as f:
            f.write("n_sub=2")  # an index written under another definition
        second = probe(spark, SF_SMOKE)
        assert second is not first
        assert open(marker).read() == fingerprint
        assert probe(spark, SF_SMOKE) is second
        assert probe(spark, SF_SMOKE) is second
        assert sorted(second.collect()) == want
    finally:
        sinks.evict_memo(spark, SF_SMOKE, "test_ivf_pq_probe")


def test_lsh_pairs_memo_follows_sig_index_marker(spark):
    """``lsh_pairs`` reads the written signature index, so a rewrite of
    that index's commit marker rebuilds the memo although
    ``documents.parquet`` did not move."""
    from hadoop_cs4225_spark.operators.dedup import (
        _verified_pairs,
        ensure_minhash_sig_index,
    )

    first = _verified_pairs(spark, SF_SMOKE)
    assert _verified_pairs(spark, SF_SMOKE) is first
    want = sorted(first.collect())
    marker = os.path.join(ensure_minhash_sig_index(spark, SF_SMOKE), DERIVED_CONFIG)
    before = os.stat(marker).st_mtime_ns
    with open(marker, "w") as f:
        f.write(LAYOUTS["documents_minhash_sigs"].fingerprint)
    # the rewrite must move the mtime, also on a coarse filesystem clock
    st = os.stat(marker)
    os.utime(marker, ns=(st.st_atime_ns, max(st.st_mtime_ns, before + 1_000_000)))
    second = _verified_pairs(spark, SF_SMOKE)
    assert second is not first
    assert _verified_pairs(spark, SF_SMOKE) is second
    assert sorted(second.collect()) == want


def test_ngram5_cold_build_leaves_no_cached_rdds(spark):
    """The 5-gram build persists its shingle rows for the df count and
    the join probe, and frees them after the write."""
    from hadoop_cs4225_spark.operators.text_analysis import ensure_ngram5_postings

    def cached_ids() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    shutil.rmtree(derived_path(SF_SMOKE, "documents_5gram_postings"), ignore_errors=True)
    before = cached_ids()
    path = ensure_ngram5_postings(spark, SF_SMOKE)
    # earlier tests' RDDs may be cleaned meanwhile; none may be added
    assert cached_ids() <= before
    assert os.path.exists(os.path.join(path, DERIVED_CONFIG))
