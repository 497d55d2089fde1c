"""Round-13 operator invariants (the batch-2 net-new registrations, within
the <=15/round rotation pace — driver rows come with the r14 window;
each was replica-checked green vs its DuckDB oracle at sf0.01 at
registration time). Each is oracled, so test_oracle_parity.py
hash-checks each of them on every pytest run; these tests pin the
algorithmic contracts the oracle alone can't state."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_cs4225_spark import registry
from tests.conftest import SF_ORACLE

registry.load_all()


def _rows(spark, name, sf=SF_ORACLE):
    return registry.QUERIES[name](spark, sf).collect()


def test_near_dup_gc_reconciles_with_fingerprint_index(spark):
    """Every GC group must be exactly a >=2-doc fingerprint-equality
    class of the written SimHash index; the keeper is the min doc_id;
    reclaim_chars is the group's byte mass minus the keeper's."""
    from hadoop_cs4225_spark.operators.dedup import simhash_fp_frame
    from hadoop_cs4225_spark.sources.tables import load_table

    rows = {r.f: r for r in _rows(spark, "dedup_near_dup_gc")}
    fp = simhash_fp_frame(spark, SF_ORACLE)
    docs = load_table(spark, SF_ORACLE, "documents").select(
        "doc_id", "n_chars"
    )
    chars = {r.doc_id: r.n_chars for r in fp.join(docs, "doc_id").collect()}
    groups: dict[int, list[int]] = {}
    for r in fp.collect():
        groups.setdefault(r.f, []).append(r.doc_id)
    expect = {f: sorted(ds) for f, ds in groups.items() if len(ds) >= 2}
    assert set(rows) == set(expect)
    for f, ds in expect.items():
        r = rows[f]
        assert r.group_size == len(ds), f
        assert r.keeper_doc == ds[0], f
        assert r.n_victims == len(ds) - 1, f
        assert r.reclaim_chars == sum(chars[d] for d in ds) - chars[ds[0]], f


def test_bloom_pruned_decon_zero_false_negatives(spark):
    """The Bloom prune may only ADD candidates (false positives), never
    lose a true overlap: per-doc n_overlap must equal the unpruned
    exact join's, and the counts must nest
    n_overlap <= n_bloom_cand <= n_shingles."""
    from hadoop_cs4225_spark.operators.dedup import shingle_postings_frame
    from hadoop_cs4225_spark.operators.pipeline_ops import _PROBE_MOD

    rows = _rows(spark, "bloom_pruned_decon_docs")
    assert rows
    for r in rows:
        assert r.n_overlap <= r.n_bloom_cand <= r.n_shingles, r
    # unpruned exact overlap, straight off the postings layout
    sh = shingle_postings_frame(spark, SF_ORACLE)
    probe = sh.where(F.col("doc_id") % _PROBE_MOD == 0).select("s").distinct()
    corpus = sh.where(F.col("doc_id") % _PROBE_MOD != 0)
    exact = {
        r.doc_id: r.n
        for r in corpus.join(probe.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(F.count("hit").alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_overlap == exact[r.doc_id], r


def test_cross_corpus_decon_report_contract(spark):
    """Exactly the new-crawl sources appear; doc counts reconcile with
    the shingle-eligible population; contaminated <= overlapping <=
    total; one source's hit count re-derived directly."""
    from hadoop_cs4225_spark.operators.dedup import _shingle_sets
    from hadoop_cs4225_spark.operators.pipeline_ops import _NEWCRAWL_MIN_SRC
    from hadoop_cs4225_spark.sources.tables import load_table

    rows = {r.source: r for r in _rows(spark, "cross_corpus_decon_report")}
    docs = load_table(spark, SF_ORACLE, "documents")
    src_no = F.expr("CAST(substring(source, 4) AS INT)")
    sh = _shingle_sets(docs).select(
        "doc_id", F.explode("sh").alias("s")
    ).join(docs.select("doc_id", "source"), "doc_id")
    new_side = sh.where(src_no >= _NEWCRAWL_MIN_SRC)
    expect_sources = {
        r.source
        for r in new_side.select("source").distinct().collect()
    }
    assert set(rows) == expect_sources
    n_docs = {
        r.source: r.n
        for r in new_side.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    for s, r in rows.items():
        assert r.n_docs == n_docs[s], s
        assert r.n_docs_contaminated <= r.n_docs_overlap <= r.n_docs, s
        assert 0 <= r.hit_frac <= 1, s
    # direct re-derivation of one source's totals
    probe_src = sorted(rows)[0]
    train = (
        sh.where(src_no < _NEWCRAWL_MIN_SRC).select("s").distinct()
    )
    direct = (
        new_side.where(F.col("source") == probe_src)
        .join(train.withColumn("hit", F.lit(1)), "s", "left")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("hit").alias("n_hit"),
        )
        .collect()[0]
    )
    assert rows[probe_src].n_shingles == direct.n_sh
    assert rows[probe_src].n_hits == direct.n_hit


def test_newcrawl_oov_rate_contract(spark):
    """Counts nest (oov <= total on both grains), token totals
    reconcile with a direct tokenize of the new-crawl sources, and the
    OOV type set for one source re-derives exactly."""
    from hadoop_cs4225_spark.operators.pipeline_ops import _NEWCRAWL_MIN_SRC
    from hadoop_cs4225_spark.operators.text_analysis import _toks
    from hadoop_cs4225_spark.sources.tables import load_table

    rows = {r.source: r for r in _rows(spark, "newcrawl_oov_rate")}
    assert rows
    docs = load_table(spark, SF_ORACLE, "documents")
    src_no = F.expr("CAST(substring(source, 4) AS INT)")
    tok = docs.select("source", src_no.alias("n"), F.explode(_toks()).alias("w"))
    new_tok = tok.where(F.col("n") >= _NEWCRAWL_MIN_SRC)
    totals = {
        r.source: (r.n_tok, r.n_typ)
        for r in new_tok.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.countDistinct("w").alias("n_typ"),
        )
        .collect()
    }
    assert set(rows) == set(totals)
    for s, r in rows.items():
        assert (r.n_tokens, r.n_types) == totals[s], s
        assert 0 <= r.n_oov_types <= r.n_types, s
        assert 0 <= r.n_oov_tokens <= r.n_tokens, s
        assert 0 <= r.oov_type_frac <= 1 and 0 <= r.oov_token_frac <= 1, s
    # direct OOV re-derivation for one source
    probe_src = sorted(rows)[0]
    train_vocab = {
        r.w
        for r in tok.where(F.col("n") < _NEWCRAWL_MIN_SRC)
        .select("w")
        .distinct()
        .collect()
    }
    new_words = (
        new_tok.where(F.col("source") == probe_src)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .collect()
    )
    n_oov_types = sum(1 for r in new_words if r.w not in train_vocab)
    n_oov_tokens = sum(r.tf for r in new_words if r.w not in train_vocab)
    assert rows[probe_src].n_oov_types == n_oov_types
    assert rows[probe_src].n_oov_tokens == n_oov_tokens


def test_embedding_half_drift_contract(spark):
    """Half sizes reconcile with direct parity counts; cosine is in
    [-1, 1]; one label's cosine re-derives from numpy float centroids
    to within the grid-snap tolerance."""
    import numpy as np

    from hadoop_cs4225_spark.sources.tables import load_table

    rows = {r.label: r for r in _rows(spark, "embedding_half_drift")}
    assert rows
    emb = load_table(spark, SF_ORACLE, "embeddings").collect()
    by_label: dict[int, dict[int, list]] = {}
    for r in emb:
        by_label.setdefault(r.label, {0: [], 1: []})[r.vec_id % 2].append(
            np.array(r.embedding, dtype=np.float64)
        )
    for lbl, r in rows.items():
        assert r.n_even == len(by_label[lbl][0]), lbl
        assert r.n_odd == len(by_label[lbl][1]), lbl
        assert -1.0 <= r.cos_halves <= 1.0, lbl
    probe = sorted(rows)[0]
    c0 = np.mean(by_label[probe][0], axis=0)
    c1 = np.mean(by_label[probe][1], axis=0)
    want = float(c0 @ c1 / np.linalg.norm(c0) / np.linalg.norm(c1))
    # grid snap (1e-4 per component) keeps the cosine within ~1e-3
    assert abs(rows[probe].cos_halves - want) < 1e-3


def test_newcrawl_near_dup_gate_reconciles_with_lsh_pairs(spark):
    """The gate must be exactly the cross-side (train, new) projection
    of the shared verified-pair frame: same matched docs, same match
    counts, best = (max jaccard, min train doc)."""
    from hadoop_cs4225_spark.operators.dedup import NEWCRAWL_MIN_SRC
    from hadoop_cs4225_spark.sources.tables import load_table

    rows = {r.doc_id: r for r in _rows(spark, "newcrawl_near_dup_gate")}
    pairs = _rows(spark, "minhash_lsh_dup_pairs")
    src = {
        r.doc_id: int(r.source[3:])
        for r in load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "source")
        .collect()
    }
    want: dict[int, list[tuple[float, int]]] = {}
    for p in pairs:
        n1, n2 = src[p.d1], src[p.d2]
        if n1 < NEWCRAWL_MIN_SRC <= n2:
            want.setdefault(p.d2, []).append((p.jaccard, p.d1))
        elif n2 < NEWCRAWL_MIN_SRC <= n1:
            want.setdefault(p.d1, []).append((p.jaccard, p.d2))
    assert set(rows) == set(want)
    for nd, ms in want.items():
        r = rows[nd]
        assert src[nd] >= NEWCRAWL_MIN_SRC
        assert src[r.best_train_doc] < NEWCRAWL_MIN_SRC
        assert r.n_train_matches == len(ms), nd
        best_jac = max(j for j, _ in ms)
        assert r.best_jaccard == best_jac, nd
        assert r.best_train_doc == min(t for j, t in ms if j == best_jac), nd


# ---------------------------------------------------------------------------
# Batch 2 (same round): OHLC, WOE/IV, estimator audit, dup x quality,
# kNN label noise, byte-shingle media near-dup
# ---------------------------------------------------------------------------


def test_events_daily_ohlc_bar_invariants(spark):
    """high >= max(open, close), low <= min(open, close); the bars
    partition the event stream (row counts reconcile); single-event
    days have open = high = low = close."""
    from hadoop_cs4225_spark.sources.tables import load_table

    rows = _rows(spark, "events_daily_ohlc")
    assert rows
    for r in rows:
        assert r.high_cents >= max(r.open_cents, r.close_cents), r
        assert r.low_cents <= min(r.open_cents, r.close_cents), r
        if r.n_events == 1:
            assert r.open_cents == r.high_cents == r.low_cents == r.close_cents
    total = load_table(spark, SF_ORACLE, "events").count()
    assert sum(r.n_events for r in rows) == total


def test_events_daily_ohlc_matches_python_recompute(spark):
    """Open/close really are the first/last event (ts, event_id order)
    of each (type, day) — recomputed row-by-row in Python."""
    from hadoop_cs4225_spark.sources.tables import load_table

    ev = load_table(spark, SF_ORACLE, "events").collect()
    groups: dict[tuple, list] = {}
    for e in ev:
        key = (e.event_type, e.ts.strftime("%Y-%m-%d"))
        groups.setdefault(key, []).append(e)
    rows = {(r.event_type, r.day): r for r in _rows(spark, "events_daily_ohlc")}
    assert set(rows) == set(groups)
    for key, es in groups.items():
        es.sort(key=lambda e: (e.ts, e.event_id))
        cents = [int(e.value * 100 + 0.5) for e in es]
        r = rows[key]
        assert r.open_cents == cents[0] and r.close_cents == cents[-1], key
        assert r.high_cents == max(cents) and r.low_cents == min(cents), key


def test_lineitem_woe_iv_contract(spark):
    """Bins cover the fact table exactly once, every IV term is
    non-negative ((a-b)*ln(a/b) >= 0), events + nonevents = rows, and
    the dollar-histogram binning yields near-equal bin populations."""
    from hadoop_cs4225_spark.sources.tables import load_table

    rows = _rows(spark, "lineitem_woe_iv")
    assert [r.bin for r in rows] == sorted(r.bin for r in rows)
    assert {r.bin for r in rows} <= set(range(1, 11))
    li = load_table(spark, SF_ORACLE, "lineitem").count()
    assert sum(r.n_rows for r in rows) == li
    for r in rows:
        assert r.n_event + r.n_nonevent == r.n_rows, r
        if r.iv_term is not None:
            assert r.iv_term >= 0, r
    # dollar-grain deciles: no bin more than 2x the ideal tenth
    assert max(r.n_rows for r in rows) <= 2 * (li // 10 + 1)


def test_minhash_estimate_error_audit_reconciles_with_pairs(spark):
    """The audit's pair mass equals the verified-pair frame's; the
    estimate grid is matches/N_PERMS; |bias| <= mae <= 1."""
    from hadoop_cs4225_spark.operators.dedup import N_PERMS, _verified_pairs

    rows = _rows(spark, "minhash_estimate_error_audit")
    assert rows
    pairs = _verified_pairs(spark, SF_ORACLE).count()
    assert sum(r.n_pairs for r in rows) == pairs
    for r in rows:
        assert 1 <= r.n_matching_bands <= N_PERMS, r
        assert r.est_jaccard == r.n_matching_bands / N_PERMS, r
        assert abs(r.bias) <= r.mae + 1e-9, r
        assert 0 <= r.mae <= 1, r


def test_dup_quality_interaction_reconciles(spark):
    """Band doc counts partition the corpus; the dup-doc mass equals
    the distinct membership of the verified-pair frame; band means sit
    inside their band's score interval."""
    from hadoop_cs4225_spark.operators.dedup import _verified_pairs
    from hadoop_cs4225_spark.sources.tables import load_table

    rows = _rows(spark, "dup_quality_interaction")
    assert rows
    docs = load_table(spark, SF_ORACLE, "documents").count()
    assert sum(r.n_docs for r in rows) == docs
    pairs = _verified_pairs(spark, SF_ORACLE)
    dup_docs = (
        pairs.select("d1").union(pairs.select("d2")).distinct().count()
    )
    assert sum(r.n_dup_docs for r in rows) == dup_docs
    for r in rows:
        assert r.band_lo == r.quality_band / 20.0, r
        assert r.band_lo - 1e-9 <= r.mean_quality <= r.band_lo + 0.05 + 1e-9, r


def test_embedding_knn_label_noise_matches_numpy(spark):
    """Full numpy recompute of the audit at test scale: per-query
    exact-cosine top-k with the (quantized cos desc, vec_id) tie rule,
    aggregated per label."""
    import numpy as np

    from hadoop_cs4225_spark.operators.similarity import (
        _NOISE_K,
        _NOISE_NQ,
        _NOISE_SUSPECT_MAX,
    )
    from hadoop_cs4225_spark.sources.tables import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb}
    labels = {r.vec_id: r.label for r in emb}
    per_label: dict[int, list[int]] = {}
    for qid in sorted(vecs):
        if qid >= _NOISE_NQ:
            continue
        qv = vecs[qid]
        qn = np.sqrt(qv @ qv)
        scored = []
        for vid, v in vecs.items():
            if vid == qid:
                continue
            c = (v @ qv) / (np.sqrt(v @ v) * qn)
            scored.append((-np.floor(c * 1e6 + 0.5) / 1e6, vid))
        scored.sort()
        top = scored[:_NOISE_K]
        matches = sum(1 for _, vid in top if labels[vid] == labels[qid])
        per_label.setdefault(labels[qid], []).append(matches)
    rows = {r.label: r for r in _rows(spark, "embedding_knn_label_noise")}
    assert set(rows) == set(per_label)
    for lab, ms in per_label.items():
        r = rows[lab]
        assert r.n_queries == len(ms), lab
        assert r.n_label_hits == sum(ms), lab
        assert r.n_suspect == sum(1 for m in ms if m <= _NOISE_SUSPECT_MAX), lab


def test_media_byte_minhash_pairs_exact_jaccard(spark):
    """Every reported pair's byte-shingle Jaccard recomputes exactly
    from the raw payload bytes (windows of _BSH_LEN at _BSH_STRIDE),
    and every pair clears the admission threshold with d1 < d2."""
    from hadoop_cs4225_spark.operators.multimodal_ops import (
        _BSH_LEN,
        _BSH_MIN_JAC,
        _BSH_STRIDE,
    )
    from hadoop_cs4225_spark.sources.tables import load_table

    docs = {
        r.doc_id: r.text.encode("utf-8")
        for r in load_table(spark, SF_ORACLE, "documents").collect()
    }

    def shingles(b: bytes) -> set:
        return {
            b[i : i + _BSH_LEN]
            for i in range(0, len(b) - _BSH_LEN + 1, _BSH_STRIDE)
        }

    rows = _rows(spark, "media_byte_minhash_pairs")
    assert rows
    for r in rows:
        assert r.d1 < r.d2, r
        s1, s2 = shingles(docs[r.d1]), shingles(docs[r.d2])
        inter = len(s1 & s2)
        jac = inter / (len(s1) + len(s2) - inter)
        assert r.n_common == inter, r
        assert abs(r.byte_jaccard - jac) < 1e-6, r
        assert jac >= _BSH_MIN_JAC, r
def test_ivf_reassignment_churn_matches_numpy(spark):
    """Exact-integer recompute of the Lloyd step + reassignment from
    the SAME memoized assignment frame the query starts from: grid
    sums, snapped cell means, m = 2*(v.c') - ||c'||^2 argmax with the
    (m desc, cid asc) tie rule, and the leave/arrive/shift bookkeeping
    — every intermediate an exact int64, so the pin is bit-strict."""
    import numpy as np

    from hadoop_cs4225_spark.operators.similarity import (
        _CENT_GRID,
        _OLD_CENT_GRID,
        _assigned_frame,
    )

    rows = {r.centroid_id: r for r in _rows(spark, "ivf_reassignment_churn")}
    arows = _assigned_frame(spark, SF_ORACLE).collect()
    q = {
        r.vec_id: np.floor(
            np.array(r.embedding, dtype=np.float64) * _CENT_GRID + 0.5
        ).astype(np.int64)
        for r in arows
    }
    cid = {r.vec_id: r.centroid_id for r in arows}
    members: dict[int, list[int]] = {}
    for v, c in cid.items():
        members.setdefault(c, []).append(v)
    newcent = {
        c: np.floor(
            np.sum(np.stack([q[v] for v in vs]), axis=0) / len(vs) + 0.5
        ).astype(np.int64)
        for c, vs in members.items()
    }
    enorm = {c: int(cp @ cp) for c, cp in newcent.items()}

    def best_cell(vq: np.ndarray) -> int:
        return min(
            newcent, key=lambda c: (-(2 * int(vq @ newcent[c]) - enorm[c]), c)
        )

    n_leave = {c: 0 for c in members}
    n_arrive = {c: 0 for c in members}
    for v, c in cid.items():
        b = best_cell(q[v])
        if b != c:
            n_leave[c] += 1
            n_arrive[b] += 1

    def q6(x: float) -> float:
        return float(np.floor(x * 1e6 + 0.5) / 1e6)

    assert set(rows) == set(members)
    for c, vs in members.items():
        r = rows[c]
        assert r.n_vecs == len(vs), c
        assert r.n_leave == n_leave[c], c
        assert r.n_arrive == n_arrive[c], c
        assert r.churn_frac == q6(n_leave[c] / len(vs)), c
        diff = newcent[c] - np.array(_OLD_CENT_GRID[c], dtype=np.int64)
        assert r.centroid_shift == q6(
            float(np.sqrt(float(diff @ diff))) / _CENT_GRID
        ), c
    assert sum(n_leave.values()) == sum(r.n_arrive for r in rows.values())
