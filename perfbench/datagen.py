"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables the registered queries read (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``) with the
schemas and value distributions of the engine's test data, sized by a
scale factor ``sf`` the same way: ``lineitem`` has 6,000,000 * sf rows.
The same ``sf`` and ``seed`` always give byte-identical tables.

Run directly to write one set: ``python3 perfbench/datagen.py OUT_DIR SF``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Seed of the generated tables. The benchmark's ``--seed`` varies the
#: query order and the stream's batch split, not the data, so every run
#: of a workload scans the same rows.
DATA_SEED = 42

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "plate", "ring", "rod", "gizmo", "bolt", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
#: Share of documents that are a copy of an earlier document plus " dup"
#: (the near-duplicates the dedup and similarity queries look for).
DUP_SHARE = 0.05
EMB_DIM = 64

_MARKER = "_GENERATED"


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int):
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Build every table in memory."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    })
    # events: timestamps increase with event_id over 30 days
    gaps = rng.exponential(30 * 86_400 / n_evt, n_evt)
    offs_us = np.minimum(np.cumsum(gaps), 30 * 86_400 - 1) * 1e6
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_evt), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    vocab = np.asarray(VOCAB, dtype=object)
    for i in range(n_docs):
        if i > 20 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 1.2 * centers[labels] + rng.normal(0, 1, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def ensure(out_dir: str, sf: float, seed: int = DATA_SEED) -> str:
    """Write the tables to ``out_dir`` unless an identical set is there.

    A set is outdated when ``sf``, ``seed`` or this generator's code
    differ; anything else in ``out_dir`` is deleted with it. The marker
    file is written last, so a half-written set is rebuilt."""
    with open(__file__, "rb") as f:
        code = hashlib.sha1(f.read()).hexdigest()
    stamp = json.dumps({"sf": sf, "seed": seed, "generator": code})
    marker = os.path.join(out_dir, _MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: datagen.py OUT_DIR SF")
    print(ensure(sys.argv[1], float(sys.argv[2])))
