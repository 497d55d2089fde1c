"""Core-scaling probe: do the suite's slowest queries still parallelize
at ~sf1 scale? (VERDICT r13 task 6)

SCALING.md answers "does runtime grow ~linearly with corpus size";
BENCH_r13_c8 showed several sub-second rows with 8-core/32-core ratios
~1 at sf0.1 — consistent with per-query fixed cost (job scheduling /
codegen, ~0.2-0.5 s) dominating tiny inputs, but at sf0.1 that reading
was an *inference*. This probe measures it: the TOP-20 slowest bench
rows run on an 8x-amplified sf0.1 corpus (~sf1) under local[8] and
local[32], and the committed table reports t8/t32 per query. A query
whose ratio stays ~1 at this scale has a real serial bottleneck and
gets a named plan fix; a ratio approaching 4 is perfect scaling at
4x the cores.

Amplification (under ``.derived/coreprobe/x8``, rebuilt when stale):

- ``documents``/``embeddings``: the scale_probe bijections (per-copy
  token-suffix vocabulary bijection / deterministic sign flips) —
  duplicate/near-dup densities constant, universes disjoint;
- ``orders``/``lineitem``: per-copy ORDER-KEY shift only; customer/
  supplier/part keys are left unchanged so every dimension join keeps
  matching — each customer/supplier/part simply carries k times the
  orders/lines, which is exactly how a fact table grows in production;
- ``events``: per-copy timestamp shift of +i seconds (row identity
  changes, user/type mix constant);
- dimension tables are copied verbatim.

Usage::

    PYTHONPATH=/root/repo python tools/core_probe.py            # both core counts -> CORE_SCALING.md
    PYTHONPATH=/root/repo python tools/core_probe.py --cpus 8   # one arm (internal)

The two arms run in SEPARATE processes (a JVM's master is fixed at
startup; reusing one session would fake the comparison — the reason
bench.py reads $SPARK_GRAFT_CPUS per process).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BASE_SF = "/root/testdata/sf0.1"
K = 8
OUT_MD = os.path.join(ROOT, "CORE_SCALING.md")

#: The suite's slowest rows (quiet-window min-of-3 at sf0.1, r14) —
#: the queries whose scaling actually moves the suite total.
TOP20 = (
    "corpus_health_report",
    "supplier_hits_scores",
    "lineitem_quantile_reg_grid",
    "recursive_order_chain",
    "basket_name_rules",
    "embedding_knn_label_noise",
    "supplier_personalized_pagerank",
    "media_byte_minhash_pairs",
    "jaccard_prefix_filter_pairs",
    "part_brand_affinity",
    "trade_bfs_hop_histogram",
    "pagerank_trade_network",
    "embedding_pca_two",
    "textrank_keywords_topk",
    "shingle_idf_similarity_topk",
    "lineitem_boosted_stumps",
    "winnowing_dup_pairs",
    "duplicate_ngram_coverage",
    "events_markov_stationary",
    "lsh_recall_audit",
)


def ensure_amplified_full(spark) -> str:
    """x8 corpus with ALL tables under .derived/coreprobe/x8."""
    from pyspark.sql import functions as F

    from hadoop_cs4225_spark.sources.sinks import (
        DERIVED_ROOT,
        derived_is_fresh,
    )
    from tools.scale_probe import ensure_amplified, ensure_amplified_emb

    out = os.path.join(DERIVED_ROOT, "coreprobe", f"x{K}")
    os.makedirs(out, exist_ok=True)

    # documents + embeddings: reuse the scale_probe amplifiers (they
    # write under scaleprobe/x{K}); link the parquet dirs into ours.
    doc_dir = ensure_amplified(spark, K)
    emb_dir = ensure_amplified_emb(spark, K)
    for src_dir, leaf in ((doc_dir, "documents.parquet"), (emb_dir, "embeddings.parquet")):
        dst = os.path.join(out, leaf)
        if not os.path.islink(dst) and not os.path.exists(dst):
            os.symlink(os.path.join(src_dir, leaf), dst)

    shift = 100_000_000
    jobs = {
        "orders.parquet": lambda df, i: df.withColumn(
            "o_orderkey", F.col("o_orderkey") + i * shift
        ),
        "lineitem.parquet": lambda df, i: df.withColumn(
            "l_orderkey", F.col("l_orderkey") + i * shift
        ),
        # +i ms keeps rows distinct even after µs truncation;
        # day/session structure unchanged. Handles both reader dtypes
        # (nanos-as-long bigint vs TIMESTAMP_NTZ).
        "events.parquet": lambda df, i: df.withColumn(
            "ts",
            F.col("ts") + i * 1_000_000
            if dict(df.dtypes).get("ts") == "bigint"
            else F.col("ts") + F.expr(f"INTERVAL {i} MILLISECOND"),
        ),
    }
    for leaf, fn in jobs.items():
        src = os.path.join(BASE_SF, leaf)
        dst = os.path.join(out, leaf)
        if derived_is_fresh(os.path.join(dst, "_SUCCESS"), src):
            continue
        base = spark.read.parquet(src)
        amp = base
        for i in range(1, K):
            amp = amp.unionByName(fn(base, i))
        amp.repartition(16).write.mode("overwrite").parquet(dst)
    # dimension tables verbatim
    for leaf in ("region", "nation", "customer", "supplier", "part"):
        src = os.path.join(BASE_SF, f"{leaf}.parquet")
        dst = os.path.join(out, f"{leaf}.parquet")
        if derived_is_fresh(os.path.join(dst, "_SUCCESS"), src):
            continue
        spark.read.parquet(src).write.mode("overwrite").parquet(dst)
    return out


def run_arm(cpus: int, names: list[str]) -> dict:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    from hadoop_cs4225_spark import registry
    from hadoop_cs4225_spark.session import get_spark

    spark = get_spark(app_name=f"core-probe-{cpus}")
    sf_dir = ensure_amplified_full(spark)
    qs = registry.get_queries()
    # bench-like steady state: layouts, then the memos that read them
    qs["word_count"](spark, sf_dir).limit(1).collect()
    registry.warm_derived_layouts(spark, sf_dir)
    registry.warm_shared_frames(spark, sf_dir)
    out: dict[str, float] = {}
    for name in names:
        samples = []
        for _ in range(2):  # min-of-2: one page-cache-warm retime
            spark.sparkContext.setJobDescription(f"coreprobe:{name}")
            t0 = time.perf_counter()
            try:
                qs[name](spark, sf_dir).collect()
                samples.append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # noqa: BLE001 - record, keep probing
                print(f"core_probe: {name} FAILED: {e}", file=sys.stderr)
                samples.append(-1.0)
            spark.catalog.clearCache()
        ok = [s for s in samples if s >= 0]
        out[name] = min(ok) if ok else -1.0
    spark.stop()
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("names", nargs="*", default=None)
    args = p.parse_args()
    names = list(args.names) if args.names else list(TOP20)

    if args.cpus is not None:  # internal single-arm mode
        print(json.dumps(run_arm(args.cpus, names)))
        return

    results: dict[int, dict] = {}
    for cpus in (32, 8):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--cpus", str(cpus), *names],
            capture_output=True,
            text=True,
            env={**os.environ, "PYTHONPATH": ROOT},
            check=True,
        )
        results[cpus] = json.loads(proc.stdout.strip().splitlines()[-1])

    now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    lines = [
        "# CORE_SCALING — 8-core vs 32-core at ~sf1 (x8-amplified sf0.1)",
        "",
        "Measured by `tools/core_probe.py` (VERDICT r13 task 6): the",
        "top-20 slowest bench rows, min-of-2 per query per core count,",
        "separate local[8] / local[32] sessions, bench-style warmup on",
        "the amplified corpus. `ratio` = t8 / t32 — ~1 means the query",
        "is serial/fixed-cost-bound even at this scale (needs a plan",
        "fix); 4 is perfect scaling at 4x the cores.",
        "",
        f"probed_at: {now}",
        "",
        "| query | t32 (s) | t8 (s) | ratio t8/t32 |",
        "| --- | --- | --- | --- |",
    ]
    for name in names:
        t32, t8 = results[32].get(name, -1.0), results[8].get(name, -1.0)
        ratio = round(t8 / t32, 2) if t32 and t32 > 0 and t8 > 0 else float("nan")
        lines.append(f"| {name} | {t32:.3f} | {t8:.3f} | {ratio} |")
    with open(OUT_MD, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {OUT_MD}")


if __name__ == "__main__":
    main()
