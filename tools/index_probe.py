"""Scaling exponents for the WRITTEN-INDEX BUILDS (``sinks.LAYOUTS``).

SCALING.md measures query runtimes; since r12 the heavy corpus passes
live in write-once ``.derived`` layouts, so the 100 TB question for the
index families is the BUILD cost's growth (VERDICT r13 "what's wrong"
#2: index construction had no recorded exponents — `bench.py` now
reports the cost per run via ``warmup_sec``; this records how it
scales). Every declared layout built from documents or embeddings
alone builds COLD (its target dir removed first) on the x1/x2/x4
amplified corpora, walking the table upstream first, so every timing
is one isolated build; the exponent is log(t4/t2)/log(2) with min-of-2
adjudication on the top two sizes.

Usage::

    PYTHONPATH=/root/repo python tools/index_probe.py   # -> INDEX_SCALING.md
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT_MD = os.path.join(ROOT, "INDEX_SCALING.md")
COPIES = (1, 2, 4)
SUPERLINEAR = 1.35


def builders():
    """The probed layouts, upstream first."""
    from hadoop_cs4225_spark.sources import sinks

    return sinks.walk_layouts(("documents", "embeddings"))


def cold_build(spark, layout, sf_dir: str) -> float:
    from hadoop_cs4225_spark.sources import sinks

    shutil.rmtree(sinks.derived_path(sf_dir, layout.leaf), ignore_errors=True)
    sinks.LAYOUT_READS.clear()
    t0 = time.perf_counter()
    sinks.ensure(spark, sf_dir, layout)
    return time.perf_counter() - t0


def main() -> None:
    from hadoop_cs4225_spark import registry
    from hadoop_cs4225_spark.session import get_spark
    from tools.scale_probe import ensure_amplified, ensure_amplified_emb

    registry.load_all()
    spark = get_spark(app_name="index-probe")
    dirs = {}
    for k in COPIES:
        dirs[k] = ensure_amplified(spark, k)
        ensure_amplified_emb(spark, k)

    rows = []
    for layout in builders():
        ts = {k: cold_build(spark, layout, dirs[k]) for k in COPIES}
        raw = math.log(ts[4] / ts[2]) / math.log(2)
        for k in (2, 4):  # symmetric min-of-2 adjudication
            ts[k] = min(ts[k], cold_build(spark, layout, dirs[k]))
        adj = math.log(ts[4] / ts[2]) / math.log(2)
        verdict = "SUPER-LINEAR" if adj > SUPERLINEAR else "ok"
        rows.append(
            f"| {layout.leaf} | x2->x4 | "
            + ", ".join(f"{k}:{ts[k]:.2f}" for k in COPIES)
            + f" | {raw:.2f} | {adj:.2f} | {verdict} |"
        )
        print(rows[-1])
    spark.stop()

    now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    header = [
        "# INDEX_SCALING — written-layout BUILD cost vs corpus size",
        "",
        "Measured by `tools/index_probe.py`: it walks the declared",
        "layout table (`sinks.LAYOUTS`, upstream first) and builds every",
        "layout derived from documents or embeddings alone COLD (target",
        "removed first) on the x1/x2/x4 amplified corpora, so each",
        "timing is one isolated build. Exponent = log(t4/t2)/log(2), min-of-2 adjudicated on",
        "the top sizes; > 1.35 flags SUPER-LINEAR. Per-run build cost",
        "at the bench SF is reported by bench.py as `warmup_sec` /",
        "`warmup_layouts` in BENCH_DETAIL.json.",
        "",
        f"probed_at: {now}",
        "",
        "| build | span | times (s) | exp_raw | exponent | verdict |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    with open(OUT_MD, "w") as f:
        f.write("\n".join(header + rows) + "\n")
    print(f"wrote {OUT_MD}")


if __name__ == "__main__":
    main()
