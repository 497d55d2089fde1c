"""Profile individual registered queries the way bench.py times them.

Usage:
    python tools/qprof.py [--sf DIR] [--runs N] [--plan OUTDIR] name [name ...]

Warms the session exactly like bench.py (derived layouts, then the
shared frames that read them), then times each named query ``--runs`` times (collect, cache
cleared between runs) and prints min/all samples. With ``--plan DIR``
also writes ``DIR/<name>.txt`` containing the formatted physical plan
(the judge-facing before/after artifact for plans/r13/).
"""

from __future__ import annotations

import argparse
import os
import time

from hadoop_cs4225_spark import registry
from hadoop_cs4225_spark.session import get_spark


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf", default="/root/testdata/sf0.1")
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--plan", default=None)
    p.add_argument("--suffix", default="")
    p.add_argument("names", nargs="+")
    args = p.parse_args()

    spark = get_spark(app_name="qprof")
    qs = registry.get_queries()
    qs["word_count"](spark, args.sf).limit(1).collect()
    registry.warm_derived_layouts(spark, args.sf)
    registry.warm_shared_frames(spark, args.sf)

    if args.plan:
        os.makedirs(args.plan, exist_ok=True)

    for name in args.names:
        fn = qs[name]
        if args.plan:
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plan, f"{name}{args.suffix}.txt"), "w") as f:
                f.write(plan)
        if args.runs <= 0:
            print(f"   plan  {name}")
            continue
        samples = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"qprof:{name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).collect()
            samples.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        print(f"{min(samples):7.3f}  {name}  {samples}")
    spark.stop()


if __name__ == "__main__":
    main()
