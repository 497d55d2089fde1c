"""Benchmark of the spark-graft engine: one workload per process.

    python3 perfbench/run.py --workload olap_reference --seed 1 --seconds 12 --trace 0

Run it from the repository root. It generates its input tables under
``.perfbench/`` (see ``datagen.py``), starts one Spark session on
``local[<cpus>]`` and drives the workload with one client in a closed loop:

1. a cold pass over the workload's calls, after deleting the input's
   ``.derived/<tag>`` tree, so it pays layout builds, memo builds and JVM
   warm-up as a fresh pipeline run does;
2. the workload's warm-up passes, left out of the statistics;
3. a fixed number of steady passes (``--seconds`` divided by the
   workload's nominal pass length).

Every pass runs the queries in a new order drawn from ``--seed``.

For the stream workload a pass is one micro-batch: the first batch into
empty indexes is the cold pass.

End-to-end metrics (``--trace 0``): ``setup_s`` (process start until the
session is up and the registry loaded), ``cold_pass_s``, ``warm_pass_s``
(median steady pass), ``warm_pass_cpu_s`` (median CPU seconds of a steady
pass over this process and all its descendants) and ``query_gmean_s``
(geometric mean of each call's median steady latency).

Outputs are checked outside the timed regions: every cold-pass result
against the query's DuckDB oracle, every steady-pass result against the
cold one, and the maintained stream indexes against the batch-built
layouts. With ``--trace 1`` the steady passes alternate untraced and
traced, and the metrics are the per-layer ones (see ``tracing.py``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is a JSON record of the run's context (cpus, steal share, load average)
and per-call details. Exit code 2 means the engine could not be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

import datagen
from workloads import WORKLOADS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: Scale factor of the generated tables (``lineitem`` = 6,000,000 * SF rows).
SF = 0.01
TINY_SF = 0.001
#: The tail latency is the sample with exactly this many samples above it.
TAIL_BEYOND = 10
#: A traced query's build + plan + collect must cover its latency within
#: this share, or the split is not trusted.
SPLIT_TOLERANCE = 0.05


# -- /proc readers -----------------------------------------------------------

def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    start_ticks = int(_stat_fields("self")[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _proc_table() -> dict[int, tuple[int, int]]:
    """``pid -> (ppid, CPU ticks)`` for every process, where the ticks are
    its own user and system time plus that of the children it reaped."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            f = _stat_fields(d)
        except (FileNotFoundError, ProcessLookupError):
            continue
        # fields after the command: ppid at 1, utime..cstime at 11..14
        procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return procs


def descendants(root_pid: int, procs: dict[int, tuple[int, int]] | None = None) -> set[int]:
    procs = _proc_table() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = set(), [root_pid]
    while stack:
        for kid in children.get(stack.pop(), ()):
            out.add(kid)
            stack.append(kid)
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used by ``root_pid`` and its live descendants, including
    children they already reaped: the benchmark process, the Spark JVM and
    its Python workers."""
    procs = _proc_table()
    ticks = sum(procs[p][1] for p in descendants(root_pid, procs) | {root_pid} if p in procs)
    return ticks / os.sysconf("SC_CLK_TCK")


def host_context() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpus": len(os.sched_getaffinity(0)), "loadavg": load,
            "steal_ticks": cpu[7], "total_ticks": sum(cpu)}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except FileNotFoundError:
                pass
    return total


# -- statistics ---------------------------------------------------------------

def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def per_call_gmean(calls: list[tuple[str, float]]) -> float:
    """Geometric mean over the workload's calls of each call's median
    latency: the typical call latency, weighting every call alike however
    few samples a run takes of a small, mixed call list."""
    by_name: dict[str, list[float]] = {}
    for name, s in calls:
        by_name.setdefault(name, []).append(s)
    return statistics.geometric_mean([median(v) for v in by_name.values()]) if by_name else 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, as ``(value, percentile)``; the maximum when there are fewer."""
    s = sorted(samples)
    if len(s) <= TAIL_BEYOND:
        return (s[-1], 100.0) if s else (0.0, 0.0)
    i = len(s) - 1 - TAIL_BEYOND
    return s[i], 100.0 * (i + 1) / len(s)


def _rows_key(rows) -> Counter:
    return Counter(map(repr, rows))


class _Collected:
    """Rows already collected, shaped like the DataFrame that
    ``tools.replica_check.compare`` expects, so the check re-runs nothing."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class _OracleResult:
    """An oracle's result, shaped like the DuckDB relation that ``compare``
    expects. Rows are stored normalized; ``compare`` normalizes them again,
    which leaves them unchanged, so its verdict is the same as on the
    relation itself."""

    def __init__(self, columns, types, rows):
        self.columns, self.types, self.rows = columns, types, rows

    def fetchall(self):
        return self.rows


# -- the run ---------------------------------------------------------------

class Bench:
    def __init__(self, args, wl: Workload, engine: dict):
        self.args, self.wl, self.e = args, wl, engine
        self.pid = os.getpid()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.detail: dict = {}
        self.layer: dict[str, float] = {}

    # setup ---------------------------------------------------------------
    def start(self, t_proc: float) -> float:
        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
        ).strip()
        t0 = time.perf_counter()
        self.spark = self.e["session"].get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        self.queries = self.e["registry"].get_queries()
        t2 = time.perf_counter()
        setup_s = time.time() - t_proc
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["registry.load_s"] = t2 - t1
        sf = TINY_SF if self.args.tiny else SF
        # one input copy per workload, so a workload's .derived/<tag> tree
        # and oracle cache are its own
        self.sf_dir = datagen.ensure(os.path.join(WORK, "data", f"{self.wl.name}-sf{sf}"), sf)
        self.derived_dir = os.path.dirname(self.e["sinks"].derived_path(self.sf_dir, "x"))
        return setup_s

    def stop(self) -> None:
        """Stop Spark, its JVM and every process they started."""
        from pyspark import SparkContext

        kids = descendants(self.pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while time.time() < deadline:
            alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            time.sleep(0.2)
        for p in alive:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass

    def order(self, items: tuple[str, ...], pass_no: int) -> list[str]:
        out = list(items)
        random.Random(f"{self.args.seed}:{pass_no}").shuffle(out)
        return out

    def passes(self) -> tuple[int, int]:
        """``(warm-up passes, steady passes)`` after the cold pass."""
        if self.args.tiny:
            return 0, 3 if self.args.trace else 1
        steady = round(self.args.seconds / self.wl.nominal_pass_s)
        return self.wl.warmup_passes, max(3 if self.args.trace else 2, steady)

    def end_to_end(self, cold: dict, steady: list[dict], calls: list[tuple[str, float]]) -> dict:
        """The end-to-end metrics, from the cold pass, the steady passes and
        the steady passes' ``(call, latency)`` samples."""
        lat = [s for _, s in calls]
        self.detail.update({"samples": len(lat), "query_p50_s": median(lat)})
        return {
            "cold_pass_s": cold["wall_s"],
            "warm_pass_s": median([r["wall_s"] for r in steady]),
            "warm_pass_cpu_s": median([r["cpu_s"] for r in steady]),
            "query_gmean_s": per_call_gmean(calls),
        }

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    # query workloads -------------------------------------------------------
    def query_pass(self, pass_no: int, tracer) -> dict:
        res = {"wall_s": 0.0, "cpu_s": 0.0, "lat": {}, "rows": {}, "cols": {}, "trace": {}}
        cpu0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        for name in self.order(self.wl.queries, pass_no):
            self.attempted += 1
            fn = self.queries[name]
            try:
                if tracer is not None:
                    rows, cols, tr = tracer.run_query(fn, self.sf_dir, f"p{pass_no}:{name}")
                    res["trace"][name] = tr
                    lat = tr.latency_s
                else:
                    s = time.perf_counter()
                    df = fn(self.spark, self.sf_dir)
                    rows = df.collect()
                    lat = time.perf_counter() - s
                    cols = df.columns
                res["lat"][name], res["rows"][name], res["cols"][name] = lat, rows, cols
            except Exception:  # a failing query is counted and the run goes on
                traceback.print_exc()
                self._fail(f"pass {pass_no} {name}: raised")
            self.spark.catalog.clearCache()
            if tracer is not None:
                tracer.record_residue()
        res["wall_s"] = time.perf_counter() - t0
        res["cpu_s"] = tree_cpu_s(self.pid) - cpu0
        return res

    def oracle(self, con, name: str, sql: str) -> _OracleResult:
        """The DuckDB oracle's result for ``name``, cached beside the input.

        The input tables never change for a given input directory, so the
        cache is valid while the oracle SQL is the same."""
        path = os.path.join(self.sf_dir, "_oracle", f"{name}.json")
        cached = None
        if os.path.exists(path):
            with open(path) as f:
                cached = json.load(f)
        if cached is None or cached["sql"] != sql:
            rel = con.sql(sql)
            normalize = self.e["normalize"]
            cached = {"sql": sql, "columns": list(rel.columns),
                      "types": [str(t) for t in rel.types],
                      "rows": [[normalize(v) for v in r] for r in rel.fetchall()]}
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(cached, f)
            os.replace(path + ".tmp", path)
            # read back, so a fresh result has the same JSON types as a cached one
            with open(path) as f:
                cached = json.load(f)
        return _OracleResult(cached["columns"], cached["types"], cached["rows"])

    def check_oracles(self, cold: dict) -> None:
        import duckdb

        compare = self.e["compare"]
        con = duckdb.connect()
        for t in self.e["tables"]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, t + '.parquet')}')")
        oracles = self.e["registry"].get_oracles()
        for name, rows in cold["rows"].items():
            err = compare(_Collected(cold["cols"][name], rows), self.oracle(con, name, oracles[name]))
            if err:
                self._fail(f"{name}: oracle mismatch: {err[:300]}")
        con.close()

    def run_queries(self) -> dict:
        tracer = None
        shutil.rmtree(self.derived_dir, ignore_errors=True)
        if self.args.trace:
            from tracing import Tracer

            tracer = Tracer(self.spark, self.derived_dir)
            tracer.patch_layouts()
        cold = self.query_pass(0, tracer)
        t0 = time.perf_counter()
        self.check_oracles(cold)
        self.detail["check_s"] = time.perf_counter() - t0
        want = {n: _rows_key(r) for n, r in cold["rows"].items()}
        warmup, steady = self.passes()
        plain, traced, warm = [], [], []
        for p in range(1, warmup + steady + 1):
            i = p - warmup
            # untraced and traced passes in ABBA order, so JIT warm-up over
            # the run does not bias the tracing overhead
            use_trace = tracer is not None and i % 4 in (2, 3)
            res = self.query_pass(p, tracer if use_trace else None)
            (warm if i < 1 else traced if use_trace else plain).append(res)
            for name, rows in res["rows"].items():
                if name in want and _rows_key(rows) != want[name]:
                    self._fail(f"pass {p} {name}: result differs from the checked cold pass")
        calls = [c for r in plain for c in r["lat"].items()]
        e2e = self.end_to_end(cold, plain, calls)
        tail_s, pct = tail([s for _, s in calls])
        self.detail.update({
            "query_tail_s": tail_s, "tail_percentile": pct,
            "pass_s": [r["wall_s"] for r in [cold, *warm, *plain]],
            "cold_latency_s": cold["lat"],
            "warm_latency_s": {n: median([r["lat"][n] for r in plain if n in r["lat"]])
                               for n in self.wl.queries},
        })
        if tracer is not None:
            self.query_layers(cold, plain, traced, tracer)
        self.layer["sinks.derived_bytes"] = dir_bytes(self.derived_dir)
        return e2e

    def query_layers(self, cold: dict, plain: list, traced: list, tracer) -> None:
        def per_pass(field: str) -> float:
            return median([sum(getattr(t, field) for t in r["trace"].values()) for r in traced])

        for key, field in (
            ("operators.build_s", "build_s"), ("operators.eager_jobs", "eager_jobs"),
            ("catalyst.plan_s", "plan_s"), ("exec.collect_s", "collect_s"),
            ("exec.jobs", "jobs"), ("exec.stages", "stages"), ("exec.tasks", "tasks"),
            ("exec.failed_tasks", "failed_tasks"), ("exec.scan_rows", "scan_rows"),
            ("exec.shuffle_write_bytes", "shuffle_write_bytes"),
            ("exec.spill_bytes", "spill_bytes"),
        ):
            self.layer[key] = per_pass(field)
        result_rows = per_pass("result_rows")
        self.layer["exec.rows_per_result"] = (
            self.layer["exec.scan_rows"] / result_rows if result_rows else 0.0
        )
        warm_build = {n: median([r["trace"][n].build_s for r in traced if n in r["trace"]])
                      for n in self.wl.queries}
        self.layer["operators.cold_eager_jobs"] = sum(t.eager_jobs for t in cold["trace"].values())
        self.layer["operators.first_use_s"] = sum(
            t.build_s - warm_build[n] for n, t in cold["trace"].items()
        )
        built = [s for s in tracer.layout_spans if s.built]
        self.layer["sinks.layout_build_s"] = sum(s.seconds for s in built if s.depth == 0)
        self.layer["sinks.layouts_built"] = len({s.name for s in built})
        self.layer["storage.residue_rdds"] = tracer.residue_rdds
        self.layer["storage.residue_mb"] = tracer.residue_mb
        self.layer["trace.overhead_s"] = (
            median([r["wall_s"] for r in traced]) - median([r["wall_s"] for r in plain])
        )
        gaps = [t.split_gap for r in [cold, *traced] for t in r["trace"].values()]
        self.layer["trace.split_gap"] = max(gaps, default=0.0)
        if self.layer["trace.split_gap"] > SPLIT_TOLERANCE:
            self._fail(f"traced split covers its latency only within {self.layer['trace.split_gap']:.3f}")
        layouts: dict[str, float] = {}
        for s in built:
            layouts[s.name] = layouts.get(s.name, 0.0) + s.seconds
        self.detail["layout_build_s"] = layouts
        self.detail["traced_query"] = {n: vars(t) for n, t in traced[-1]["trace"].items()}

    # stream workload -------------------------------------------------------
    def stream_batch(self, work: str, chunk_table, b: int, measure_bytes: bool) -> dict:
        """Append micro-batch ``b`` and run every maintainer once."""
        import pyarrow.parquet as pq

        chunks = os.path.join(work, "chunks")
        chunk = os.path.join(chunks, f"part-{b:05d}.parquet")
        pq.write_table(chunk_table, chunk)
        res = {"calls": [], "amp": [], "trace_s": 0.0}
        cpu0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        for name, fn in self.maintainers:
            self.attempted += 1
            root = os.path.join(work, name)
            try:
                s = time.perf_counter()
                self.stream_out[name] = fn(self.spark, chunks, root, root + ".ckpt")
                res["calls"].append((name, time.perf_counter() - s))
            except Exception:  # a failing call is counted and the run goes on
                traceback.print_exc()
                self._fail(f"batch {b} {name}: raised")
                continue
            if measure_bytes:
                s = time.perf_counter()
                res["amp"].append(dir_bytes(os.path.join(root, f"v{b}")) / os.path.getsize(chunk))
                res["trace_s"] += time.perf_counter() - s
        res["wall_s"] = time.perf_counter() - t0
        res["cpu_s"] = tree_cpu_s(self.pid) - cpu0
        return res

    def check_stream(self) -> None:
        """The maintained indexes must equal the batch-built layouts."""
        from hadoop_cs4225_spark.operators.dedup import shingle_postings_stats_frame
        from hadoop_cs4225_spark.operators.text_analysis import token_counts_frame, token_df_frame

        tok = self.stream_out.get("token_counts")
        sh = self.stream_out.get("shingle_postings")
        checks = []
        if tok is not None:
            checks += [
                ("tf", tok.select("doc_id", "source", "word", "tf"),
                 token_counts_frame(self.spark, self.sf_dir)),
                ("vocab", tok.select("word", "df", "cf").distinct(),
                 token_df_frame(self.spark, self.sf_dir)),
            ]
        if sh is not None:
            checks.append(("postings", sh.select("doc_id", "s", "df", "len"),
                           shingle_postings_stats_frame(self.spark, self.sf_dir)
                           .select("doc_id", "s", "df", "len")))
        for what, got, want in checks:
            if _rows_key(got.collect()) != _rows_key(want.collect()):
                self._fail(f"maintained {what} differs from the batch layout")

    def run_stream(self) -> dict:
        """One stream from empty indexes: the first micro-batch is the cold
        pass, every later one a steady pass."""
        import numpy as np
        import pyarrow.parquet as pq

        streams = self.e["streams"]
        self.maintainers = (
            ("token_counts", streams.run_incremental_token_counts),
            ("shingle_postings", streams.run_incremental_shingle_postings),
        )
        self.stream_out = {}
        work = os.path.join(WORK, "stream")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "chunks"))
        docs = pq.read_table(os.path.join(self.sf_dir, "documents.parquet"))
        warmup, steady = self.passes()
        n_batches = 1 + warmup + steady
        assign = np.random.default_rng(self.args.seed).permutation(docs.num_rows) % n_batches
        batches = [
            self.stream_batch(work, docs.filter(assign == b), b, bool(self.args.trace))
            for b in range(n_batches)
        ]
        t0 = time.perf_counter()
        self.check_stream()
        self.detail["check_s"] = time.perf_counter() - t0
        cold, steady = batches[0], batches[1 + warmup:]
        calls = [c for r in steady for c in r["calls"]]
        lat = [s for _, s in calls]
        e2e = self.end_to_end(cold, steady, calls)
        self.detail["batch_s"] = [r["wall_s"] for r in batches]
        if self.args.trace:
            third = max(1, len(steady) // 3)
            batch_s = [r["wall_s"] - r["trace_s"] for r in steady]
            self.layer["streams.maintain_s"] = median(lat)
            self.layer["streams.write_amp"] = median([a for r in steady for a in r["amp"]])
            self.layer["streams.growth"] = median(batch_s[-third:]) / median(batch_s[:third])
            self.layer["trace.overhead_s"] = median([r["trace_s"] for r in steady])
            self.detail["maintain_s"] = {
                name: median([s for r in steady for n, s in r["calls"] if n == name])
                for name, _ in self.maintainers
            }
        self.layer["sinks.derived_bytes"] = sum(
            dir_bytes(os.path.join(work, name)) for name, _ in self.maintainers
        )
        return e2e


def _import_engine() -> dict:
    sys.path.insert(0, ROOT)
    from hadoop_cs4225_spark import registry, session
    from hadoop_cs4225_spark.sources import sinks
    from hadoop_cs4225_spark.sources.tables import TABLES
    from hadoop_cs4225_spark.streaming import streams
    from tools.replica_check import _normalize, compare

    return {"registry": registry, "session": session, "sinks": sinks, "streams": streams,
            "tables": TABLES, "compare": compare, "normalize": _normalize}


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_wall()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help=f"sf{TINY_SF} tables and one steady pass (self-test)")
    args = ap.parse_args(argv)
    try:
        engine = _import_engine()
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    spec = _load_spec()
    wl = WORKLOADS[args.workload]
    host0 = host_context()
    bench = Bench(args, wl, engine)
    setup_s = bench.start(t_proc)
    try:
        e2e = bench.run_queries() if wl.queries else bench.run_stream()
    finally:
        bench.stop()
    host1 = host_context()
    e2e["setup_s"] = setup_s
    inputs = engine["tables"] if wl.queries else ("documents",)
    input_bytes = sum(os.path.getsize(os.path.join(bench.sf_dir, f"{t}.parquet")) for t in inputs)
    bench.layer["sinks.derived_bytes_ratio"] = bench.layer["sinks.derived_bytes"] / input_bytes
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = bench.layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    bench.detail["context"] = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "sf_dir": bench.sf_dir,
        "cpus": host0["cpus"], "loadavg_start": host0["loadavg"], "loadavg_end": host1["loadavg"],
        "steal_ticks": host1["steal_ticks"] - host0["steal_ticks"],
        "steal_share": (host1["steal_ticks"] - host0["steal_ticks"])
        / max(1, host1["total_ticks"] - host0["total_ticks"]),
        "failed_ratio": bench.failed / max(1, bench.attempted), "errors": bench.errors,
    }
    print(json.dumps(bench.detail, default=float))
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
