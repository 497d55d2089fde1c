"""Per-layer tracing for the benchmark's traced runs.

Everything here observes the engine from outside the package: it times
calls into each layer's public functions, tags Spark jobs with a job group
per query phase, and reads Spark's status tracker, the executed plan's SQL
metrics and the block manager's storage info. Untraced runs never load
this module, so they carry none of its cost.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

PKG = "hadoop_cs4225_spark"
#: Engine functions wrapped with a span: the ones that write layouts.
LAYOUT_PREFIX = "ensure_"


@dataclass
class QueryTrace:
    """One traced query call, split into its three phases."""

    latency_s: float = 0.0
    build_s: float = 0.0
    plan_s: float = 0.0
    collect_s: float = 0.0
    eager_jobs: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    scan_rows: int = 0
    result_rows: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    @property
    def split_gap(self) -> float:
        """Share of the latency the three phases do not cover."""
        parts = self.build_s + self.plan_s + self.collect_s
        return abs(self.latency_s - parts) / self.latency_s if self.latency_s else 0.0


@dataclass
class LayoutSpan:
    name: str
    seconds: float
    built: bool
    depth: int


def _tree_state(root: str) -> frozenset[tuple[str, int]]:
    """Directories under ``root`` with their mtimes: any layout write or
    rewrite changes this set."""
    state = set()
    for dirpath, _dirs, _files in os.walk(root):
        try:
            state.add((dirpath, os.stat(dirpath).st_mtime_ns))
        except FileNotFoundError:
            pass
    return frozenset(state)


def _metric(metrics, name: str) -> int:
    opt = metrics.get(name)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_metrics(jplan) -> dict[str, int]:
    """Sum the SQL metrics of an executed physical plan.

    Call after the plan ran. Adaptive plans are read through their final
    plan and query stages through the stage's plan; a reused exchange is
    skipped because its metrics belong to the exchange that ran."""
    out = {"scan_rows": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        metrics = node.metrics()
        if "Scan" in cls:
            out["scan_rows"] += _metric(metrics, "numOutputRows")
        out["shuffle_write_bytes"] += _metric(metrics, "shuffleBytesWritten")
        out["spill_bytes"] += _metric(metrics, "spillSize")
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


@dataclass
class Tracer:
    spark: object
    derived_dir: str
    layout_spans: list[LayoutSpan] = field(default_factory=list)
    residue_rdds: int = 0
    residue_mb: float = 0.0
    _depth: int = 0

    def __post_init__(self) -> None:
        self.sc = self.spark.sparkContext
        self.status = self.sc.statusTracker()

    # -- written layouts -------------------------------------------------
    def patch_layouts(self) -> int:
        """Wrap every ``ensure_*`` function of the engine with a span.

        Each module that binds the function gets the same wrapper, so a
        caller that imported it by name is traced too. Returns the number
        of distinct functions wrapped."""
        wrapped: dict[Callable, Callable] = {}
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PKG) or mod is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith(LAYOUT_PREFIX)
                    and callable(fn)
                    and getattr(fn, "__module__", "").startswith(PKG)
                ):
                    if fn not in wrapped:
                        wrapped[fn] = self._layout_span(attr, fn)
                    setattr(mod, attr, wrapped[fn])
        return len(wrapped)

    def _layout_span(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def span(*args, **kwargs):
            before = _tree_state(self.derived_dir)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                seconds = time.perf_counter() - t0
                self._depth -= 1
                built = _tree_state(self.derived_dir) != before
                self.layout_spans.append(LayoutSpan(name, seconds, built, self._depth))

        return span

    # -- one query -------------------------------------------------------
    def _group(self, tag: str) -> None:
        self.sc.setJobGroup(tag, tag)

    def run_query(self, fn: Callable, sf_dir: str, tag: str):
        """Run one registered query split into build, plan and collect.

        Returns ``(rows, columns, QueryTrace)``."""
        t = QueryTrace()
        start = time.perf_counter()
        self._group(f"{tag}:build")
        t0 = time.perf_counter()
        df = fn(self.spark, sf_dir)
        t1 = time.perf_counter()
        self._group(f"{tag}:plan")
        t2 = time.perf_counter()
        jplan = df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
        self._group(f"{tag}:collect")
        t4 = time.perf_counter()
        rows = df.collect()
        t5 = time.perf_counter()
        t.latency_s = t5 - start
        t.build_s, t.plan_s, t.collect_s = t1 - t0, t3 - t2, t5 - t4
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        for phase in ("build", "plan", "collect"):
            for job_id in self.status.getJobIdsForGroup(f"{tag}:{phase}"):
                t.jobs += 1
                t.eager_jobs += phase == "build"
                info = self.status.getJobInfo(job_id)
                for sid in info.stageIds if info else ():
                    stage = self.status.getStageInfo(sid)
                    t.stages += 1
                    if stage:
                        t.tasks += stage.numTasks
                        t.failed_tasks += stage.numFailedTasks
        for k, v in plan_metrics(jplan).items():
            setattr(t, k, v)
        t.result_rows = len(rows)
        return rows, df.columns, t

    # -- storage ---------------------------------------------------------
    def record_residue(self) -> None:
        """Record what is still cached; call right after ``clearCache``."""
        jsc = self.sc._jsc
        n = jsc.getPersistentRDDs().size()
        mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
        self.residue_rdds = max(self.residue_rdds, n)
        self.residue_mb = max(self.residue_mb, mb)
