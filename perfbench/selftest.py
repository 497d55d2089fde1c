"""Self-test of the benchmark in tiny mode.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` on sf0.001 tables, untraced and
traced, each in a fresh process with no warm-up and one steady pass (three
when traced). Checks that the last output line names every end-to-end
(untraced) or per-layer (traced) metric with its unit and that no call
failed. Also checks that the benchmark refuses to run, without printing a
result, from a directory that holds only ``BENCHMARK.json`` and the
benchmark itself. Exits 1 on the first violation.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _result(proc: subprocess.CompletedProcess) -> dict | None:
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None
    return out if isinstance(out, dict) else None


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    args = ["--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace), "--tiny"]
    proc = subprocess.run(RUN + args, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    res = _result(proc)
    if proc.returncode != 0 or res is None:
        return [f"{where}: exit {proc.returncode}, stderr tail: {proc.stderr[-800:]}"]
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{where}: result keys {sorted(res)}")
    if res.get("failed") != 0 or res.get("correct") is not True or res.get("attempted", 0) < 1:
        problems.append(f"{where}: failed_ratio is not 0: {res.get('failed')}/{res.get('attempted')}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = res.get("metrics", {})
    if set(got) != {m["name"] for m in want}:
        problems.append(f"{where}: metrics {sorted(got)}")
    for m in want:
        v = got.get(m["name"], {})
        if v.get("unit") != m["unit"] or not math.isfinite(v.get("value", math.nan)):
            problems.append(f"{where}: {m['name']} = {v}")
    return problems


def check_refuses_without_engine() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    proc = subprocess.run(RUN + ["--workload", "olap_reference", "--seed", "1",
                                 "--seconds", "1", "--trace", "0"],
                          cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or _result(proc) is not None:
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = check_refuses_without_engine()
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems += check_run(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: {'FAIL' if problems else 'ok'}", flush=True)
            if problems:
                break
    for p in problems:
        print("selftest:", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
