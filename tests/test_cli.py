"""CLI drop-in parity: the reference's job invocations must work here.

Runs in a subprocess (the CLI owns its SparkSession lifecycle) on the
small smoke fixtures to keep it fast; the full-corpus byte-exact replay
is covered by tests/test_golden_replay.py through the same pipeline.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
FIXTURES = REPO / "tests" / "fixtures"


def test_wordcount_cli(tmp_path):
    out = tmp_path / "wc"
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    res = subprocess.run(
        [
            sys.executable, "-m", "hadoop_cs4225_spark.cli", "wordcount",
            str(FIXTURES / "file01.txt"),
            str(FIXTURES / "file02.txt"),
            str(out),
        ],
        capture_output=True, text=True, timeout=240, env=env,
        cwd=REPO,
    )
    assert res.returncode == 0, res.stderr[-800:]
    lines = sorted(
        line
        for f in out.glob("part-*.txt")
        for line in f.read_text().splitlines()
    )
    assert lines == ["Bye\t1", "Goodbye\t1", "Hadoop\t2", "Hello\t2", "World\t2"]


def test_cli_query_list_and_run(tmp_path, capsys):
    from hadoop_cs4225_spark import cli

    # --list never builds a session — safe in-process
    assert cli.main(["query", "--list"]) == 0
    out = capsys.readouterr().out
    assert "word_count\toracle" in out
    assert "topk_users_approx\trows-only" in out

    # the run path owns (and stops) its SparkSession -> subprocess,
    # like the wordcount test, so the suite's shared session survives
    outdir = str(tmp_path / "q6")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    res = subprocess.run(
        [
            sys.executable, "-m", "hadoop_cs4225_spark.cli", "query",
            "q6_revenue_forecast", "--sf", "/root/testdata/sf0.001",
            "--out", outdir,
        ],
        capture_output=True, text=True, timeout=240, env=env,
        cwd=REPO,
    )
    assert res.returncode == 0, res.stderr[-800:]
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{outdir}/*.parquet')"
    ).fetchone()[0]
    assert n == 1
