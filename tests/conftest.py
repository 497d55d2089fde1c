from __future__ import annotations

import math

import duckdb
import pytest

from hadoop_cs4225_spark.session import get_spark
from hadoop_cs4225_spark.sources.tables import TABLES

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.001"  # unit tests stay fast; the driver runs sf0.01


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="spark-graft-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with views registered like the driver's oracle."""
    con = duckdb.connect()
    for name in TABLES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * "
            f"FROM read_parquet('{SF_ORACLE}/{name}.parquet')"
        )
    yield con
    con.close()


def _normalize(value):
    """Canonical form for cross-engine value comparison."""
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # Shortest-roundtrip repr: identical doubles → identical strings,
        # and float 4.0 stays distinct from int 4 (type drift must fail).
        return repr(value)
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, list):
        return tuple(_normalize(v) for v in value)
    return str(value)


# DuckDB output types whose pandas conversion diverges from Spark's
# collected Python values: HUGEINT/UHUGEINT and DECIMAL become float64
# in `rel.df()` (3 -> 3.0, 1234.50 -> 1234.5), so the driver's
# value-hash can never match Spark's bigint/Decimal even when the
# values are equal. Every oracle must CAST these away (SUM over ints ->
# CAST(... AS BIGINT); decimal outputs -> VARCHAR on both sides).
FORBIDDEN_ORACLE_TYPES = ("HUGEINT", "DECIMAL")


def assert_oracle_types_safe(duck_rel, name=""):
    bad = [
        (c, str(t))
        for c, t in zip(duck_rel.columns, duck_rel.types)
        if any(f in str(t).upper() for f in FORBIDDEN_ORACLE_TYPES)
    ]
    assert not bad, (
        f"{name}: oracle emits driver-hostile DuckDB types (pandas "
        f"renders them float64, breaking the value hash): {bad} — "
        f"CAST integer SUMs to BIGINT / decimals to VARCHAR"
    )


def assert_frames_match(spark_df, duck_rel, name=""):
    """Mimic the driver's compare: row-count + order-insensitive values
    with columns sorted by name."""
    assert_oracle_types_safe(duck_rel, name=name)
    sp_cols = sorted(spark_df.columns)
    du_cols = sorted(duck_rel.columns)
    assert sp_cols == du_cols, f"{name}: column names differ: {sp_cols} vs {du_cols}"
    sp_rows = [
        tuple(_normalize(row[c]) for c in sp_cols) for row in spark_df.collect()
    ]
    du_col_order = [duck_rel.columns.index(c) for c in du_cols]
    du_rows = [
        tuple(_normalize(row[i]) for i in du_col_order)
        for row in duck_rel.fetchall()
    ]
    assert len(sp_rows) == len(du_rows), (
        f"{name}: row count {len(sp_rows)} vs oracle {len(du_rows)}"
    )
    sp_sorted, du_sorted = sorted(sp_rows), sorted(du_rows)
    mismatches = [
        (a, b) for a, b in zip(sp_sorted, du_sorted) if a != b
    ][:5]
    assert sp_sorted == du_sorted, f"{name}: value mismatch, first diffs: {mismatches}"


def part_files(index_root, version, part):
    """``{file: mtime_ns}`` of one part directory of a versioned sink."""
    import os

    d = os.path.join(index_root, f"v{version}", part)
    return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}


def assert_append_part(spark, index_root, part, want, v0_files):
    """APPEND-layout contract after two batches: ``v1/<part>`` holds
    exactly batch 1's rows, and ``v0/<part>``'s files were not
    rewritten by batch 1."""
    import os

    got = spark.read.parquet(os.path.join(index_root, "v1", part))
    key = lambda df: sorted(tuple(str(v) for v in r) for r in df.collect())
    assert key(got) == key(want.select(*got.columns))
    assert part_files(index_root, 0, part) == v0_files
