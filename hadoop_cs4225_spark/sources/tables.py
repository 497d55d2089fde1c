"""Parquet loaders for the testdata star schema + extension tables.

Replaces the reference's only source — line-oriented text via Hadoop
``TextInputFormat`` (``WordCount.java:60``, ``TopkCommonWords.java:172-173``)
— with schema-carrying Parquet scans. Text sources for the golden replay
live in ``operators/wordcount.py`` (``spark.read.text``).

Scale notes: Parquet scans get column pruning + predicate pushdown from
Catalyst for free; at 100 TB the same loaders apply to a partitioned
table layout (e.g. ``events`` partitioned by date) where partition
pruning kicks in on ``ts`` filters.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.session import apply_runtime_confs
from hadoop_cs4225_spark.sources.sinks import SessionCache, mtime_ns

#: All driver-generated tables (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Read plans of the tables, keyed by path and stamped with its mtime.
#: A DataFrame is an immutable plan, so reuse is always safe; it skips
#: the file-listing + footer-schema job that otherwise costs ~0.1-0.2 s
#: per ``spark.read.parquet`` call (half the fixed per-query overhead of
#: the bench suite).
TABLE_READS = SessionCache()


def _read(spark: SparkSession, sf_dir: str, name: str, read) -> DataFrame:
    path = _path(sf_dir, name)

    def build() -> DataFrame:
        apply_runtime_confs(spark)
        return read(spark.read.parquet(path))

    return TABLE_READS.get(spark, os.path.normpath(path), lambda: mtime_ns(path), build)


def _micros_ts(df: DataFrame) -> DataFrame:
    if dict(df.dtypes).get("ts") == "bigint":
        # Integer division, NOT `/1000` + cast: the double round-trip has
        # ulp 256ns above 2^53, which lands ~1.5% of rows 1µs low.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with ``ts`` as a proper timestamp.

    The file stores ``ts`` as parquet TIMESTAMP(NANOS,false), which
    Spark's reader rejects ([PARQUET_TYPE_ILLEGAL]). With
    ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as
    nanos-since-epoch (long); convert to microsecond timestamps —
    the same truncation DuckDB applies, so oracle comparisons agree.
    """
    return _read(spark, sf_dir, "events", _micros_ts)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return _read(spark, sf_dir, name, lambda df: df)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}
