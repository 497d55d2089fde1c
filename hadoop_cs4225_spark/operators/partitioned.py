"""Partitioned-layout demo: the 100 TB `events` story, substantiated.

At scale, `events` lives date-partitioned (`.../event_date=YYYY-MM-DD/`)
so every time-ranged scan prunes to the queried days at the *directory*
level — the scan never opens files outside the range. This module
derives that layout once per scale factor (under ``.derived/``, relative
to the repo root) and registers a query whose physical plan must show
``PartitionFilters`` doing the pruning (asserted in tests/test_plans.py).

The oracle reads the *raw* events table — proving the partitioned
layout is a pure re-organization, not a semantic change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import (
    derived_layout,
    read_derived,
    write_partitioned,
)
from hadoop_cs4225_spark.sources.tables import load_events


@derived_layout(
    "events_by_day", sources=("events",), config="partition=event_date"
)
def ensure_events_by_day(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The date-partitioned copy of ``events``."""
    ev = load_events(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    write_partitioned(ev, path, ("event_date",))


@register(
    "events_partition_pruned_day",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
WHERE CAST(ts AS DATE) = DATE '2024-01-15'
GROUP BY event_type
ORDER BY event_type
""",
)
def events_partition_pruned_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-day aggregate over the date-partitioned layout.

    The filter is on the PARTITION column, so the scan's
    ``PartitionFilters`` prunes to a single ``event_date=`` directory —
    at 100 TB that is the difference between reading ~1/30th of a month
    and a full-table scan. The oracle computes the same answer from the
    unpartitioned table (layout is transparent to semantics).
    """
    path = ensure_events_by_day(spark, sf_dir)
    ev = read_derived(spark, path)
    return (
        ev.where(F.col("event_date") == F.lit("2024-01-15").cast("date"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


@derived_layout(
    "events_nested", sources=("events",), config="meta=etype,k,value,day"
)
def ensure_events_nested(spark: SparkSession, sf_dir: str, path: str) -> None:
    """A nested-struct copy of ``events``: everything except the
    key folded into ``meta struct<etype,k,value,day>`` — the shape
    event logs arrive in when ingested from JSON at scale."""
    load_events(spark, sf_dir).select(
        "event_id",
        F.struct(
            F.col("event_type").alias("etype"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            F.col("value").alias("value"),
            F.to_date("ts").alias("day"),
        ).alias("meta"),
    ).write.parquet(path)


@register(
    "nested_struct_pruned_rollup",
    oracle="""
SELECT event_type AS etype,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
ORDER BY etype
""",
)
def nested_struct_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup touching ONE subfield of a nested struct column.

    Catalyst's nested-schema pruning must narrow the parquet ReadSchema
    to ``meta.etype`` alone (asserted in tests/test_plans.py) — at
    100 TB with wide event envelopes, reading one subfield instead of
    the whole struct is a column-store win identical to top-level
    column pruning. The oracle reads the flat table: layout-transparent
    semantics, like the date-partitioned twin above.
    """
    path = ensure_events_nested(spark, sf_dir)
    ev = read_derived(spark, path)
    return (
        ev.groupBy(F.col("meta.etype").alias("etype"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("etype")
    )


def _zvalue() -> F.Column:
    """Morton (Z-order) key interleaving the low 16 bits of ``user_id``
    with the low 16 bits of the day index (days since 2024-01-01):
    bit 2i of z is user bit i, bit 2i+1 is day bit i. Pure JVM bit
    arithmetic (one expression, no UDF); the bit budget covers 65k users
    x 179 years — widen to two interleaved 32-bit halves for larger
    domains."""
    u = "(CAST(user_id AS BIGINT) & 65535)"
    d = "(CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT) & 65535)"
    terms = [f"shiftleft(shiftright({u}, {i}) & 1, {2 * i})" for i in range(16)]
    terms += [f"shiftleft(shiftright({d}, {i}) & 1, {2 * i + 1})" for i in range(16)]
    return F.expr(" + ".join(terms))


@derived_layout(
    "events_zorder",
    sources=("events",),
    config="zorder=user_id,day;bits=16;ranges=8",
)
def ensure_events_zorder(spark: SparkSession, sf_dir: str, path: str) -> None:
    """A Z-ORDERED copy of ``events``: range-partitioned and
    sorted by the Morton key of (user_id, day), so each parquet row
    group covers a small rectangle in BOTH dimensions and its min/max
    footer stats are selective for user filters, day filters, and their
    conjunction alike."""
    ev = load_events(spark, sf_dir).withColumn("zval", _zvalue())
    (
        ev.repartitionByRange(8, "zval")
        .sortWithinPartitions("zval")
        .drop("zval")
        .write.parquet(path)
    )


@register(
    "events_zorder_scan",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM events
WHERE user_id BETWEEN 3 AND 9
  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'
GROUP BY event_type
ORDER BY event_type
""",
)
def events_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional selective scan over the Z-ordered layout.

    ``events_clustered_user_scan`` shows single-key clustering: sorted
    by user_id, a user-range scan skips almost everything — but a
    day-range scan over that layout reads EVERY row group (each covers
    all days for its user slice). Z-ordering trades a little locality in
    each dimension for locality in both: sorting by the interleaved
    Morton key keeps row groups compact in (user, day) rectangles, so
    min/max stats prune for either predicate and best for their
    conjunction — this query filters both dimensions at once. The
    predicate literals are frozen to bounds that select rows at every
    test SF (user_id max is 14/149/1499 at sf0.001/0.01/0.1, so the
    3..9 band is always populated) — a 0-row result would make the
    correctness comparison vacuous. Both
    predicates reach the scan as ``PushedFilters`` (plan-asserted); the
    sort key itself is dropped before writing (it is derivable, costs a
    column, and the layout, not the value, is the point). The oracle
    reads the raw unordered table: layout never changes semantics.

    This is the same design Delta/Iceberg expose as ``OPTIMIZE ZORDER
    BY`` / ``sort_order(z(...))`` — here built from Spark primitives:
    a bit-interleave expression + ``repartitionByRange`` + sorted write.
    """
    path = ensure_events_zorder(spark, sf_dir)
    ev = read_derived(spark, path)
    return (
        # The day predicate is stated as a raw ts half-open range, NOT
        # to_date(ts) BETWEEN: wrapping the column in a function would
        # block parquet pushdown, and the whole point of the layout is
        # that both predicates reach the row-group stats.
        ev.where(
            F.col("user_id").between(3, 9)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-21 00:00:00").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


@derived_layout(
    "events_by_user", sources=("events",), config="cluster=user_id,ts;ranges=8"
)
def ensure_events_by_user(spark: SparkSession, sf_dir: str, path: str) -> None:
    """A user-CLUSTERED copy of ``events``: range-partitioned and
    sorted by ``user_id``, so every parquet row group covers a narrow
    user range and its min/max footer statistics become effective."""
    (
        load_events(spark, sf_dir)
        .repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.parquet(path)
    )


@register(
    "events_clustered_user_scan",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM events
WHERE user_id BETWEEN 100 AND 120
GROUP BY event_type
ORDER BY event_type
""",
)
def events_clustered_user_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow user-range aggregate over the user-clustered layout —
    the row-group data-SKIPPING story (complement of the directory-level
    pruning in ``events_partition_pruned_day``).

    The range predicate reaches the scan as ``PushedFilters``
    (plan-asserted); because the layout is sorted by ``user_id``, the
    parquet reader's row-group min/max statistics eliminate every group
    outside [100, 120] without decoding it. At 100 TB, clustering on
    the dominant filter key is the difference between touching a few
    row groups and decompressing the whole table — the same reason
    warehouses Z-order/cluster their fact tables. The oracle reads the
    unclustered original: layout is transparent to semantics.
    """
    path = ensure_events_by_user(spark, sf_dir)
    ev = read_derived(spark, path)
    return (
        ev.where(F.col("user_id").between(100, 120))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )
