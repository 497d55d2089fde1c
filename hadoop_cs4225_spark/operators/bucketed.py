"""Bucketed-table co-located join: the shuffle-elimination story.

At 100 TB the dominant cost of a fact⋈dim join on a high-cardinality
key is the shuffle of BOTH sides. Bucketing pre-pays that shuffle once
at write time: `orders` and `customer` are each written
``bucketBy(N, custkey).sortBy(custkey)``, so both relations are already
hash-distributed AND sorted on the join key — Spark's bucketed scan
recognizes the co-location and plans a SortMergeJoin with NO Exchange
on either side (asserted in tests/test_plans.py). Every subsequent join
or aggregation on the bucket key reuses the layout for free; this is
the table-design answer, where ``salted_join``/AQE are the query-time
answers.

The bucketed copies live under ``.derived/<sf>/bucketed_*`` (rebuilt on
demand, fingerprint-guarded like every derived layout) and are
registered in the session catalog per scale factor; a fresh session
re-registers the existing files via ``CREATE TABLE ... CLUSTERED BY ...
LOCATION`` without rewriting — bucket ids are encoded in the file names,
so registration is metadata-only.

The oracle reads the RAW parquet — bucketing is a pure physical
re-organization, invisible to semantics.

No reference analogue (the reference's join is a reduce-side join with a
full shuffle per job, TopkCommonWords.java:100-140's two-input reduce);
this is the Spark-native layout that makes the shuffle a one-time cost.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import derived_layout
from hadoop_cs4225_spark.sources.tables import load_table

N_BUCKETS = 8

#: (table, bucket/sort key) pairs the demo materializes.
_BUCKETED = (("orders", "o_custkey"), ("customer", "c_custkey"))


def _table_name(table: str, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    return f"bkt_{table}_{tag}"


def _writer(table: str, key: str):
    """Build body of the bucketed copy of ``table``. The bucket spec is
    part of the layout's fingerprint: the bucket id→file mapping is
    baked into the file names, so re-registering surviving files under
    a different N_BUCKETS/key would give the co-located join a hash
    mapping the files don't satisfy — silently wrong join rows, with
    the Exchange still eliminated."""

    def build(spark: SparkSession, sf_dir: str, path: str) -> None:
        name = _table_name(table, sf_dir)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            load_table(spark, sf_dir, table)
            .write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .option("path", path)
            .saveAsTable(name)
        )

    return build


#: table -> ensure(spark, sf_dir) of its bucketed layout.
_ENSURE = {
    t: derived_layout(
        f"bucketed_{t}", sources=(t,), config=f"buckets={N_BUCKETS};key={k}"
    )(_writer(t, k))
    for t, k in _BUCKETED
}


def ensure_bucketed(spark: SparkSession, sf_dir: str, table: str, key: str) -> str:
    """Materialize (or re-register) the bucketed copy of ``table``;
    returns the catalog table name. ``key`` must be the declared bucket
    key of ``table`` (see ``_BUCKETED``)."""
    assert (table, key) in _BUCKETED, (table, key)
    name = _table_name(table, sf_dir)
    path = _ENSURE[table](spark, sf_dir)
    if spark.catalog.tableExists(name):
        return name
    # Files are fresh but this session's catalog has no entry (new
    # SparkSession over an existing .derived) — metadata-only register.
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in spark.read.parquet(path).schema.fields
    )
    spark.sql(
        f"CREATE TABLE {name} ({ddl}) USING PARQUET "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
        f"LOCATION '{path}'"
    )
    return name


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bare co-located join (pre-aggregation) — exposed so the plan
    test can assert the join itself plans ZERO Exchange operators."""
    for t, k in _BUCKETED:
        ensure_bucketed(spark, sf_dir, t, k)
    orders = spark.table(_table_name("orders", sf_dir))
    customer = spark.table(_table_name("customer", sf_dir))
    return orders.join(customer, orders.o_custkey == customer.c_custkey)


@register(
    "bucketed_segment_revenue",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       ROUND(SUM(o_totalprice), 2) AS total_revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def bucketed_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment order rollup over the BUCKETED orders⋈customer
    join. Both sides are bucketed+sorted on custkey, so the join needs
    no Exchange and no Sort — the only shuffle in the whole plan is the
    final small per-segment aggregation. The oracle computes the same
    rollup from the raw (unbucketed) parquet."""
    return (
        bucketed_join_frame(spark, sf_dir)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
        .orderBy("c_mktsegment")
    )
