"""Source-format independence: CSV and JSON-lines scans.

The engine's queries are layout-agnostic: the same aggregation over
``orders`` must produce identical results whether the table arrives as
Parquet, CSV or JSON lines. This module derives CSV/JSONL copies once
per scale factor (under ``.derived/``), reads them back with EXPLICIT
schemas (schema inference over 100 TB of text is a full extra scan —
never do it at scale), and registers queries whose DuckDB oracle reads
the original Parquet — proving the format round-trip is lossless for
the queried columns.

Scale notes: CSV/JSONL are splittable by line, so they parallelize, but
they are row-oriented (no column pruning, no predicate pushdown, ~5-10×
the bytes of Parquet). The queries exist to prove the connector surface;
the docstrings say what the plan gives up vs the Parquet scan.

Avro: deliberately NOT covered. ``format("avro")`` needs the external
``spark-avro`` connector jar (Spark ships only the avro-1.x library
jars, checked: no ``spark-avro_2.13`` in this container's
``pyspark/jars``), and the environment forbids installs. An
``orders_avro_scan_rollup`` would be this module's CSV pattern verbatim
with ``.format("avro")`` — add it the day the jar is present.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import derived_layout
from hadoop_cs4225_spark.sources.tables import load_table

#: Columns exported to text formats (timestamps rendered as strings so
#: the round-trip is bit-exact and engine-neutral).
_ORDERS_TEXT_SCHEMA = (
    "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
    "o_orderstatus string, o_orderpriority string, o_orderdate_s string"
)


def _orders_text_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        "o_orderstatus",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
    )


#: Fingerprint of every orders text/ORC copy: the exported columns.
_ORDERS_TEXT_CONFIG = f"cols={_ORDERS_TEXT_SCHEMA}"


@derived_layout(
    "orders_csv", sources=("orders",), config=_ORDERS_TEXT_CONFIG + ";csv;header=1"
)
def ensure_orders_csv(spark: SparkSession, sf_dir: str, path: str) -> None:
    _orders_text_df(spark, sf_dir).write.option("header", True).csv(path)


@derived_layout(
    "orders_jsonl", sources=("orders",), config=_ORDERS_TEXT_CONFIG + ";jsonl"
)
def ensure_orders_jsonl(spark: SparkSession, sf_dir: str, path: str) -> None:
    _orders_text_df(spark, sf_dir).write.json(path)


_ORDERS_ROLLUP_ORACLE = """
SELECT o_orderstatus,
       strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY o_orderstatus, order_month
ORDER BY o_orderstatus, order_month
"""


def _orders_rollup(df: DataFrame) -> DataFrame:
    return (
        df.groupBy(
            "o_orderstatus",
            F.substring("o_orderdate_s", 1, 7).alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus", "order_month")
    )


@register("orders_csv_scan_rollup", oracle=_ORDERS_ROLLUP_ORACLE)
def orders_csv_scan_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month×status rollup over the CSV copy of ``orders``.

    Explicit schema (no inference scan). The oracle reads the Parquet
    original — equal hashes prove the CSV round-trip is lossless. The
    CSV scan parallelizes by line-splits but reads every byte of every
    row; the Parquet twin prunes to 3 columns (why Parquet is the
    resting format at 100 TB and CSV only an ingest format).
    """
    path = ensure_orders_csv(spark, sf_dir)
    df = spark.read.schema(_ORDERS_TEXT_SCHEMA).option("header", True).csv(path)
    return _orders_rollup(df)


@register("orders_jsonl_scan_rollup", oracle=_ORDERS_ROLLUP_ORACLE)
def orders_jsonl_scan_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rollup over JSON-lines — the ingest format of most event
    feeds. Explicit schema: JSON inference costs a full scan AND types
    drift per-file; a 100 TB pipeline pins the schema at the boundary."""
    path = ensure_orders_jsonl(spark, sf_dir)
    df = spark.read.schema(_ORDERS_TEXT_SCHEMA).json(path)
    return _orders_rollup(df)


@derived_layout(
    "orders_orc", sources=("orders",), config=_ORDERS_TEXT_CONFIG + ";orc"
)
def ensure_orders_orc(spark: SparkSession, sf_dir: str, path: str) -> None:
    _orders_text_df(spark, sf_dir).write.orc(path)


@register("orders_orc_scan_rollup", oracle=_ORDERS_ROLLUP_ORACLE)
def orders_orc_scan_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rollup over an ORC copy — the second columnar resting
    format (Hive-ecosystem interchange). Unlike the text formats, the
    ORC scan keeps column pruning and predicate pushdown, so the plan
    is equivalent to the Parquet one at any scale."""
    path = ensure_orders_orc(spark, sf_dir)
    return _orders_rollup(spark.read.orc(path))


@derived_layout(
    "orders_xml", sources=("orders",), config=_ORDERS_TEXT_CONFIG + ";xml;rowTag=order"
)
def ensure_orders_xml(spark: SparkSession, sf_dir: str, path: str) -> None:
    _orders_text_df(spark, sf_dir).write.format("xml").option(
        "rowTag", "order"
    ).save(path)


@register("orders_xml_scan_rollup", oracle=_ORDERS_ROLLUP_ORACLE)
def orders_xml_scan_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rollup over XML (Spark 4 native source) — the legacy-feed
    ingest case. Explicit schema again; XML is the least splittable of
    the text formats (records span lines, the reader must find rowTag
    boundaries), so at scale it exists strictly at the ingest boundary,
    converted to Parquet in the first pass."""
    path = ensure_orders_xml(spark, sf_dir)
    df = (
        spark.read.schema(_ORDERS_TEXT_SCHEMA)
        .format("xml")
        .option("rowTag", "order")
        .load(path)
    )
    return _orders_rollup(df)


@derived_layout("docs_bin", config="doc_id<32;utf-8")
def ensure_docs_bin(spark: SparkSession, sf_dir: str, path: str) -> None:
    """One ``doc_<id>.bin`` file per document (doc_id < 32) —
    the on-disk shape multimodal corpora arrive in (an object store of
    raw media blobs). Driver-side writer is fixture derivation only,
    bounded at 32 tiny files; real pipelines read pre-existing blobs."""
    os.makedirs(path)
    rows = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 32)
        .select("doc_id", "text")
        .collect()
    )
    for r in rows:
        with open(os.path.join(path, f"doc_{r['doc_id']:04d}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))


@register(
    "binaryfile_docs_scan",
    oracle="""
SELECT COUNT(*) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT md5(text)) AS n_distinct_blobs
FROM documents WHERE doc_id < 32
""",
)
def binaryfile_docs_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source: ingest a directory of opaque blobs as
    (path, modificationTime, length, content) rows — the standard Spark
    entry point for image/audio corpora at scale.

    The aggregate proves the round-trip: byte length and content md5
    over the blobs match the originating rows (corpus is ASCII, so
    bytes == n_chars). Scale notes: binaryFile parallelizes per-file
    (maxPartitionBytes packs small files), content is NOT splittable —
    fine for media where one blob = one record; set
    `spark.sql.files.ignoreCorruptFiles` policy deliberately in prod.
    """
    path = ensure_docs_bin(spark, sf_dir)
    blobs = spark.read.format("binaryFile").load(path)
    return blobs.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
        F.countDistinct(F.md5("content")).alias("n_distinct_blobs"),
    )


@derived_layout(
    "orders_evolved",
    sources=("orders",),
    config="gen=1:even,3cols;gen=2:odd,+o_orderpriority",
)
def ensure_orders_evolved(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Two parquet batches with EVOLVED schemas under one table root:
    batch ``gen=1`` (the early ingest) has only (o_orderkey, o_custkey,
    o_totalprice); batch ``gen=2`` added ``o_orderpriority`` — the way a
    long-lived 100 TB table actually accretes columns. Split point:
    even/odd o_orderkey (deterministic, engine-portable)."""
    base = load_table(spark, sf_dir, "orders")
    (
        base.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.parquet(os.path.join(path, "gen=1"))
    )
    (
        base.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.parquet(os.path.join(path, "gen=2"))
    )


@register(
    "orders_schema_evolution_scan",
    oracle="""
SELECT COALESCE(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END,
                '<pre-evolution>') AS priority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY priority
ORDER BY priority
""",
)
def orders_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup across parquet batches whose schemas EVOLVED: the reader
    must union the per-file schemas (``mergeSchema=true``) and surface
    the pre-evolution rows' missing column as NULL.

    Scale notes: schema merging reads every file's footer at planning
    time — on a 100 TB table pin the merged schema in a catalog
    (read with an explicit schema, as the other connectors here do)
    instead of re-deriving it per query; Spark then still fills absent
    columns with NULL per file. The oracle reconstructs the same view
    from the raw table (odd keys carry the evolved column, even keys
    pre-date it) — evolution is metadata, never a rewrite of old data.
    """
    path = ensure_orders_evolved(spark, sf_dir)
    ev = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        ev.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Round-9: malformed-record handling (PERMISSIVE / DROPMALFORMED)
# ---------------------------------------------------------------------------

#: Every order whose key hits this modulus contributes one extra,
#: deterministically TRUNCATED (invalid) JSON line to the dirty feed.
_DIRTY_MOD = 97


@derived_layout(
    "orders_jsonl_dirty",
    sources=("orders",),
    config=_ORDERS_TEXT_CONFIG + f";jsonl;corrupt_mod={_DIRTY_MOD};truncate=5",
)
def ensure_orders_jsonl_dirty(spark: SparkSession, sf_dir: str, path: str) -> None:
    base = _orders_text_df(spark, sf_dir)
    good = base.select(F.to_json(F.struct(*base.columns)).alias("value"))
    bad = (
        base.where(F.col("o_orderkey") % _DIRTY_MOD == 0)
        .select(F.to_json(F.struct(*base.columns)).alias("j"))
        .select(F.expr("substring(j, 1, length(j) - 5)").alias("value"))
    )
    good.unionByName(bad).write.text(path)


@register(
    "orders_jsonl_malformed_audit",
    oracle=f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
         CAST(SUM(CASE WHEN o_orderkey % {_DIRTY_MOD} = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_corrupt
  FROM orders
)
SELECT n_good + n_corrupt AS n_permissive_rows,
       n_corrupt,
       n_good AS n_dropmalformed_rows,
       {quant_sql(
           "CAST(n_corrupt AS DOUBLE) / (n_good + n_corrupt)", 6)}
         AS corrupt_rate
FROM m
""",
)
def orders_jsonl_malformed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling audit: a dirty JSONL feed (one
    deterministically truncated line per ``o_orderkey % 97 == 0`` order) read under BOTH recovery policies — PERMISSIVE with
    ``_corrupt_record`` capture (quarantine lane) and DROPMALFORMED
    (silent drop) — with the counts audited against the INDEPENDENT
    ground truth recomputed from the clean parquet. This is the ingest
    resilience surface every 100 TB feed needs: the audit proves the
    reader classifies exactly the constructed corruption, no more and
    no fewer (a parser that silently salvages or over-drops fails the
    hash).

    Scale: both reads are line-splittable text scans; the corrupt lane
    is a map-side predicate count.

    No reference analogue; extends the SURVEY §2 sources family.
    """
    path = ensure_orders_jsonl_dirty(spark, sf_dir)
    schema = _ORDERS_TEXT_SCHEMA + ", _corrupt_record string"
    # ONE aggregate over a two-column projection yields both PERMISSIVE
    # counts in a single scan — no cache to leave pinned in executor
    # storage for the rest of the session (the r9 version cached the
    # full PERMISSIVE frame and never unpersisted it). The aggregate
    # must REFERENCE a real data column or column pruning reduces the
    # scan to `_corrupt_record` alone and Spark's
    # QUERY_ONLY_CORRUPT_RECORD_COLUMN rule rejects the plan — so the
    # good-row count is COUNT(o_orderkey): PERMISSIVE nulls every data
    # column on a corrupt line and the clean feed has no null keys,
    # making count(o_orderkey) exactly the parsed-row count.
    is_corrupt = F.col("_corrupt_record").isNotNull()
    perm_counts = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .agg(
            (F.count("o_orderkey") + F.sum(is_corrupt.cast("long")))
            .cast("long")
            .alias("n_permissive_rows"),
            F.sum(is_corrupt.cast("long")).cast("long").alias("n_corrupt"),
        )
    )
    n_drop = (
        spark.read.schema(_ORDERS_TEXT_SCHEMA)
        .option("mode", "DROPMALFORMED")
        .json(path)
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropmalformed_rows"))
    )
    return (
        perm_counts.crossJoin(n_drop)
        .select(
            "n_permissive_rows",
            "n_corrupt",
            "n_dropmalformed_rows",
            quant(
                F.col("n_corrupt").cast("double")
                / F.col("n_permissive_rows"),
                6,
            ).alias("corrupt_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Round-11: distributed Parquet footer-statistics audit
# ---------------------------------------------------------------------------

#: Numeric columns audited per table (BIGINT/DOUBLE only: their
#: footer min/max statistics are EXACT values of the column type, so
#: footer == data is a strict equality check; string stats may be
#: truncated and timestamp stats change representation).
_FOOTER_COLS = {
    "orders": ("o_orderkey", "o_custkey", "o_totalprice"),
    "lineitem": (
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
    ),
}

_FOOTER_UDF_SCHEMA = (
    "tbl string, column_name string, n_values long, "
    "fmin double, fmax double, has_stats boolean"
)


def _footer_rows(it):
    """mapInPandas worker: parse each file's FOOTER ONLY (pyarrow
    ParquetFile reads metadata lazily — never the data pages) and emit
    one row per audited column chunk, already folded across the file's
    row groups. A column chunk WITHOUT min/max statistics poisons the
    fold permanently (has_stats goes false and fmin/fmax pin to None
    — ADVICE r10: a later chunk's values must never overwrite the
    "stats missing" state, or the audit reports a match for exactly
    the writer regression it exists to catch)."""
    import pandas as pd
    import pyarrow.parquet as pq

    for pdf in it:
        rows = []
        for tbl, path in zip(pdf["tbl"], pdf["path"]):
            md = pq.ParquetFile(path).metadata
            want = set(_FOOTER_COLS[tbl])
            # name -> [n_values, fmin, fmax, has_stats]
            acc: dict = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    name = c.path_in_schema
                    if name not in want:
                        continue
                    st = c.statistics
                    ok = bool(st and st.has_min_max)
                    a = acc.setdefault(name, [0, None, None, True])
                    a[0] += c.num_values
                    if not ok:
                        a[1] = a[2] = None
                        a[3] = False
                    elif a[3]:
                        lo, hi = float(st.min), float(st.max)
                        a[1] = lo if a[1] is None else min(a[1], lo)
                        a[2] = hi if a[2] is None else max(a[2], hi)
            for name, (n, lo, hi, ok) in acc.items():
                rows.append((tbl, name, n, lo, hi, ok))
        yield pd.DataFrame(
            rows,
            columns=[
                "tbl", "column_name", "n_values", "fmin", "fmax",
                "has_stats",
            ],
        )


def _footer_oracle_sql() -> str:
    parts = []
    for tbl, cols in _FOOTER_COLS.items():
        for c in cols:
            parts.append(
                f"SELECT '{tbl}' AS tbl, '{c}' AS column_name,"
                f" CAST(COUNT(*) AS BIGINT) AS n_values,"
                f" CAST(MIN({c}) AS DOUBLE) AS data_min,"
                f" CAST(MAX({c}) AS DOUBLE) AS data_max,"
                f" TRUE AS footer_min_match, TRUE AS footer_max_match"
                f" FROM {tbl}"
            )
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts) + ") "
        "ORDER BY tbl, column_name"
    )


@register("parquet_footer_stats_audit", oracle=_footer_oracle_sql())
def parquet_footer_stats_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer-statistics audit: parse each table file's FOOTER
    (row-group column-chunk min/max/num_values) on the EXECUTORS via
    ``mapInPandas`` over a file-list frame, fold per column, and join
    against the data-side MIN/MAX/COUNT computed by a normal scan —
    the physical-design health check that row-group pruning depends
    on (a writer that stops emitting statistics silently turns every
    predicate-pushdown scan into a full read; this query catches it).

    The oracle asserts the INVARIANT (footer stats must equal the data
    extrema — min/max statistics for INT64/DOUBLE columns are exact
    by the Parquet spec) by emitting literal TRUE flags alongside the
    independently-computed data extrema: if Spark's footer parse or
    the writer's stats ever disagree with the data, the genuine flags
    go false and the value-hash mismatches. A single stats-less column
    chunk ANYWHERE fails the audit (per-file fold pins fmin/fmax to
    None once missing; cross-file ``bool_and`` carries it — ADVICE
    r10), and the file list is a real directory walk, so multi-part
    table layouts are fully covered (both pinned in
    tests/test_round11_batch3.py). n_values (sum of column-chunk value
    counts, null-inclusive for these required columns) is
    cross-checked against COUNT(*) exactly.

    Scale: the file-list frame carries (table, path) rows — at 100 TB
    that is thousands of files fanned across executors, each opened
    for its ~KB footer only (pyarrow reads metadata lazily); the
    data-side extrema are one map-side-combined aggregate per table.
    Nothing driver-side but the bounded file listing.

    No reference analogue; extends SURVEY §2's physical-design and
    observability families.
    """
    import os as _os

    # Real listing, not a hardcoded {table}.parquet path: a table may
    # be a single file OR a directory of part files (ADVICE r10). The
    # listing itself is the bounded driver-side step (file NAMES only);
    # footer parsing stays on the executors.
    pairs = []
    for t in _FOOTER_COLS:
        root = _os.path.join(sf_dir, f"{t}.parquet")
        if _os.path.isdir(root):
            for dirpath, _dirs, names in _os.walk(root):
                for n in sorted(names):
                    if n.endswith(".parquet") and not n.startswith(
                        ("_", ".")
                    ):
                        pairs.append((t, _os.path.join(dirpath, n)))
        else:
            pairs.append((t, root))
    files = spark.createDataFrame(
        pairs, "tbl string, path string"
    ).repartition(max(len(pairs) // 4, 1))
    footer = (
        files.mapInPandas(_footer_rows, _FOOTER_UDF_SCHEMA)
        .groupBy("tbl", "column_name")
        .agg(
            F.sum("n_values").cast("long").alias("n_values"),
            F.min("fmin").alias("fmin"),
            F.max("fmax").alias("fmax"),
            # one stats-less chunk in ANY file fails the audit
            F.bool_and("has_stats").alias("has_stats"),
        )
    )
    data_frames = []
    for tbl, cols in _FOOTER_COLS.items():
        t = load_table(spark, sf_dir, tbl)
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
        for c in cols:
            aggs.append(F.min(c).cast("double").alias(f"min_{c}"))
            aggs.append(F.max(c).cast("double").alias(f"max_{c}"))
        one = t.agg(*aggs)
        stacked = one.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"),
                            F.col("n_rows").alias("n_rows"),
                            F.col(f"min_{c}").alias("data_min"),
                            F.col(f"max_{c}").alias("data_max"),
                        )
                        for c in cols
                    ]
                )
            ).alias("s")
        ).select(
            F.lit(tbl).alias("tbl"),
            F.col("s.column_name").alias("column_name"),
            F.col("s.n_rows").alias("n_rows"),
            F.col("s.data_min").alias("data_min"),
            F.col("s.data_max").alias("data_max"),
        )
        data_frames.append(stacked)
    data = data_frames[0]
    for d in data_frames[1:]:
        data = data.unionByName(d)
    # LEFT join FROM the expected (tbl, column_name) set (ADVICE r11):
    # the data side is built from _FOOTER_COLS, so a table directory
    # that yields ZERO .parquet part files (all parts filtered by the
    # name guards, or an empty dir) still surfaces — with NULL
    # n_values and false match flags — instead of silently dropping
    # from the audit. An audit must fail loud for exactly the
    # layout-corruption case it exists to catch, never pass by absence.
    return (
        data.join(footer, ["tbl", "column_name"], "left")
        .select(
            "tbl",
            "column_name",
            "n_values",
            "data_min",
            "data_max",
            F.coalesce(
                F.col("has_stats")
                & F.col("fmin").isNotNull()
                & (F.col("fmin") == F.col("data_min")),
                F.lit(False),
            ).alias("footer_min_match"),
            F.coalesce(
                F.col("has_stats")
                & F.col("fmax").isNotNull()
                & (F.col("fmax") == F.col("data_max")),
                F.lit(False),
            ).alias("footer_max_match"),
        )
        .orderBy("tbl", "column_name")
    )
