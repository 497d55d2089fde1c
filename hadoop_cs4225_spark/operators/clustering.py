"""Distributed k-means (Lloyd's algorithm) over the embeddings table.

The registry already has *static*-centroid vector ops (IVF / PQ use
deterministic hash-derived centroids, similarity.py:427); this module
adds the genuinely ITERATIVE clustering shape: assign → update →
assign → update → assign, entirely as DataFrame plans — no driver-side
``collect()`` of vectors, no Python loop over rows.

Cross-engine exactness (the property that makes a k-means DuckDB
oracle possible at all): embedding dims are quantized once onto an
integer grid (``floor(x * 1e6 + 0.5)``), after which every distance is
a BIGINT sum of squared integer differences — associative, so
partial-aggregation order can't flip an argmin — and every centroid
update re-floors onto the same grid. Argmin ties break toward the
smaller cluster id via a composite ``dist * 8 + cid`` key, so the
whole fixed-point is bit-deterministic in both engines.

Scale: centroids are a k*64-row long-form table (broadcast); each
assignment is one broadcast equi-join on the dim index + a map-side-
combined (vec_id, cid) partial aggregate; each update one (cid, i)
aggregate — bounded state, one shuffle per step, k*64 rows of state
between steps. Iteration count is fixed (2 updates), keeping lineage
shallow; a convergence-driven variant would localCheckpoint per round
like dedup.dedup_clusters.

No reference analogue; extends the LLM-pipeline surface (SemDeDup-style
embedding clustering is the standard pre-dedup step; the silhouette
query is its quality gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import session_memo
from hadoop_cs4225_spark.sources.tables import load_table

#: Cluster count. The argmin composite key packs the cluster id into
#: the low 3 bits (``dist * 8 + cid``), so _K must stay <= 8.
_K = 4

#: Embedding dimensionality (embeddings.parquet contract, 64).
_DIMS = 64

#: Integer grid for the quantized dims.
_GRID = 1_000_000

#: Grid for per-vector silhouette values before the per-cluster sum.
_SIL_GRID = 1_000_000_000


def _assign_cte(cent: str) -> str:
    return f"""
  SELECT vec_id, CAST(mk % 8 AS INT) AS cid FROM (
    SELECT d.vec_id, MIN(d.dist * 8 + d.cid) AS mk FROM (
      SELECT l.vec_id, c.cid,
             SUM((l.v - c.m) * (l.v - c.m)) AS dist
      FROM ql l JOIN {cent} c USING (i)
      GROUP BY l.vec_id, c.cid) d
    GROUP BY d.vec_id)
"""


def _update_cte(asg: str) -> str:
    return f"""
  SELECT a.cid, l.i,
         CAST(floor(CAST(SUM(l.v) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS m
  FROM ql l JOIN {asg} a USING (vec_id)
  GROUP BY a.cid, l.i
"""


def _kmeans_prefix() -> str:
    """Shared CTE chain: quantize → long form → seeds → 2 Lloyd
    updates → final assignment (a3) with final centroids (c2)."""
    return f"""qv AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_GRID} + 0.5) AS BIGINT)) AS q
  FROM embeddings
), ql AS (
  SELECT vec_id, i, q[i] AS v FROM qv, range(1, {_DIMS + 1}) t(i)
), seeds AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, q
  FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {_K}) s
), c0 AS (
  SELECT cid, i, q[i] AS m FROM seeds, range(1, {_DIMS + 1}) t(i)
), a1 AS ({_assign_cte("c0")}), c1 AS ({_update_cte("a1")}),
   a2 AS ({_assign_cte("c1")}), c2 AS ({_update_cte("a2")}),
   a3 AS ({_assign_cte("c2")})"""


def _oracle() -> str:
    return f"""
WITH {_kmeans_prefix()}
SELECT a.cid, COUNT(*) AS n_vecs,
       {quant_sql("SUM(e.label) * 1.0 / COUNT(*)", 6)} AS avg_label,
       ANY_VALUE(n.centroid_norm) AS centroid_norm
FROM a3 a JOIN embeddings e USING (vec_id)
JOIN (SELECT cid,
             {quant_sql(f"sqrt(CAST(SUM(m * m) AS DOUBLE)) / {_GRID}.0", 6)}
               AS centroid_norm
      FROM c2 GROUP BY cid) n USING (cid)
GROUP BY a.cid
ORDER BY a.cid
"""


def _ql_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form quantized vectors ``(vec_id, i, v)`` — one row per
    (vec, dim), the shape every Lloyd step joins on. Cheap plan (one
    map-side explode); rebuilt inline by each consumer."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _GRID + 0.5).cast("long"),
        ).alias("q"),
    )
    return qv.select(
        "vec_id", F.posexplode("q").alias("i0", "v")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "v")


def _assign(ql: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment: argmin over the broadcast centroid table,
    ties to the smaller cid via the ``dist*8 + cid`` composite key."""
    d = (
        ql.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))
            ).alias("dist")
        )
    )
    return d.groupBy("vec_id").agg(
        F.min(F.col("dist") * 8 + F.col("cid")).alias("mk")
    ).select("vec_id", (F.col("mk") % 8).cast("int").alias("cid"))


@session_memo("kmeans_cent", sources=("embeddings",))
def _kmeans_cent_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINAL centroids ``(cid, i, m)`` after the two Lloyd updates —
    a session memo because BOTH registered k-means queries consume the
    identical fixpoint and each previously re-ran the whole 5-step
    iteration (guide §2.4). Bounded: k·d = 256 short rows at any corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _GRID + 0.5).cast(
                "long"
            ),
        ).alias("q"),
    )
    ql = _ql_frame(spark, sf_dir)
    # deterministic seeds: the k smallest vec_ids, cid by that
    # order. The row_number window runs over the ALREADY-LIMITed
    # k-row frame (bounded; allowlisted in test_plans.py).
    seeds = (
        qv.orderBy("vec_id")
        .limit(_K)
        .withColumn(
            "cid",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).cast(
                "int"
            ),
        )
    )
    cent = seeds.select(
        "cid", F.posexplode("q").alias("i0", "m")
    ).select("cid", (F.col("i0") + 1).alias("i"), "m")

    def update(asg: DataFrame) -> DataFrame:
        return (
            ql.join(asg, "vec_id")
            .groupBy("cid", "i")
            .agg(
                F.floor(
                    F.sum("v").cast("double") / F.count(F.lit(1)) + 0.5
                )
                .cast("long")
                .alias("m")
            )
        )

    for _ in range(2):
        cent = update(_assign(ql, cent))
    return cent.localCheckpoint(eager=False)


@session_memo("kmeans_assign", sources=("embeddings",), upstream=("kmeans_cent",))
def _kmeans_assign_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FINAL assignment ``(vec_id, cid)`` against the memoized final
    centroids — the other half of the shared fixpoint (one short row
    per vector, the ``_assigned_frame`` bound)."""
    return _assign(
        _ql_frame(spark, sf_dir), _kmeans_cent_frame(spark, sf_dir)
    ).localCheckpoint(eager=False)


def _kmeans_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The DataFrame twin of :func:`_kmeans_prefix`: returns
    ``(emb, ql, cent_final, assign_final)`` — the same fixpoint both
    registered queries consume (cent/assign session-memoized)."""
    return (
        load_table(spark, sf_dir, "embeddings"),
        _ql_frame(spark, sf_dir),
        _kmeans_cent_frame(spark, sf_dir),
        _kmeans_assign_frame(spark, sf_dir),
    )


@register("kmeans_embedding_clusters", oracle=_oracle())
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=4, two Lloyd updates + final assignment) on the
    integer-quantized embeddings; deterministic seeds = the k smallest
    vec_ids. Output: per-cluster size, mean label, centroid norm.

    The DuckDB oracle unrolls the identical five steps as CTEs — the
    DataFrame loop below IS that recursion (same integer grid, same
    tie-breaking argmin key), reformulated as broadcast joins +
    partial aggregates for a distributed engine.
    """
    emb, _ql, cent, final = _kmeans_frames(spark, sf_dir)
    norms = cent.groupBy("cid").agg(
        quant(
            F.sqrt(F.sum(F.col("m") * F.col("m")).cast("double")) / float(_GRID), 6
        ).alias("centroid_norm")
    )
    return (
        final.join(emb.select("vec_id", "label"), "vec_id")
        .join(norms, "cid")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            quant(F.sum("label") * 1.0 / F.count(F.lit(1)), 6).alias("avg_label"),
            F.first("centroid_norm").alias("centroid_norm"),
        )
        .orderBy("cid")
    )


@register(
    "kmeans_simplified_silhouette",
    oracle=f"""
WITH {_kmeans_prefix()},
d AS (
  SELECT l.vec_id, c.cid, SUM((l.v - c.m) * (l.v - c.m)) AS dist
  FROM ql l JOIN c2 c USING (i)
  GROUP BY l.vec_id, c.cid
), pv AS (
  SELECT d.vec_id, a.cid AS acid,
         MAX(CASE WHEN d.cid = a.cid THEN d.dist END) AS da,
         MIN(CASE WHEN d.cid <> a.cid THEN d.dist END) AS db
  FROM d JOIN a3 a ON a.vec_id = d.vec_id
  GROUP BY d.vec_id, a.cid
), s AS (
  SELECT acid,
         CAST(floor(
           (CASE WHEN greatest(sqrt(CAST(da AS DOUBLE)),
                               sqrt(CAST(db AS DOUBLE))) = 0 THEN 0.0
                 ELSE (sqrt(CAST(db AS DOUBLE)) - sqrt(CAST(da AS DOUBLE)))
                      / greatest(sqrt(CAST(da AS DOUBLE)),
                                 sqrt(CAST(db AS DOUBLE)))
            END) * {_SIL_GRID} + 0.5) AS BIGINT) AS sq
  FROM pv
)
SELECT acid AS cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       {quant_sql(f"SUM(sq) / {_SIL_GRID}.0 / COUNT(*)", 6)}
         AS avg_silhouette
FROM s
GROUP BY acid
ORDER BY cid
""",
)
def kmeans_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette of the k-means fit: per
    vector, a = distance to its own final centroid, b = distance to
    the nearest OTHER centroid, s = (b-a)/max(a,b); reported as the
    per-cluster mean. The quality gate for the clustering above —
    "did k=4 produce separated clusters or one smear?" — computed the
    only way that scales: against k centroids (O(nk)), never the
    O(n^2) pairwise silhouette.

    Shares the exact k-means fixpoint with
    ``kmeans_embedding_clusters`` (``_kmeans_frames`` /
    ``_kmeans_prefix``): squared distances are exact BIGINTs on the
    1e-6 grid; sqrt/divide are IEEE-identical in both engines; each
    per-vector s snaps to the 1e-9 grid so the per-cluster mean is an
    exact BIGINT sum divided once.

    Plan: one more broadcast join of the final k*64 centroid table
    against the long-form vectors + two partial aggs — same shapes as
    one Lloyd assignment step.
    """
    _emb, ql, cent, final = _kmeans_frames(spark, sf_dir)
    d = (
        ql.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))
            ).alias("dist")
        )
    )
    pv = (
        d.join(final.withColumnRenamed("cid", "acid"), "vec_id")
        .groupBy("vec_id", "acid")
        .agg(
            F.max(
                F.when(F.col("cid") == F.col("acid"), F.col("dist"))
            ).alias("da"),
            F.min(
                F.when(F.col("cid") != F.col("acid"), F.col("dist"))
            ).alias("db"),
        )
    )
    sa = F.sqrt(F.col("da").cast("double"))
    sb = F.sqrt(F.col("db").cast("double"))
    s_val = F.when(F.greatest(sa, sb) == 0, F.lit(0.0)).otherwise(
        (sb - sa) / F.greatest(sa, sb)
    )
    s = pv.select(
        "acid", F.floor(s_val * _SIL_GRID + 0.5).cast("long").alias("sq")
    )
    return (
        s.groupBy("acid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            quant(F.sum("sq") / float(_SIL_GRID) / F.count(F.lit(1)), 6).alias(
                "avg_silhouette"
            ),
        )
        .select(F.col("acid").alias("cid"), "n_vecs", "avg_silhouette")
        .orderBy("cid")
    )
