"""Embedding similarity search over ``embeddings`` (driver-mandated, M4).

- brute-force cosine top-k — the exact baseline: broadcast the query
  vector, per-row fold for the dot product, TakeOrderedAndProject top-k;
- random-hyperplane LSH — the scale path: 8 deterministic ±1 planes
  bucket the vectors; queries only scan their own bucket (an equi-join
  on bucket id instead of a full scan).

No UDFs: dot products are ``zip_with`` + ``aggregate`` folds (JVM-side).
Both Spark's ``aggregate`` and DuckDB's ``list_reduce`` fold strictly
left-to-right, and the elements are cast to double first, so the sums
are bit-identical across engines (cosines are additionally quantized).

The hyperplanes are ±1 per dimension derived from md5 parity in plain
Python (seeded, reproducible) and embedded as literals in BOTH the Spark
plan and the oracle SQL — no engine-specific randomness anywhere.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import session_memo
from hadoop_cs4225_spark.sources.tables import load_table

EMB_DIM = 64
N_PLANES = 8


def _plane(p: int) -> list[float]:
    """Deterministic ±1 hyperplane: sign = parity of md5("plane:p:d")."""
    return [
        1.0 if hashlib.md5(f"plane:{p}:{d}".encode()).digest()[0] % 2 == 0 else -1.0
        for d in range(EMB_DIM)
    ]


PLANES: list[list[float]] = [_plane(p) for p in range(N_PLANES)]


def _dot(a: Column | str, b: Column | str) -> Column:
    """Left-to-right double fold of the elementwise product."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        "p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)"
    )


def _cos(a: Column | str, b: Column | str) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


def _plane_sql(p: int) -> str:
    return "[" + ", ".join(str(v) for v in PLANES[p]) + "]::DOUBLE[]"


def _bucket_col(emb: str) -> Column:
    """LSH bucket id: one sign bit per hyperplane — ONE array pass.

    All 8 plane dot products fold together through a struct accumulator
    (zip each dimension with its 8 ±1 coefficients, fold once, read the
    8 signs in the finish lambda). Two wins over the naive 8×(zip+fold):

    - runtime: one walk of the 64-dim array instead of 8 (Catalyst does
      not CSE repeated subtrees across when-branches);
    - plan-build: the whole expression is ONE ``F.expr`` string — the
      per-literal Column construction (8×64 lits) costs ~0.5 s of py4j
      round-trips per query otherwise.

    Per-plane addition order is unchanged (acc_p + x_d·c_pd in dimension
    order), so bucket ids are bit-identical to the DuckDB oracle's
    per-plane ``list_reduce`` folds.
    """
    coefs = ", ".join(
        "named_struct("
        + ", ".join(f"'c{p}', {PLANES[p][d]}D" for p in range(N_PLANES))
        + ")"
        for d in range(EMB_DIM)
    )
    prod_fields = ", ".join(
        f"'s{p}', CAST(x AS DOUBLE) * c.c{p}" for p in range(N_PLANES)
    )
    zero = ", ".join(f"'s{p}', 0.0D" for p in range(N_PLANES))
    merge_fields = ", ".join(f"'s{p}', a.s{p} + x.s{p}" for p in range(N_PLANES))
    bits = " + ".join(
        f"(CASE WHEN a.s{p} > 0 THEN {1 << p} ELSE 0 END)" for p in range(N_PLANES)
    )
    return F.expr(
        f"aggregate(zip_with({emb}, array({coefs}), (x, c) -> named_struct({prod_fields})), "
        f"named_struct({zero}), "
        f"(a, x) -> named_struct({merge_fields}), "
        f"a -> CAST({bits} AS BIGINT))"
    )


def _bucket_sql(emb: str) -> str:
    terms = [
        f"(CASE WHEN {_dot_sql(emb, _plane_sql(p))} > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@session_memo("emb_bucketed", sources=("embeddings",))
def _bucketed_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, label, embedding, bucket, norm)`` localCheckpointed
    once per (session, sf) — the session memo of the LSH side: four registered queries (buckets histogram,
    single-probe, multiprobe, near-dup join) plus the recall audit and
    the kNN-graph build all need the same 8-plane fold, and the memo
    makes it compute once. ``norm`` (= sqrt of the self-dot, the exact
    value ``_cos`` computes per PAIR) rides along so pairwise
    within-bucket stages fold only the cross dot per candidate — one
    64-dim fold instead of three, bit-identical cosines (VERDICT r9
    task 3: the verify stage was the near-dup join's growth term). At
    100 TB this IS the bucketed vector table you write once
    (``ann_lsh_buckets`` docstring) rather than re-deriving per query."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", "embedding",
            _bucket_col("embedding").alias("bucket"),
            F.sqrt(_dot("embedding", "embedding")).alias("norm"),
        )
        .localCheckpoint(eager=False)
    )


@register(
    "cosine_topk_brute",
    oracle=f"""
SELECT e.vec_id, e.label,
       {quant_sql(_cos_sql("e.embedding", "q.embedding"), 6)} AS cos_sim
FROM embeddings e
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 10
""",
)
def cosine_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec 0 (brute-force baseline).

    The query vector rides in as a broadcast 1-row cross join; the scan
    side streams — at 100 TB this is one pass + a k-row heap merge.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    return (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            quant(_cos("embedding", "qv"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@session_memo("sim:brute_topk", sources=("embeddings",))
def _brute_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cosine_topk_brute``'s 10-row result, localCheckpointed once
    per (session, sf) — the SHARED exact ground truth (VERDICT r10
    task 4): four composers (``ann_recall_audit``, ``ann_ndcg_audit``,
    ``hybrid_search_rrf``, ``mmr_diverse_topk``) each need the brute
    all-vectors cosine scan, and without the memo every audit re-pays
    it. The registered ``cosine_topk_brute`` query itself keeps its
    own live plan so its bench row still measures the scan. At 100 TB
    this is the materialized eval ground-truth table a deployment
    writes once per query set and joins against from every audit."""
    return cosine_topk_brute(spark, sf_dir).localCheckpoint(eager=False)


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <= 150)
SELECT a.vec_id AS v1, b.vec_id AS v2,
       {quant_sql(_cos_sql("a.embedding", "b.embedding"), 6)} AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_cos_sql("a.embedding", "b.embedding")} >= 0.3
ORDER BY cos_sim DESC, v1, v2
""",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (bounded slice, cos ≥ 0.3).

    All-pairs on a bounded slice; the unbounded version routes through
    ``ann_lsh_buckets`` (bucket-join) exactly like MinHash-LSH dedup.
    """
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") <= 150)
    a = emb.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    cos = _cos("e1", "e2")
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .where(cos >= 0.3)
        .select("v1", "v2", quant(cos, 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "v1", "v2")
    )


@register(
    "ann_lsh_multiprobe_topk",
    oracle=f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_bucket_sql("embedding")} AS bucket
  FROM embeddings
), q AS (SELECT embedding, bucket FROM b WHERE vec_id = 0),
probes AS (
  SELECT q.bucket AS pb FROM q
  UNION ALL
  SELECT xor(q.bucket, CAST(p.x AS BIGINT)) AS pb
  FROM q, (SELECT unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS x) p
)
SELECT e.vec_id, e.label,
       {quant_sql(_cos_sql("e.embedding", "q.embedding"), 6)} AS cos_sim
FROM b e CROSS JOIN q
WHERE e.bucket IN (SELECT pb FROM probes) AND e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 5
""",
)
def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: probe the query bucket plus its 8 Hamming-1
    neighbors (each sign bit flipped once).

    The standard recall fix for hyperplane LSH — vectors near a plane
    land across the boundary, and flipping that plane's bit finds them.
    Candidate set grows 9x but stays ~9/256 of the table; the probe-set
    membership join is still an equi-join on bucket id.
    """
    b = _bucketed_frame(spark, sf_dir)
    q = F.broadcast(
        b.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
        )
    )
    probe_set = F.array(
        F.col("qbucket"),
        *[
            F.col("qbucket").bitwiseXOR(F.lit(1 << p).cast("long"))
            for p in range(N_PLANES)
        ],
    )
    return (
        b.crossJoin(q)
        .where(
            F.array_contains(probe_set, F.col("bucket")) & (F.col("vec_id") != 0)
        )
        .select("vec_id", "label", quant(_cos("embedding", "qv"), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


@register("label_centroid_stats")  # grouped-map Pandas path: rows-only
def label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics via ``applyInPandas`` (grouped map).

    The grouped-map Arrow surface: each label's vectors arrive as one
    pandas DataFrame; output is one summary row per group (centroid norm
    + mean/max distance to centroid). Vector-reduce ops like this are
    where grouped-map genuinely beats expression trees. No SQL oracle
    (numpy reassociates sums); pinned against a driver-side numpy
    reference in tests/test_similarity_udf.py.

    Scale note: groups must fit in one worker's memory — fine for
    per-label reductions (vectors stream per group); for giant groups,
    pre-aggregate partial sums with expressions first.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")

    def stats(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        c = m.mean(axis=0)
        d = np.sqrt(((m - c) ** 2).sum(axis=1))
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [len(pdf)],
                "centroid_norm": [float(np.sqrt(c @ c))],
                "mean_dist": [float(d.mean())],
                "max_dist": [float(d.max())],
            }
        )

    out = emb.groupBy("label").applyInPandas(
        stats,
        schema="label int, n_vecs long, centroid_norm double, "
        "mean_dist double, max_dist double",
    )
    return out.select(
        "label",
        "n_vecs",
        quant("centroid_norm", 6).alias("centroid_norm"),
        quant("mean_dist", 6).alias("mean_dist"),
        quant("max_dist", 6).alias("max_dist"),
    ).orderBy("label")


@register("cosine_topk_pandas")  # Arrow-UDF variant: no SQL oracle (rows-only)
def cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cosine_topk_brute`` via a vectorized Pandas UDF.

    The Arrow escape hatch for vector math the built-ins can't express
    (here they can — ``cosine_topk_brute`` is the production path; this
    variant exists to keep the UDF surface exercised and benchmarked).
    Batch semantics: one numpy matmul per Arrow batch, no per-row
    Python. Equivalence with the JVM fold is pinned to 4 decimals in
    tests/test_similarity_udf.py (numpy reassociates the sum, so the
    last ulp differs by design).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    qv = np.array(
        emb.where(F.col("vec_id") == 0).select("embedding").first().embedding,
        dtype=np.float64,
    )
    qn = float(np.sqrt(qv @ qv))
    bqv = spark.sparkContext.broadcast(qv)

    @pandas_udf("double")
    def cos_sim(batch):  # (pd.Series) -> pd.Series; hints confuse the
        # signature parser when pd is imported function-locally.
        m = np.array(batch.tolist(), dtype=np.float64)
        dots = m @ bqv.value
        norms = np.sqrt((m * m).sum(axis=1)) * qn
        return pd.Series(dots / norms)

    return (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", "label", cos_sim("embedding").alias("cos_raw"))
        .select("vec_id", "label", quant("cos_raw", 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "ann_lsh_buckets",
    oracle=f"""
SELECT {_bucket_sql("embedding")} AS bucket,
       COUNT(*) AS n_vecs,
       COUNT(DISTINCT label) AS n_labels
FROM embeddings
GROUP BY bucket
ORDER BY bucket
""",
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (the ANN index layout).

    At scale this bucket id is the partition/bucketBy key of the vector
    table: an ANN query computes its own bucket and probes one partition
    (plus optional multi-probe neighbors) instead of scanning all rows.
    """
    b = _bucketed_frame(spark, sf_dir)
    return (
        b.select("bucket", "label")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
        .orderBy("bucket")
    )


@register(
    "ann_lsh_query_topk",
    oracle=f"""
WITH b AS (
  SELECT vec_id, label, embedding, {_bucket_sql("embedding")} AS bucket
  FROM embeddings
), q AS (SELECT embedding, bucket FROM b WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       {quant_sql(_cos_sql("e.embedding", "q.embedding"), 6)} AS cos_sim
FROM b e CROSS JOIN q
WHERE e.bucket = q.bucket AND e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 5
""",
)
def ann_lsh_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN query via LSH: scan only the query's bucket, then exact cosine.

    The approximate counterpart of ``cosine_topk_brute`` — candidate set
    is ~1/2^8 of the table (one bucket), which is the entire point at
    100 TB. Recall is tunable via planes/multi-probe; results here are
    deterministic either way.
    """
    b = _bucketed_frame(spark, sf_dir)
    q = F.broadcast(
        b.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
        )
    )
    return (
        b.crossJoin(q)
        .where((F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", quant(_cos("embedding", "qv"), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — coarse-quantizer partitioning
# ---------------------------------------------------------------------------

#: Number of IVF coarse centroids.
N_CENTROIDS = 16


def _centroid(k: int) -> list[float]:
    """Deterministic pseudo-centroid in [-1, 1]^64 from md5 bytes.

    A production IVF trains these with k-means; the *engine* mechanics —
    assignment, inverted lists, probe-limited search — are identical,
    and deterministic centroids make the query DuckDB-oracle-checkable.
    """
    return [
        round(hashlib.md5(f"centroid:{k}:{d}".encode()).digest()[0] / 127.5 - 1.0, 6)
        for d in range(EMB_DIM)
    ]


CENTROIDS: list[list[float]] = [_centroid(k) for k in range(N_CENTROIDS)]

#: 0.5·‖c_k‖² terms of the argmin-L2 ⇒ argmax(v·c_k − ½‖c_k‖²) rewrite,
#: rounded so the literal embeds identically in both engines.
_HALF_NORMS: list[float] = [
    round(0.5 * sum(v * v for v in c), 6) for c in CENTROIDS
]


def scores_fold(arr: str, cents: list[list[float]], render_finish) -> str:
    """One-pass Spark-SQL fold computing ``x·c_k`` for every codeword in
    ``cents`` over the array expression ``arr`` (struct accumulator —
    one walk of the array however many codewords). Shared by the IVF
    coarse quantizer here and the PQ subquantizers (``pq.py``); the
    DuckDB oracles use per-codeword ``list_reduce`` folds, which add in
    the same dimension order and are therefore bit-identical."""
    n_k, dim = len(cents), len(cents[0])
    ks = range(n_k)
    coefs = ", ".join(
        "named_struct("
        + ", ".join(f"'c{k}', {cents[k][d]}D" for k in ks)
        + ")"
        for d in range(dim)
    )
    prods = ", ".join(f"'s{k}', CAST(x AS DOUBLE) * c.c{k}" for k in ks)
    zero = ", ".join(f"'s{k}', 0.0D" for k in ks)
    merge = ", ".join(f"'s{k}', a.s{k} + x.s{k}" for k in ks)
    return (
        f"aggregate(zip_with({arr}, array({coefs}), (x, c) -> named_struct({prods})), "
        f"named_struct({zero}), (a, x) -> named_struct({merge}), "
        f"a -> {render_finish('a')})"
    )


def argmax_code_finish(half_norms: list[float]):
    """Finish lambda for :func:`scores_fold`: ``argmax_k (x·c_k −
    ½‖c_k‖²)`` (= argmin L2), ties to the lowest k via CASE order —
    identical semantics in both engines. Shared by IVF and PQ."""

    def finish(a: str) -> str:
        scores = [
            f"({a}.s{k} - {half_norms[k]}D)" for k in range(len(half_norms))
        ]
        g = "greatest(" + ", ".join(scores) + ")"
        cases = " ".join(
            f"WHEN {scores[k]} = {g} THEN {k}" for k in range(len(half_norms))
        )
        return f"CAST(CASE {cases} END AS INT)"

    return finish


def argmax_code_sql(arr_sql: str, cents_sql: list[str], half_norms: list[float]) -> str:
    """DuckDB twin of ``scores_fold(..., argmax_code_finish(...))``."""
    scores = [
        f"({_dot_sql(arr_sql, cents_sql[k])} - {half_norms[k]})"
        for k in range(len(half_norms))
    ]
    g = "greatest(" + ", ".join(scores) + ")"
    cases = " ".join(
        f"WHEN {scores[k]} = {g} THEN {k}" for k in range(len(half_norms))
    )
    return f"CAST(CASE {cases} END AS INT)"


def _ivf_assign_col(emb: str) -> Column:
    """Nearest-centroid id: argmax_k (v·c_k − ½‖c_k‖²) in one array pass;
    ties resolve to the lowest k (CASE order) in both engines."""
    return F.expr(scores_fold(emb, CENTROIDS, argmax_code_finish(_HALF_NORMS)))


def _centroid_sql(k: int) -> str:
    return "[" + ", ".join(str(v) for v in CENTROIDS[k]) + "]::DOUBLE[]"


def _ivf_assign_sql(emb: str) -> str:
    return argmax_code_sql(
        emb, [_centroid_sql(k) for k in range(N_CENTROIDS)], _HALF_NORMS
    )


@session_memo("emb_assigned", sources=("embeddings",))
def _assigned_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, label, embedding, centroid_id)`` localCheckpointed
    once per (session, sf) — the IVF twin of :func:`_bucketed_frame`:
    inverted lists, the nprobe=1 query, the two-stage rerank and the
    recall audit all start from the same 16-centroid argmax fold. The
    materialized form is what ``ivf_pq_index_probe`` writes physically."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", "embedding",
            _ivf_assign_col("embedding").alias("centroid_id"),
        )
        .localCheckpoint(eager=False)
    )


@register(
    "ivf_inverted_lists",
    oracle=f"""
SELECT {_ivf_assign_sql("embedding")} AS centroid_id,
       COUNT(*) AS n_vecs,
       COUNT(DISTINCT label) AS n_labels
FROM embeddings
GROUP BY centroid_id
ORDER BY centroid_id
""",
)
def ivf_inverted_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index layout: inverted-list sizes per coarse centroid.

    At 100 TB the centroid id is the partition key of the vector table
    (``write.partitionBy("centroid_id")``) — each ANN query reads only
    its probed lists' directories, the IVF analogue of the LSH bucket
    layout demonstrated by ``events_partition_pruned_day``.
    """
    assigned = _assigned_frame(spark, sf_dir)
    return (
        assigned.select("centroid_id", "label")
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
        .orderBy("centroid_id")
    )


@register(
    "ivf_ann_query_topk",
    oracle=f"""
WITH assigned AS (
  SELECT vec_id, label, embedding,
         {_ivf_assign_sql("embedding")} AS centroid_id
  FROM embeddings
), q AS (SELECT embedding, centroid_id FROM assigned WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       {quant_sql(_cos_sql("e.embedding", "q.embedding"), 6)} AS cos_sim
FROM assigned e CROSS JOIN q
WHERE e.centroid_id = q.centroid_id AND e.vec_id <> 0
ORDER BY cos_sim DESC, e.vec_id
LIMIT 5
""",
)
def ivf_ann_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN query (nprobe=1): exact cosine ranking within the query
    vector's own inverted list.

    Complements the LSH family: IVF candidate lists follow the data
    distribution (clustered regions share a list), where LSH buckets
    are data-independent. The probe is an equi-join on centroid_id —
    at scale a partition-pruned directory read, never a full scan.
    """
    assigned = _assigned_frame(spark, sf_dir)
    q = F.broadcast(
        assigned.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"), F.col("centroid_id").alias("qc")
        )
    )
    return (
        assigned.crossJoin(q)
        .where((F.col("centroid_id") == F.col("qc")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", quant(_cos("embedding", "qv"), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


@register(
    "embedding_near_dup_lsh",
    oracle=f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, embedding, {_bucket_sql("embedding")} AS bucket,
         sqrt({_dot_sql("embedding", "embedding")}) AS norm
  FROM embeddings
), cand AS (
  SELECT a.vec_id AS v1, c.vec_id AS v2,
         {_dot_sql("a.embedding", "c.embedding")} / (a.norm * c.norm)
           AS cos_raw
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT v1, v2, {quant_sql("cos_raw", 6)} AS cos_sim
FROM cand WHERE cos_raw >= 0.3
ORDER BY cos_sim DESC, v1, v2
""",
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, UNBOUNDED — the scale path.

    The LSH-bucketed version of ``embedding_near_dup_pairs``: candidate
    pairs come from an equi-join on the 8-plane hyperplane bucket
    (vectors with cos >= 0.3 agree on most plane signs, so true near-dups
    land in one bucket with high probability), then the exact cosine
    filter verifies. The shuffle is keyed on bucket id — at 100 TB each
    of the 256 buckets is an independent partition-local all-pairs,
    never a global cartesian; skewed buckets split under AQE. Same
    candidate-generation → exact-verify shape as MinHash-LSH dedup
    (``dedup.py``).

    ROUND-10 REWRITE (VERDICT r9 task 3: suite-max exponent 1.15, the
    verify stage the growth term): per-candidate work drops from SIX
    64-dim folds (Catalyst does not CSE the cosine across the filter
    and the projection, and each cosine folded both self-dots per
    pair) to ONE — norms ride precomputed on the shared bucketed frame
    and the raw cosine is projected once, filtered, then quantized.
    ``dot / (norm_a * norm_b)`` is the bit-identical expression the old
    per-pair ``_cos`` computed, so the output (and the recall
    ``lsh_recall_audit`` measures) is unchanged in both engines.
    """
    b = _bucketed_frame(spark, sf_dir).select(
        "vec_id", "embedding", "bucket", "norm"
    )
    a = b.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("e1"),
        F.col("norm").alias("n1"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("e2"),
        F.col("norm").alias("n2"),
        "bucket",
    )
    cand = (
        a.join(c, "bucket")
        .where(F.col("v1") < F.col("v2"))
        .select(
            "v1",
            "v2",
            (_dot("e1", "e2") / (F.col("n1") * F.col("n2"))).alias(
                "cos_raw"
            ),
        )
    )
    return (
        cand.where(F.col("cos_raw") >= 0.3)
        .select("v1", "v2", quant(F.col("cos_raw"), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "v1", "v2")
    )


@register(
    "embedding_int8_quant",
    oracle=f"""
WITH q AS (
  SELECT label,
         list_max(list_transform(embedding,
             v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale,
         embedding
  FROM embeddings
),
err AS (
  SELECT label,
         list_max(list_transform(embedding,
             v -> abs(CAST(v AS DOUBLE)
                      - floor(CAST(v AS DOUBLE) / scale + 0.5) * scale)))
           AS max_err
  FROM q WHERE scale > 0
)
SELECT label,
       COUNT(*) AS n_vecs,
       {quant_sql("ROUND(SUM(max_err), 6) / COUNT(*)", 9)} AS avg_max_err,
       MAX(max_err) AS worst_err
FROM err
GROUP BY label
ORDER BY label
""",
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization audit: per-vector scale =
    max|x|/127, reconstruct, report worst-case absolute error per label.

    The compression step before shipping embeddings to an ANN index
    (4x smaller, dot products in int8). Entirely JVM array expressions
    (transform/array_max) — map-only per row, one partial-aggregated
    shuffle on label; no UDF, so it whole-stage-codegens and scales
    linearly. floor(x+0.5) is the cross-engine round (both engines'
    round() disagree on half-boundaries).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vd = lambda v: v.cast("double")  # noqa: E731 — float32 -> exact double
    scale = F.array_max(F.transform("embedding", lambda v: F.abs(vd(v)))) / 127.0
    with_scale = emb.select("label", "embedding", scale.alias("scale")).where(
        F.col("scale") > 0
    )
    err = F.array_max(
        F.transform(
            "embedding",
            lambda v: F.abs(
                vd(v) - F.floor(vd(v) / F.col("scale") + 0.5) * F.col("scale")
            ),
        )
    )
    return (
        with_scale.select("label", err.alias("max_err"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            quant(F.round(F.sum("max_err"), 6) / F.count(F.lit(1)), 9).alias(
                "avg_max_err"
            ),
            F.max("max_err").alias("worst_err"),
        )
        .orderBy("label")
    )


@register(
    "ann_rerank_topk",
    oracle=f"""
WITH assigned AS (
  SELECT vec_id, label, embedding,
         {_ivf_assign_sql("embedding")} AS centroid_id
  FROM embeddings
), q AS (
  SELECT embedding AS qv, centroid_id AS qc FROM assigned WHERE vec_id = 0
), cand AS (
  SELECT e.vec_id, e.label, e.embedding, q.qv,
         list_max(list_transform(e.embedding,
             v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS scale
  FROM assigned e CROSS JOIN q
  WHERE e.centroid_id = q.qc AND e.vec_id <> 0
), approx AS (
  SELECT vec_id, label, embedding, qv,
         list_transform(embedding,
             v -> floor(CAST(v AS DOUBLE) / scale + 0.5) * scale) AS av
  FROM cand WHERE scale > 0
), screened AS (
  SELECT vec_id, label, embedding, qv
  FROM approx
  ORDER BY {quant_sql(_cos_sql("av", "qv"), 6)} DESC, vec_id
  LIMIT 32
)
SELECT vec_id, label,
       {quant_sql(_cos_sql("embedding", "qv"), 6)} AS cos_sim
FROM screened
ORDER BY cos_sim DESC, vec_id
LIMIT 5
""",
)
def ann_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: coarse prune -> cheap screen -> exact rerank.

    The production ANN serving pattern (FAISS/ScaNN style): the IVF
    coarse quantizer prunes to the query's inverted list, an int8
    scalar-quantized cosine (same symmetric max|x|/127 scheme audited
    by ``embedding_int8_quant``) screens the list to the top-32
    candidates, and only those 32 pay the exact full-precision cosine.
    At 100 TB stage 1 is a partition-pruned directory read, stage 2 a
    4x-cheaper scan of compressed codes, and stage 3 touches 32 rows —
    each stage shrinks the candidate set before the next costs more per
    row. The screen score is quantized to 6 dp before the rank-32 cut
    (ties broken by vec_id) so the cut is deterministic cross-engine.
    """
    assigned = _assigned_frame(spark, sf_dir)
    q = F.broadcast(
        assigned.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"), F.col("centroid_id").alias("qc")
        )
    )
    vd = lambda v: v.cast("double")  # noqa: E731
    scale = F.array_max(F.transform("embedding", lambda v: F.abs(vd(v)))) / 127.0
    approx_vec = F.transform(
        "embedding",
        lambda v: F.floor(vd(v) / F.col("scale") + 0.5) * F.col("scale"),
    )
    screened = (
        assigned.crossJoin(q)
        .where((F.col("centroid_id") == F.col("qc")) & (F.col("vec_id") != 0))
        .select("vec_id", "label", "embedding", "qv", scale.alias("scale"))
        .where(F.col("scale") > 0)
        .select(
            "vec_id", "label", "embedding", "qv",
            quant(_cos(approx_vec, "qv"), 6).alias("approx_sim"),
        )
        .orderBy(F.desc("approx_sim"), "vec_id")
        .limit(32)
    )
    return (
        screened.select(
            "vec_id", "label", quant(_cos("embedding", "qv"), 6).alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(5)
    )


@register("label_norm_stats_arrow")  # grouped-map ARROW path: rows-only
def label_norm_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm statistics via ``applyInArrow`` — the
    grouped-map ARROW surface (`pyarrow.Table` in, `pyarrow.Table`
    out), completing the Arrow UDF matrix next to `applyInPandas`
    (`label_centroid_stats`), `mapInPandas`, `mapInArrow` and the
    cogroup (`order_fill_gap_cogroup`). Zero pandas conversion: the
    list column is flattened once in numpy off the Arrow buffers.

    No SQL oracle (numpy reassociates float sums); pinned against the
    JVM ``aggregate`` fold in tests/test_similarity_udf.py at 4
    decimals, the `cosine_topk_pandas` discipline. Scale note: one
    co-partitioning shuffle on label; per-group memory is that label's
    vectors — for giant groups pre-reduce with expressions first.
    """
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings")

    def stats(t: "pa.Table") -> "pa.Table":
        vecs = t.column("embedding")
        flat = np.asarray(vecs.combine_chunks().flatten(), dtype=np.float64)
        m = flat.reshape(len(t), -1)
        norms = np.sqrt((m * m).sum(axis=1))
        label = t.column("label")[0].as_py()
        return pa.table(
            {
                "label": pa.array([int(label)], type=pa.int32()),
                "n_vecs": pa.array([len(t)], type=pa.int64()),
                "mean_norm": pa.array([float(norms.mean())]),
                "min_norm": pa.array([float(norms.min())]),
                "max_norm": pa.array([float(norms.max())]),
            }
        )

    out = emb.groupBy("label").applyInArrow(
        stats,
        schema="label int, n_vecs long, mean_norm double, "
        "min_norm double, max_norm double",
    )
    return out.select(
        "label",
        "n_vecs",
        quant("mean_norm", 6).alias("mean_norm"),
        quant("min_norm", 6).alias("min_norm"),
        quant("max_norm", 6).alias("max_norm"),
    ).orderBy("label")


#: Johnson-Lindenstrauss random projection: output dimensionality and
#: the deterministic ±1 projection matrix (same md5-parity construction
#: as the LSH planes, different salt — embedded as literals in BOTH
#: engines, like PLANES).
RP_OUT = 16
RP_SIGNS: list[list[float]] = [
    [
        1.0
        if hashlib.md5(f"rp:{p}:{d}".encode()).digest()[0] % 2 == 0
        else -1.0
        for d in range(EMB_DIM)
    ]
    for p in range(RP_OUT)
]


def _rp_norm2_col(emb: str) -> Column:
    """||(1/sqrt(k)) S x||^2 for the ±1 matrix S — ONE walk of the
    64-dim array via the struct-accumulator fold (the ``_bucket_col``
    discipline: one array pass for all 16 projections, one F.expr
    string so plan build stays cheap), then the 16 squared sums are
    added in fixed p order. Dimension-order addition per projection
    matches the oracle's ``list_reduce`` exactly."""
    coefs = ", ".join(
        "named_struct("
        + ", ".join(f"'c{p}', {RP_SIGNS[p][d]}D" for p in range(RP_OUT))
        + ")"
        for d in range(EMB_DIM)
    )
    prod_fields = ", ".join(
        f"'s{p}', CAST(x AS DOUBLE) * c.c{p}" for p in range(RP_OUT)
    )
    zero = ", ".join(f"'s{p}', 0.0D" for p in range(RP_OUT))
    merge = ", ".join(f"'s{p}', a.s{p} + x.s{p}" for p in range(RP_OUT))
    norm2 = " + ".join(f"a.s{p} * a.s{p}" for p in range(RP_OUT))
    return F.expr(
        f"aggregate(zip_with({emb}, array({coefs}), "
        f"(x, c) -> named_struct({prod_fields})), "
        f"named_struct({zero}), "
        f"(a, x) -> named_struct({merge}), "
        f"a -> ({norm2}) / {float(RP_OUT)}D)"
    )


def _rp_norm2_sql(emb: str) -> str:
    sums = " + ".join(
        f"POWER({_dot_sql(emb, '[' + ', '.join(str(v) for v in RP_SIGNS[p]) + ']::DOUBLE[]')}, 2)"
        for p in range(RP_OUT)
    )
    return f"(({sums}) / {float(RP_OUT)})"


@register(
    "embedding_rp_distortion",
    oracle=f"""
WITH d AS (
  SELECT {quant_sql(
      f"{_rp_norm2_sql('embedding')} / {_dot_sql('embedding', 'embedding')}",
      2,
  )} AS distortion_bin
  FROM embeddings
)
SELECT distortion_bin, CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM d
GROUP BY distortion_bin
ORDER BY distortion_bin
""",
)
def embedding_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sketch quality: project every embedding
    64 -> 16 dims with a deterministic ±1 matrix scaled by 1/sqrt(k)
    and histogram the norm distortion ||y||^2/||x||^2 (JL says it
    concentrates around 1; the histogram is the acceptance test you
    run BEFORE switching a pipeline stage to the 4x-cheaper sketch).
    Completes the embedding-compression toolkit: int8 quantization
    (`embedding_int8_quant`) shrinks the value domain, PQ
    (`pq_adc_query_topk`) the codebook, RP the DIMENSION.

    Map-only: one walk of each embedding computes all 16 projections
    via the struct-accumulator fold (`_bucket_col` discipline), plus
    one self-dot fold; the histogram is a partial-agg groupBy on the
    2-dp-quantized ratio (a bounded key domain — distortions
    concentrate near 1 by the JL lemma). At 100 TB this is one scan,
    no shuffle beyond the tiny histogram.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        quant(
            _rp_norm2_col("embedding") / _dot("embedding", "embedding"), 2
        ).alias("distortion_bin")
    )
    return (
        d.groupBy("distortion_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .orderBy("distortion_bin")
    )


#: Centroid-cosine grid: embedding components snap to 1e-4 before the
#: per-(label, dim) sums, making every moment an exact BIGINT (|x| < 1
#: so q <= 10^4; summed over a label's vectors and 64 dims the dot
#: products stay far inside BIGINT at any registered SF — and cosine
#: is scale-invariant, so the un-normalized integer SUMS stand in for
#: the centroids exactly).
_CENT_GRID = 10_000


@register(
    "label_centroid_cosine",
    oracle=f"""
WITH comp AS (
  SELECT label, g.dim AS dim,
         CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * {_CENT_GRID} + 0.5)
              AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim) g
), cent AS (
  SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s
  FROM comp GROUP BY label, dim
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(a.s * b.s) AS BIGINT) AS dot
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
), norms AS (
  SELECT label, CAST(SUM(s * s) AS BIGINT) AS nrm FROM cent GROUP BY label
)
SELECT d.label_a, d.label_b,
       {quant_sql(
           "CAST(d.dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE))"
           " / sqrt(CAST(nb.nrm AS DOUBLE))", 6)} AS cos_sim
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
ORDER BY d.label_a, d.label_b
""",
)
def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-confusability map an embedding-space audit
    reads next to ``label_centroid_stats``'s per-label dispersions
    (two labels whose centroids sit at cos > 0.9 will cross-talk in
    any downstream nearest-centroid routing).

    Exact-integer path: components snap to the 1e-4 grid at the scan,
    per-(label, dim) sums are exact BIGINTs, and cosine's scale
    invariance lets the integer SUM vectors stand in for the mean
    centroids — so both engines compute the dot/norm integers
    bit-identically and the only float is the final quantized
    division. Plan: one posexplode scan into a (labels x 64)-row
    aggregate; the pairwise join runs on that bounded frame (45 pairs
    for 10 labels), never on raw vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * _CENT_GRID + 0.5)
        .cast("long")
        .alias("q"),
    )
    cent = comp.groupBy("label", "dim").agg(
        F.sum("q").cast("long").alias("s")
    ).localCheckpoint(eager=False)  # read 3x: two join sides + norms
    a = cent.select(
        F.col("label").alias("label_a"), F.col("dim").alias("dim_a"), F.col("s").alias("sa")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("dim").alias("dim_b"), F.col("s").alias("sb")
    )
    dots = (
        a.join(
            b,
            (F.col("dim_a") == F.col("dim_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).cast("long").alias("dot"))
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("nrm")
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            quant(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na").cast("double"))
                / F.sqrt(F.col("nb").cast("double")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "embedding_half_drift",
    oracle=f"""
WITH comp AS (
  SELECT label, vec_id % 2 AS half, g.dim AS dim,
         CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * {_CENT_GRID} + 0.5)
              AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim) g
), cent AS (
  SELECT label, half, dim, CAST(SUM(q) AS BIGINT) AS s
  FROM comp GROUP BY label, half, dim
), cnt AS (
  SELECT label,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_even,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_odd
  FROM embeddings GROUP BY label
), dots AS (
  SELECT a.label,
         CAST(SUM(a.s * b.s) AS BIGINT) AS dot,
         CAST(SUM(a.s * a.s) AS BIGINT) AS na,
         CAST(SUM(b.s * b.s) AS BIGINT) AS nb
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.dim = b.dim AND a.half = 0 AND b.half = 1
  GROUP BY a.label
)
SELECT d.label, c.n_even, c.n_odd,
       {quant_sql(
           "CAST(d.dot AS DOUBLE) / sqrt(CAST(d.na AS DOUBLE))"
           " / sqrt(CAST(d.nb AS DOUBLE))", 6)} AS cos_halves
FROM dots d JOIN cnt c ON c.label = d.label
WHERE d.na > 0 AND d.nb > 0
ORDER BY d.label
""",
)
def embedding_half_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label DRIFT between the two deterministic halves of the
    vector corpus (``vec_id % 2``): cosine between each half's
    centroid, with half sizes alongside — the train/serve-skew and
    split-integrity audit an embedding pipeline runs before trusting a
    half-based eval (a label whose halves' centroids sit at
    cos << 1 is either drifting across ingest or mis-split; identical
    distributions give cos ≈ 1 at these sample sizes).

    Exact-integer path (the ``label_centroid_cosine`` discipline):
    components snap to the 1e-4 grid at the scan, per-(label, half,
    dim) centroid SUMS are exact BIGINTs (scale invariance lets sums
    stand in for means), and the only float is the final quantized
    cosine. Plan: one posexplode pass into a (labels x 2 x dim)-row
    aggregate; the half-vs-half join runs on that bounded frame, never
    on raw vectors; at 100 TB the centroid aggregate is one
    map-side-combined shuffle, linear in the corpus.

    Labels missing a half (or with an all-zero half centroid) are
    excluded by the inner join + positive-norm guard in BOTH engines.

    No reference analogue; extends the SURVEY §2 similarity/ANN
    family (r13).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "half",
        "dim",
        F.floor(F.col("x").cast("double") * _CENT_GRID + 0.5)
        .cast("long")
        .alias("q"),
    )
    cent = comp.groupBy("label", "half", "dim").agg(
        F.sum("q").cast("long").alias("s")
    )
    a = cent.where(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("sa")
    )
    b = cent.where(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).cast("long").alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).cast("long").alias("na"),
            F.sum(F.col("sb") * F.col("sb")).cast("long").alias("nb"),
        )
    )
    cnt = emb.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long"))
        .cast("long")
        .alias("n_even"),
        F.sum((F.col("vec_id") % 2 == 1).cast("long"))
        .cast("long")
        .alias("n_odd"),
    )
    return (
        dots.join(cnt, "label")
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "label",
            "n_even",
            "n_odd",
            quant(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na").cast("double"))
                / F.sqrt(F.col("nb").cast("double")),
                6,
            ).alias("cos_halves"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Round-9: vector-to-centroid triplet-margin audit
# ---------------------------------------------------------------------------

#: Triplet margin threshold (cosine units) and the margin snap grid.
_TRIPLET_MARGIN = 0.2
_TRIPLET_GRID = 1_000_000_000


@register(
    "embedding_triplet_margin",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, label, g.dim AS dim,
         CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * {_CENT_GRID} + 0.5)
              AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim) g
), cent AS (
  SELECT label, dim, CAST(SUM(q) AS BIGINT) AS s
  FROM comp GROUP BY label, dim
), cnorm AS (
  SELECT label, CAST(SUM(s * s) AS BIGINT) AS cn FROM cent GROUP BY label
), vnorm AS (
  SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS vn FROM comp GROUP BY vec_id
), dots AS (
  SELECT c.vec_id, c.label AS vlabel, k.label AS clabel,
         CAST(SUM(c.q * k.s) AS BIGINT) AS dot
  FROM comp c JOIN cent k ON c.dim = k.dim
  GROUP BY c.vec_id, c.label, k.label
), coss AS (
  SELECT d.vec_id, d.vlabel, d.clabel,
         {quant_sql(
             "CAST(d.dot AS DOUBLE) / sqrt(CAST(v.vn AS DOUBLE))"
             " / sqrt(CAST(n.cn AS DOUBLE))", 9)} AS cq
  FROM dots d JOIN vnorm v ON v.vec_id = d.vec_id
  JOIN cnorm n ON n.label = d.clabel
), margins AS (
  SELECT vec_id, vlabel AS label,
         MAX(CASE WHEN clabel = vlabel THEN cq END)
           - MAX(CASE WHEN clabel <> vlabel THEN cq END) AS margin
  FROM coss GROUP BY vec_id, vlabel
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       {quant_sql(
           f"CAST(SUM(CAST(floor(margin * {_TRIPLET_GRID} + 0.5) AS BIGINT))"
           f" AS DOUBLE) / {_TRIPLET_GRID} / COUNT(*)", 6)} AS mean_margin,
       {quant_sql("MIN(margin)", 6)} AS min_margin,
       CAST(SUM(CASE WHEN margin < {_TRIPLET_MARGIN} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violations,
       {quant_sql(
           f"CAST(SUM(CASE WHEN margin < {_TRIPLET_MARGIN} THEN 1 ELSE 0 END)"
           " AS DOUBLE) / COUNT(*)", 6)} AS violation_rate
FROM margins
GROUP BY label
ORDER BY label
""",
)
def embedding_triplet_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-to-centroid triplet-margin audit: for every vector,
    margin = cos(v, own-label centroid) - max cos(v, other centroid),
    rolled up per label as mean/min margin and the share of vectors
    violating a 0.2 margin. This is the number a contrastive fine-tune
    or nearest-centroid router reads BEFORE training: a label whose
    vectors sit closer to a foreign centroid than their own (negative
    margin) will not survive margin-loss training, and
    ``label_centroid_cosine``'s centroid-pair confusability can't see
    it (centroids may be separated while member vectors still leak).

    Exact-integer path (the ``label_centroid_cosine`` discipline):
    components snap to the 1e-4 grid at the scan; per-(label, dim)
    centroid SUMS, per-vector norms and every vector-centroid dot are
    exact BIGINTs (cosine's scale invariance lets the sums stand in
    for means); each cosine is ONE quantized expression of integers;
    margins difference two quantized doubles, then snap to the 1e-9
    grid before the per-label mean (order-free BIGINT sum); MIN/MAX
    are order-free by nature.

    Plan: one posexplode pass keyed (vec, dim) / (label, dim); the
    vector-x-centroid dot aggregation keys (vec, label) with L = 10
    labels — |V| x L x d rows through ONE partial-agg shuffle, linear
    in the corpus, never vector-pairwise.

    No reference analogue; extends the SURVEY §2 similarity/ANN family.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("dim0", "x"),
        )
        .select(
            "vec_id",
            "label",
            (F.col("dim0") + 1).alias("dim"),
            F.floor(F.col("x").cast("double") * _CENT_GRID + 0.5)
            .cast("long")
            .alias("q"),
        )
        .localCheckpoint(eager=False)  # feeds cent, vnorm and dots
    )
    cent = comp.groupBy("label", "dim").agg(
        F.sum("q").cast("long").alias("s")
    ).localCheckpoint(eager=False)
    cnorm = cent.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("long").alias("cn")
    )
    vnorm = comp.groupBy("vec_id").agg(
        F.sum(F.col("q") * F.col("q")).cast("long").alias("vn")
    )
    dots = (
        comp.join(
            F.broadcast(
                cent.select(
                    F.col("label").alias("clabel"), "dim", "s"
                )
            ),
            "dim",
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.col("q") * F.col("s")).cast("long").alias("dot"))
    )
    coss = (
        dots.join(vnorm, "vec_id")
        .join(
            F.broadcast(cnorm.select(F.col("label").alias("clabel"), "cn")),
            "clabel",
        )
        .select(
            "vec_id",
            "label",
            "clabel",
            quant(
                F.col("dot").cast("double")
                / F.sqrt(F.col("vn").cast("double"))
                / F.sqrt(F.col("cn").cast("double")),
                9,
            ).alias("cq"),
        )
    )
    margins = coss.groupBy("vec_id", "label").agg(
        (
            F.max(F.when(F.col("clabel") == F.col("label"), F.col("cq")))
            - F.max(F.when(F.col("clabel") != F.col("label"), F.col("cq")))
        ).alias("margin")
    )
    return (
        margins.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            quant(
                F.sum(
                    F.floor(F.col("margin") * _TRIPLET_GRID + 0.5).cast(
                        "long"
                    )
                ).cast("double")
                / _TRIPLET_GRID
                / F.count(F.lit(1)),
                6,
            ).alias("mean_margin"),
            quant(F.min("margin"), 6).alias("min_margin"),
            F.sum((F.col("margin") < _TRIPLET_MARGIN).cast("long"))
            .cast("long")
            .alias("n_violations"),
            quant(
                F.sum((F.col("margin") < _TRIPLET_MARGIN).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("violation_rate"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Round-9: index load-balance audit (LSH buckets + IVF lists)
# ---------------------------------------------------------------------------

_BALANCE_SIZES_SQL = """
SELECT method, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(sz) AS BIGINT) AS n_vecs,
       CAST(MAX(sz) AS BIGINT) AS max_size,
       CAST(SUM(sz * sz) AS BIGINT) AS sumsq
FROM sizes GROUP BY method
"""


@register(
    "ann_index_balance_audit",
    oracle=f"""
WITH sizes AS (
  SELECT 'lsh' AS method, {_bucket_sql("embedding")} AS part,
         CAST(COUNT(*) AS BIGINT) AS sz
  FROM embeddings GROUP BY part
  UNION ALL
  SELECT 'ivf', {_ivf_assign_sql("embedding")} AS part,
         CAST(COUNT(*) AS BIGINT) AS sz
  FROM embeddings GROUP BY part
), agg AS ({_BALANCE_SIZES_SQL})
SELECT method, n_parts, n_vecs, max_size,
       {quant_sql("CAST(n_vecs AS DOUBLE) / n_parts", 6)} AS mean_size,
       {quant_sql(
           "CAST(max_size AS DOUBLE) * n_parts / n_vecs", 6)} AS imbalance,
       {quant_sql(
           "sqrt((CAST(sumsq AS DOUBLE) - CAST(n_vecs AS DOUBLE) * n_vecs"
           " / n_parts) / (n_parts - 1))"
           " / (CAST(n_vecs AS DOUBLE) / n_parts)", 6)} AS cv
FROM agg
ORDER BY method
""",
)
def ann_index_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-balance audit of BOTH ANN index layouts — the LSH bucket
    table and the IVF inverted lists — as partition-size statistics:
    max/mean imbalance (the straggler factor: a probe that lands in
    the biggest bucket does `imbalance` times the mean work) and the
    coefficient of variation. THE operational metric for an ANN index
    at scale: recall audits (``lsh_recall_audit`` / ``ann_ndcg_audit``)
    say whether the index is accurate, this says whether it is
    SERVABLE — a skewed layout hot-spots one executor however good the
    recall is, the same pathology ``events_hot_key_profile`` tracks on
    the fact table, measured here on the index the similarity family
    actually builds (same ``_bucketed_frame`` / ``_assigned_frame``
    geometry by construction).

    Determinism: partition sizes and their first two power sums are
    exact BIGINTs; all three ratios are one quantized expression each.

    Plan: two map-side-combined rollups over the memoized index
    frames (the per-partition size table IS the index metadata at
    100 TB), then a 2-row fold. No window, no join.

    No reference analogue; extends the SURVEY §2 similarity/ANN family.
    """
    lsh = (
        _bucketed_frame(spark, sf_dir)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .select(F.lit("lsh").alias("method"), F.col("sz"))
    )
    ivf = (
        _assigned_frame(spark, sf_dir)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .select(F.lit("ivf").alias("method"), F.col("sz"))
    )
    agg = (
        lsh.unionByName(ivf)
        .groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("sz").cast("long").alias("n_vecs"),
            F.max("sz").cast("long").alias("max_size"),
            F.sum(F.col("sz") * F.col("sz")).cast("long").alias("sumsq"),
        )
    )
    n_parts, n_vecs = F.col("n_parts"), F.col("n_vecs")
    mean = n_vecs.cast("double") / n_parts
    return agg.select(
        "method",
        "n_parts",
        "n_vecs",
        "max_size",
        quant(mean, 6).alias("mean_size"),
        quant(F.col("max_size").cast("double") * n_parts / n_vecs, 6).alias(
            "imbalance"
        ),
        quant(
            F.sqrt(
                (
                    F.col("sumsq").cast("double")
                    - n_vecs.cast("double") * n_vecs / n_parts
                )
                / (n_parts - 1)
            )
            / mean,
            6,
        ).alias("cv"),
    ).orderBy("method")


# ---------------------------------------------------------------------------
# Round-10 backlog: multi-vector (late-interaction / MaxSim) retrieval
# ---------------------------------------------------------------------------

#: MaxSim geometry: the 64-dim embedding splits into 4 contiguous
#: 16-dim subvectors (the multi-vector stand-in this corpus affords —
#: a real late-interaction encoder emits per-token vectors; the
#: SCORING algebra is identical). Per-(query-sub) maxima snap to this
#: grid so the 4-term score fold is an order-free BIGINT sum.
_MAXSIM_SUBS = 4
_MAXSIM_SUBDIM = 16
_MAXSIM_QUERY = 0
_MAXSIM_TOPK = 10
_MAXSIM_GRID = 1_000_000_000


@register(
    "embedding_maxsim_topk",
    oracle=f"""
WITH comp AS (
  SELECT vec_id, label, (g.i - 1) // {_MAXSIM_SUBDIM} AS sub,
         (g.i - 1) % {_MAXSIM_SUBDIM} AS k,
         CAST(floor(CAST(embedding[g.i] AS DOUBLE) * {_CENT_GRID} + 0.5)
              AS BIGINT) AS q
  FROM embeddings,
       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) g
), norms AS (
  SELECT vec_id, sub, CAST(SUM(q * q) AS BIGINT) AS nrm
  FROM comp GROUP BY vec_id, sub
), qside AS (
  SELECT sub AS qs, k, q AS qq FROM comp WHERE vec_id = {_MAXSIM_QUERY}
), qnorm AS (
  SELECT sub AS qs, nrm AS qn FROM norms WHERE vec_id = {_MAXSIM_QUERY}
), dots AS (
  SELECT c.vec_id, ANY_VALUE(c.label) AS label, c.sub AS ds, qd.qs,
         CAST(SUM(c.q * qd.qq) AS BIGINT) AS dot
  FROM comp c JOIN qside qd ON qd.k = c.k
  WHERE c.vec_id <> {_MAXSIM_QUERY}
  GROUP BY c.vec_id, c.sub, qd.qs
), coss AS (
  SELECT d.vec_id, d.label, d.qs,
         {quant_sql(
             "CAST(d.dot AS DOUBLE) / sqrt(CAST(n.nrm AS DOUBLE))"
             " / sqrt(CAST(qn.qn AS DOUBLE))", 9)} AS cq
  FROM dots d
  JOIN norms n ON n.vec_id = d.vec_id AND n.sub = d.ds
  JOIN qnorm qn ON qn.qs = d.qs
), mx AS (
  SELECT vec_id, ANY_VALUE(label) AS label, qs,
         CAST(floor(MAX(cq) * {_MAXSIM_GRID} + 0.5) AS BIGINT) AS mx_grid
  FROM coss GROUP BY vec_id, qs
), scored AS (
  SELECT vec_id, ANY_VALUE(label) AS label,
         CAST(SUM(mx_grid) AS BIGINT) AS s_grid
  FROM mx GROUP BY vec_id
)
SELECT vec_id, label,
       {quant_sql(f"CAST(s_grid AS DOUBLE) / {_MAXSIM_GRID}", 6)}
         AS maxsim_score
FROM scored
ORDER BY s_grid DESC, vec_id
LIMIT {_MAXSIM_TOPK}
""",
)
def embedding_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (MaxSim) retrieval: each vector splits into 4
    contiguous 16-dim subvectors; a document scores the SUM over the
    query's subvectors of its best-matching subvector cosine —
    the ColBERT scoring algebra, where single-vector cosine
    (``cosine_topk_brute``) forces one global embedding to carry every
    aspect, MaxSim lets different parts of the query match different
    parts of the document. Top-10 for query vec {_MAXSIM_QUERY}. (A
    real late-interaction encoder emits per-token vectors; this corpus
    affords subvector splits — the PLUMBING and scoring are identical,
    which is what the operator demonstrates.)

    Exact-integer path: components snap to the 1e-4 grid; per-(vec,
    sub) norms and all subvector dots are exact BIGINTs; each cosine
    is one quantized expression; per-query-sub maxima are order-free
    MAX of quantized values, snapped to the 1e-9 grid so the 4-term
    score fold is an order-free BIGINT sum; ties break on vec_id.

    Plan: one posexplode pass; the dot aggregation keys (vec, doc-sub,
    query-sub) with a 4x16-row broadcast query side — |V| x 16 rows
    through one partial-agg shuffle, linear in the corpus. At 100 TB
    the doc-side subvectors are the stored index; MaxSim probes stay
    one broadcast join per query.

    No reference analogue; extends the SURVEY §2 similarity/ANN family.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("dim0", "x"),
        )
        .select(
            "vec_id",
            "label",
            F.expr(f"dim0 DIV {_MAXSIM_SUBDIM}").alias("sub"),
            (F.col("dim0") % _MAXSIM_SUBDIM).alias("k"),
            F.floor(F.col("x").cast("double") * _CENT_GRID + 0.5)
            .cast("long")
            .alias("q"),
        )
        .localCheckpoint(eager=False)  # feeds norms, query side, dots
    )
    norms = comp.groupBy("vec_id", "sub").agg(
        F.sum(F.col("q") * F.col("q")).cast("long").alias("nrm")
    ).localCheckpoint(eager=False)  # doc side + query side
    qside = F.broadcast(
        comp.where(F.col("vec_id") == _MAXSIM_QUERY).select(
            F.col("sub").alias("qs"), "k", F.col("q").alias("qq")
        )
    )
    qnorm = F.broadcast(
        norms.where(F.col("vec_id") == _MAXSIM_QUERY).select(
            F.col("sub").alias("qs"), F.col("nrm").alias("qn")
        )
    )
    dots = (
        comp.where(F.col("vec_id") != _MAXSIM_QUERY)
        .join(qside, "k")
        .groupBy("vec_id", F.col("sub").alias("ds"), "qs")
        .agg(
            F.first("label").alias("label"),
            F.sum(F.col("q") * F.col("qq")).cast("long").alias("dot"),
        )
    )
    coss = (
        dots.join(
            norms.withColumnRenamed("sub", "ds"), ["vec_id", "ds"]
        )
        .join(qnorm, "qs")
        .select(
            "vec_id",
            "label",
            "qs",
            quant(
                F.col("dot").cast("double")
                / F.sqrt(F.col("nrm").cast("double"))
                / F.sqrt(F.col("qn").cast("double")),
                9,
            ).alias("cq"),
        )
    )
    mx = coss.groupBy("vec_id", "qs").agg(
        F.first("label").alias("label"),
        F.floor(F.max("cq") * _MAXSIM_GRID + 0.5).cast("long").alias(
            "mx_grid"
        ),
    )
    scored = mx.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.sum("mx_grid").cast("long").alias("s_grid"),
    )
    return (
        scored.orderBy(F.desc("s_grid"), "vec_id")
        .limit(_MAXSIM_TOPK)
        .select(
            "vec_id",
            "label",
            quant(F.col("s_grid").cast("double") / _MAXSIM_GRID, 6).alias(
                "maxsim_score"
            ),
        )
        .orderBy(F.desc("maxsim_score"), "vec_id")
    )


# ---------------------------------------------------------------------------
# Round-10: binary sign quantization + Hamming retrieval
# ---------------------------------------------------------------------------

#: Bits per packed word (two BIGINT words cover EMB_DIM=64 dims; bit 63
#: of a signed BIGINT is never used, so no overflow/sign traps).
_SIGNQ_WORD = 32
_SIGNQ_TOPK = 10


def _sign_word_col(emb: str, lo: int) -> Column:
    """BIGINT packing dims [lo, lo+32): bit (d-lo) set iff emb[d] > 0."""
    terms = " + ".join(
        f"(CASE WHEN CAST(element_at({emb}, {d + 1}) AS DOUBLE) > 0"
        f" THEN {1 << (d - lo)} ELSE 0 END)"
        for d in range(lo, lo + _SIGNQ_WORD)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def _sign_word_sql(emb: str, lo: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN CAST({emb}[{d + 1}] AS DOUBLE) > 0"
        f" THEN {1 << (d - lo)} ELSE 0 END)"
        for d in range(lo, lo + _SIGNQ_WORD)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "embedding_signq_hamming_topk",
    oracle=f"""
WITH packed AS MATERIALIZED (
  SELECT vec_id, label, embedding,
         {_sign_word_sql("embedding", 0)} AS w0,
         {_sign_word_sql("embedding", 32)} AS w1
  FROM embeddings
), q AS (SELECT w0, w1, embedding FROM packed WHERE vec_id = 0)
SELECT p.vec_id, p.label,
       CAST(bit_count(xor(p.w0, q.w0)) + bit_count(xor(p.w1, q.w1))
            AS BIGINT) AS hamming,
       {quant_sql(_cos_sql("p.embedding", "q.embedding"), 6)} AS cos_sim
FROM packed p CROSS JOIN q
WHERE p.vec_id <> 0
ORDER BY hamming, p.vec_id
LIMIT {_SIGNQ_TOPK}
""",
)
def embedding_signq_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign quantization retrieval: each 64-dim float vector
    packs into TWO BIGINT sign words (bit = dimension sign), and
    nearest neighbors of vec 0 rank by HAMMING distance — two XORs +
    popcounts per candidate instead of a 64-term float fold. This is
    the 32x-compression / SIMD-scan end of the quantization spectrum
    (``embedding_int8_quant`` is the 4x point; sign bits are what
    binary-hashing ANN systems scan first), with the true cosine
    carried alongside so the ranking's fidelity is visible per row.

    Determinism: sign bits and Hamming distances are exact integers
    (ties break on vec_id); the only float is the audited cosine,
    quantized.

    Scale: packing is a map-only projection you would materialize once
    (8 bytes x 2 per vector); the scan is one pass + a k-row
    TakeOrderedAndProject — and unlike the float brute force, the
    per-row cost is two bitops, the layout a column of BIGINTs.

    No reference analogue; extends the SURVEY §2 similarity family.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    packed = emb.select(
        "vec_id",
        "label",
        "embedding",
        _sign_word_col("embedding", 0).alias("w0"),
        _sign_word_col("embedding", 32).alias("w1"),
    )
    q = F.broadcast(
        packed.where(F.col("vec_id") == 0).select(
            F.col("w0").alias("q0"),
            F.col("w1").alias("q1"),
            F.col("embedding").alias("qv"),
        )
    )
    ham = (
        F.bit_count(F.col("w0").bitwiseXOR(F.col("q0")))
        + F.bit_count(F.col("w1").bitwiseXOR(F.col("q1")))
    ).cast("long")
    return (
        packed.where(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            ham.alias("hamming"),
            quant(_cos("embedding", "qv"), 6).alias("cos_sim"),
        )
        .orderBy("hamming", "vec_id")
        .limit(_SIGNQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Round-10: kNN-graph construction within LSH buckets
# ---------------------------------------------------------------------------

#: Neighbors per node in the bucket-local kNN graph and the cosine
#: snap grid the ranking uses.
_KNN_K = 5
_KNN_GRID = 1_000_000_000


@register(
    "ann_lsh_knn_graph_stats",
    oracle=f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, embedding, {_bucket_sql("embedding")} AS bucket,
         sqrt({_dot_sql("embedding", "embedding")}) AS norm
  FROM embeddings
), pair AS (
  SELECT x.vec_id AS src, y.vec_id AS dst,
         CAST(floor({_dot_sql("x.embedding", "y.embedding")}
                    / (x.norm * y.norm)
                    * {_KNN_GRID} + 0.5) AS BIGINT) AS grid
  FROM b x JOIN b y
    ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
), edges AS MATERIALIZED (
  SELECT src, dst, grid FROM (
    SELECT src, dst, grid,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY grid DESC, dst) AS rn
    FROM pair) WHERE rn <= {_KNN_K}
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(grid) AS BIGINT) AS sum_grid
  FROM edges
), mut AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual
  FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
), iso AS (
  SELECT CAST((SELECT COUNT(*) FROM b)
              - (SELECT COUNT(DISTINCT src) FROM edges) AS BIGINT)
           AS n_isolated
)
SELECT d.degree, d.n_nodes, s.n_edges, m.n_mutual,
       {quant_sql("CAST(m.n_mutual AS DOUBLE) / s.n_edges", 6)}
         AS reciprocity,
       {quant_sql(f"CAST(s.sum_grid AS DOUBLE) / s.n_edges / {_KNN_GRID}",
                  6)} AS mean_knn_cos,
       i.n_isolated
FROM (
  SELECT CAST(deg AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
  GROUP BY deg
) d CROSS JOIN stats s CROSS JOIN mut m CROSS JOIN iso i
ORDER BY d.degree
""",
)
def ann_lsh_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction inside LSH buckets + structural audit:
    each vector links to its top-{_KNN_K} cosine neighbors WITHIN its
    hyperplane bucket, and the output profiles the resulting graph —
    out-degree histogram (under-full degrees expose bucket
    fragmentation), reciprocity (mutual-edge share, the symmetry a
    graph-ANN index like HNSW's base layer wants), mean neighbor
    cosine, and isolated-vector count. This is the build step of
    graph-based ANN expressed as a bounded join: candidates come from
    the SAME memoized bucketed table the probe queries use, so index
    construction and search share one layout.

    Determinism: rankings and edges live on the 1e-9 cosine grid with
    vec_id tie-breaks; all stats are integer counts until two final
    quantized divisions.

    Scale: the candidate join is bucket-keyed (the ``embedding_near_dup_lsh``
    fanout argument); the top-k window is partitioned per source
    vector; the reciprocity join is edge-keyed on a frame bounded by
    {_KNN_K}|V| rows.

    No reference analogue; extends the SURVEY §2 similarity family.
    """
    from pyspark.sql import Window

    b = _bucketed_frame(spark, sf_dir).select(
        "vec_id", "embedding", "bucket", "norm"
    )
    y = b.select(
        F.col("bucket").alias("bucket2"),
        F.col("vec_id").alias("dst"),
        F.col("embedding").alias("emb2"),
        F.col("norm").alias("norm2"),
    )
    pair = b.join(
        y,
        (F.col("bucket") == F.col("bucket2"))
        & (F.col("vec_id") != F.col("dst")),
    ).select(
        F.col("vec_id").alias("src"),
        "dst",
        F.floor(
            _dot("embedding", "emb2")
            / (F.col("norm") * F.col("norm2"))
            * _KNN_GRID
            + 0.5
        )
        .cast("long")
        .alias("grid"),
    )
    wk = Window.partitionBy("src").orderBy(F.desc("grid"), "dst")
    edges = (
        pair.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= _KNN_K)
        .select("src", "dst", "grid")
        .localCheckpoint(eager=False)  # degree/mutual/stat consumers
    )
    stats = F.broadcast(
        edges.agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("grid").cast("long").alias("sum_grid"),
        )
    )
    rev = edges.select(
        F.col("src").alias("rsrc"), F.col("dst").alias("rdst")
    )
    mut = F.broadcast(
        edges.join(
            rev,
            (F.col("rsrc") == F.col("dst")) & (F.col("rdst") == F.col("src")),
        ).agg(F.count(F.lit(1)).cast("long").alias("n_mutual"))
    )
    n_vec = b.agg(F.count(F.lit(1)).cast("long").alias("n_vec"))
    n_src = edges.agg(
        F.countDistinct("src").cast("long").alias("n_src")
    )
    iso = F.broadcast(
        n_vec.crossJoin(n_src).select(
            (F.col("n_vec") - F.col("n_src")).alias("n_isolated")
        )
    )
    hist = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .groupBy(F.col("deg").cast("long").alias("degree"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )
    return (
        hist.crossJoin(stats)
        .crossJoin(mut)
        .crossJoin(iso)
        .select(
            "degree",
            "n_nodes",
            "n_edges",
            "n_mutual",
            quant(
                F.col("n_mutual").cast("double") / F.col("n_edges"), 6
            ).alias("reciprocity"),
            quant(
                F.col("sum_grid").cast("double")
                / F.col("n_edges")
                / _KNN_GRID,
                6,
            ).alias("mean_knn_cos"),
            "n_isolated",
        )
        .orderBy("degree")
    )


def _cent_case_sql(cid: str) -> str:
    """DuckDB literal: the assigned centroid's array, selected by a
    16-branch CASE (the injected-literal discipline — both engines see
    the identical rounded values CENTROIDS carries)."""
    branches = " ".join(
        f"WHEN {k} THEN {_centroid_sql(k)}" for k in range(N_CENTROIDS)
    )
    return f"(CASE {cid} {branches} END)"


@register(
    "embedding_residual_quant_audit",
    oracle=f"""
WITH assigned AS (
  SELECT label, embedding,
         {_ivf_assign_sql("embedding")} AS cid
  FROM embeddings
),
resid AS (
  SELECT label, embedding,
         list_transform(list_zip(embedding, {_cent_case_sql("cid")}),
                        p -> p[1]::DOUBLE - p[2]::DOUBLE) AS r
  FROM assigned
),
scales AS (
  SELECT label, embedding, r,
         list_max(list_transform(r, v -> abs(v))) / 127.0 AS sr,
         list_max(list_transform(embedding,
             v -> abs(CAST(v AS DOUBLE)))) / 127.0 AS sp
  FROM resid
),
errs AS (
  SELECT label,
         list_max(list_transform(r,
             v -> abs(v - floor(v / sr + 0.5) * sr))) AS err_r,
         list_max(list_transform(embedding,
             v -> abs(CAST(v AS DOUBLE)
                      - floor(CAST(v AS DOUBLE) / sp + 0.5) * sp))) AS err_p
  FROM scales WHERE sr > 0 AND sp > 0
)
SELECT label,
       COUNT(*) AS n_vecs,
       {quant_sql("ROUND(SUM(err_r), 6) / COUNT(*)", 9)} AS avg_err_residual,
       {quant_sql("ROUND(SUM(err_p), 6) / COUNT(*)", 9)} AS avg_err_plain,
       MAX(err_r) AS worst_err_residual
FROM errs
GROUP BY label
ORDER BY label
""",
)
def embedding_residual_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual (two-stage) vector quantization audit: quantize the
    RESIDUAL x − c(x) against the assigned IVF centroid to int8 and
    compare its worst-case reconstruction error, per label, to plain
    int8 on the raw vector — the coarse-quantizer + residual-code
    scheme (the RQ/IVF-ADC storage layout) that completes the vector
    compression family: int8 = values (`embedding_int8_quant`), PQ =
    codebooks, RP = dimensions, sign-bit = directions, residual =
    center-then-quantize (r12).

    The audit IS the deployment gate: residual coding only buys a
    finer grid when the coarse quantizer is TRAINED (residual magnitude
    < vector magnitude). These centroids are deterministic
    pseudo-centroids (oracle-checkable, see `_centroid`), so residuals
    are LARGER than the raw vectors and the audit correctly reports
    plain int8 winning (avg_err_residual > avg_err_plain,
    pytest-pinned) — the honest negative that stops a bad RQ rollout,
    exactly the `orders_totalprice_reconciliation` discipline. The
    mechanics (assign → subtract → quantize → reconstruct) are the
    production RQ path unchanged. Exactness: per-row
    arithmetic is IEEE-identical in both engines (zip subtract, abs,
    floor(x+0.5) rounding); per-label means use the shared
    ROUND-then-divide quantization. Plan: the memoized assignment
    frame (one argmax fold per session), then map-only array math and
    ONE label-keyed partial agg — `embedding_int8_quant`'s cost class.

    No reference analogue; extends SURVEY §2's similarity family.
    """
    assigned = _assigned_frame(spark, sf_dir)
    vd = lambda v: v.cast("double")  # noqa: E731
    cent_arr = F.array(
        *[F.array(*[F.lit(float(v)) for v in c]) for c in CENTROIDS]
    )
    cent = F.element_at(cent_arr, F.col("centroid_id") + 1)
    resid = assigned.select(
        "label",
        "embedding",
        F.zip_with("embedding", cent, lambda x, c: vd(x) - c).alias("r"),
    )
    scales = resid.select(
        "label",
        "embedding",
        "r",
        (F.array_max(F.transform("r", F.abs)) / 127.0).alias("sr"),
        (
            F.array_max(F.transform("embedding", lambda v: F.abs(vd(v))))
            / 127.0
        ).alias("sp"),
    ).where((F.col("sr") > 0) & (F.col("sp") > 0))
    err_r = F.array_max(
        F.transform(
            "r",
            lambda v: F.abs(v - F.floor(v / F.col("sr") + 0.5) * F.col("sr")),
        )
    )
    err_p = F.array_max(
        F.transform(
            "embedding",
            lambda v: F.abs(
                vd(v) - F.floor(vd(v) / F.col("sp") + 0.5) * F.col("sp")
            ),
        )
    )
    return (
        scales.select("label", err_r.alias("err_r"), err_p.alias("err_p"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            quant(F.round(F.sum("err_r"), 6) / F.count(F.lit(1)), 9).alias(
                "avg_err_residual"
            ),
            quant(F.round(F.sum("err_p"), 6) / F.count(F.lit(1)), 9).alias(
                "avg_err_plain"
            ),
            F.max("err_r").alias("worst_err_residual"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Round-13: kNN label-noise audit (mislabel detection)
# ---------------------------------------------------------------------------

#: Fixed audit-query set (vec_id < _NOISE_NQ), neighbor count, and the
#: match count at or below which a query is a mislabel suspect. The
#: query set is ID-BOUNDED (constant size at any corpus scale) — the
#: ann_recall_audit discipline: the scan side grows, the probe side
#: doesn't, so the brute arm stays corpus-linear.
_NOISE_NQ = 40
_NOISE_K = 10
_NOISE_SUSPECT_MAX = 3


@register(
    "embedding_knn_label_noise",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, label AS qlabel, embedding AS qv
  FROM embeddings WHERE vec_id < {_NOISE_NQ}
), p AS (
  SELECT q.qid, q.qlabel, e.label, e.vec_id,
         {quant_sql(_cos_sql("e.embedding", "q.qv"), 6)} AS cs
  FROM embeddings e JOIN q ON e.vec_id <> q.qid
), r AS (
  SELECT qid, qlabel, label,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) AS rn
  FROM p
), per_q AS (
  SELECT qid, qlabel,
         SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS matches
  FROM r WHERE rn <= {_NOISE_K} GROUP BY qid, qlabel
)
SELECT qlabel AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(matches) AS BIGINT) AS n_label_hits,
       {quant_sql(f"CAST(SUM(matches) AS DOUBLE) / ({_NOISE_K} * COUNT(*))",
                  6)} AS mean_agreement,
       CAST(SUM(CASE WHEN matches <= {_NOISE_SUSPECT_MAX} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_suspect
FROM per_q
GROUP BY qlabel
ORDER BY label
""",
)
def embedding_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement audit — the standard mislabel detector
    (Confident Learning's nearest-neighbor baseline): for each of the
    {_NOISE_NQ} audit vectors, find its {_NOISE_K} exact cosine
    nearest neighbors and count how many share its label; per label,
    report query count, total label hits, mean agreement, and how many
    queries look mislabeled (<= {_NOISE_SUSPECT_MAX} agreeing
    neighbors).

    Plan: the ID-bounded query set broadcasts against one corpus scan
    (fanout = |corpus| x constant), the per-query top-k is a window
    PARTITIONED by query id (never partition-less), and the label
    rollup is two map-side-combined aggregates. Agreement is an
    integer-count ratio (one final division) — exact cross-engine. At
    100 TB you swap the brute neighbor arm for the written IVF index
    probe (``ivf_pq_query_topk``'s layout) and keep every stage above
    the candidate join unchanged.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    qs = F.broadcast(
        emb.where(F.col("vec_id") < _NOISE_NQ).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlabel"),
            F.col("embedding").alias("qv"),
        )
    )
    pairs = (
        emb.crossJoin(qs)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "label",
            "vec_id",
            quant(_cos("embedding", "qv"), 6).alias("cs"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cs"), "vec_id")
    per_q = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _NOISE_K)
        .groupBy("qid", "qlabel")
        .agg(
            F.sum((F.col("label") == F.col("qlabel")).cast("long")).alias(
                "matches"
            )
        )
    )
    return (
        per_q.groupBy(F.col("qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("matches").cast("bigint").alias("n_label_hits"),
            quant(
                F.sum("matches").cast("double")
                / (_NOISE_K * F.count(F.lit(1))),
                6,
            ).alias("mean_agreement"),
            F.sum(
                (F.col("matches") <= _NOISE_SUSPECT_MAX).cast("long")
            )
            .cast("bigint")
            .alias("n_suspect"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Round-13: IVF index-staleness audit (one-Lloyd-step reassignment churn)
# ---------------------------------------------------------------------------

#: Old coarse centroids snapped to the SAME 1e-4 component grid the
#: corpus scan uses, so the old-vs-new centroid shift is an exact
#: integer sum of squares in both engines.
_OLD_CENT_GRID: list[list[int]] = [
    [int(round(v * _CENT_GRID)) for v in CENTROIDS[k]]
    for k in range(N_CENTROIDS)
]


def _churn_oldc_sql() -> str:
    rows = ",\n    ".join(
        "({}, [{}]::BIGINT[])".format(k, ", ".join(str(v) for v in _OLD_CENT_GRID[k]))
        for k in range(N_CENTROIDS)
    )
    return (
        "SELECT k.cid, g.dim, k.co[g.dim] AS co\n"
        f"  FROM (VALUES {rows}) k(cid, co),\n"
        "  LATERAL (SELECT unnest(range(1, len(k.co) + 1)) AS dim) g"
    )


@register(
    "ivf_reassignment_churn",
    oracle=f"""
WITH a AS (
  SELECT vec_id, embedding, {_ivf_assign_sql("embedding")} AS cid
  FROM embeddings
), comp AS (
  SELECT vec_id, cid, g.dim AS dim,
         CAST(floor(CAST(embedding[g.dim] AS DOUBLE) * {_CENT_GRID} + 0.5)
              AS BIGINT) AS q
  FROM a, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS dim) g
), cellsums AS (
  SELECT cid, dim, CAST(SUM(q) AS BIGINT) AS s FROM comp GROUP BY cid, dim
), ncell AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY cid
), newcent AS (
  SELECT c.cid, c.dim,
         CAST(floor(CAST(c.s AS DOUBLE) / t.n + 0.5) AS BIGINT) AS cp
  FROM cellsums c JOIN ncell t ON t.cid = c.cid
), enorm AS (
  SELECT cid, CAST(SUM(cp * cp) AS BIGINT) AS e FROM newcent GROUP BY cid
), dots AS (
  SELECT comp.vec_id, n.cid AS ncid, CAST(SUM(comp.q * n.cp) AS BIGINT) AS d
  FROM comp JOIN newcent n ON n.dim = comp.dim
  GROUP BY comp.vec_id, n.cid
), sc AS (
  SELECT d.vec_id, d.ncid, 2 * d.d - e.e AS m
  FROM dots d JOIN enorm e ON e.cid = d.ncid
), best AS (
  SELECT vec_id, ncid AS new_cid FROM (
    SELECT vec_id, ncid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY m DESC, ncid) AS rn
    FROM sc
  ) z WHERE rn = 1
), mv AS (
  SELECT a.cid, b.new_cid FROM a JOIN best b ON b.vec_id = a.vec_id
), lv AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(CASE WHEN cid <> new_cid THEN 1 ELSE 0 END) AS BIGINT)
           AS n_leave
  FROM mv GROUP BY cid
), ar AS (
  SELECT new_cid AS cid, CAST(COUNT(*) AS BIGINT) AS n_arrive
  FROM mv WHERE cid <> new_cid GROUP BY new_cid
), oldc AS (
  {_churn_oldc_sql()}
), sh AS (
  SELECT n.cid,
         CAST(SUM((n.cp - o.co) * (n.cp - o.co)) AS BIGINT) AS ss
  FROM newcent n JOIN oldc o ON o.cid = n.cid AND o.dim = n.dim
  GROUP BY n.cid
)
SELECT CAST(lv.cid AS INT) AS centroid_id, lv.n_vecs, lv.n_leave,
       CAST(COALESCE(ar.n_arrive, 0) AS BIGINT) AS n_arrive,
       {quant_sql("CAST(lv.n_leave AS DOUBLE) / lv.n_vecs", 6)} AS churn_frac,
       {quant_sql(f"sqrt(CAST(sh.ss AS DOUBLE)) / {_CENT_GRID}", 6)}
         AS centroid_shift
FROM lv LEFT JOIN ar ON ar.cid = lv.cid JOIN sh ON sh.cid = lv.cid
ORDER BY centroid_id
""",
)
def ivf_reassignment_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index STALENESS audit — the "when do I rebuild" decision:
    run one Lloyd step (per-cell mean of the current members, snapped
    back to the 1e-4 component grid) and report, per cell, how far the
    centroid moved (``centroid_shift``, L2 in original units) and how
    many members would re-assign to a different cell under the updated
    centroids (``n_leave`` / ``n_arrive`` / ``churn_frac``). High churn
    means the written IVF layout (``ivf_pq_index_probe``) no longer
    reflects the corpus and recall audits are measuring a stale
    partition; near-zero churn means re-centering can wait. Complements
    ``ann_index_balance_audit`` (occupancy only, no drift signal) and
    the streaming assignment twin (which only ever APPENDS under the
    frozen centroids).

    Exactness: snapping the NEW centroid to the same 1e-4 grid as the
    scan makes every downstream quantity an exact BIGINT whose
    magnitude is CORPUS-SIZE-INVARIANT — |cp| <= 1e4, so the argmax
    margin m = 2*(v.c') - ||c'||^2 is bounded by ~1.3e10 regardless of
    cell population (no n-scaled cross-multiplication, no overflow at
    any scale). The one double division per cell mean is identically
    rounded in both engines; ties in the argmax resolve to the lowest
    cell id. Cells with zero members drop out of the Lloyd step in both
    engines (inner joins).

    Plan: assignment comes from the memoized ``_assigned_frame`` (zero
    extra scans); the Lloyd sums are ONE map-side-combined (cell, dim)
    aggregate; re-scoring is an equi-join on ``dim`` with constant
    64 x 16 fanout, then a per-vector window PARTITIONED by vec_id; the
    report joins are 16-row frames. Linear in the corpus at 100 TB.

    No reference analogue; extends the SURVEY §2 similarity/ANN
    family (r13).
    """
    from pyspark.sql import Window

    assigned = _assigned_frame(spark, sf_dir).select(
        "vec_id", "embedding", F.col("centroid_id").alias("cid")
    )
    comp = assigned.select(
        "vec_id", "cid", F.posexplode("embedding").alias("dim0", "x")
    ).select(
        "vec_id",
        "cid",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x").cast("double") * _CENT_GRID + 0.5)
        .cast("long")
        .alias("q"),
    )
    cellsums = comp.groupBy("cid", "dim").agg(F.sum("q").cast("long").alias("s"))
    ncell = assigned.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n"))
    newcent = cellsums.join(F.broadcast(ncell), "cid").select(
        "cid",
        "dim",
        F.floor(F.col("s").cast("double") / F.col("n") + 0.5)
        .cast("long")
        .alias("cp"),
    )
    enorm = newcent.groupBy("cid").agg(
        F.sum(F.col("cp") * F.col("cp")).cast("long").alias("e")
    )
    dots = (
        comp.join(
            F.broadcast(
                newcent.select(
                    F.col("cid").alias("ncid"), "dim", "cp"
                )
            ),
            "dim",
        )
        .groupBy("vec_id", "ncid")
        .agg(F.sum(F.col("q") * F.col("cp")).cast("long").alias("d"))
    )
    sc = dots.join(
        F.broadcast(enorm.select(F.col("cid").alias("ncid"), "e")), "ncid"
    ).select("vec_id", "ncid", (2 * F.col("d") - F.col("e")).alias("m"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("m"), "ncid")
    best = (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("ncid").alias("new_cid"))
    )
    mv = assigned.select("vec_id", "cid").join(best, "vec_id")
    lv = mv.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum((F.col("cid") != F.col("new_cid")).cast("long"))
        .cast("long")
        .alias("n_leave"),
    )
    ar = (
        mv.where(F.col("cid") != F.col("new_cid"))
        .groupBy(F.col("new_cid").alias("cid"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_arrive"))
    )
    oldc = (
        spark.range(1)
        .select(
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(
                        "named_struct('cid', {}, 'co', array({}))".format(
                            k,
                            ", ".join(f"{v}L" for v in _OLD_CENT_GRID[k]),
                        )
                        for k in range(N_CENTROIDS)
                    )
                    + ")"
                )
            ).alias("oc")
        )
        .select(
            F.col("oc.cid").alias("cid"),
            F.posexplode("oc.co").alias("dim0", "co"),
        )
        .select("cid", (F.col("dim0") + 1).alias("dim"), "co")
    )
    sh = (
        newcent.join(F.broadcast(oldc), ["cid", "dim"])
        .groupBy("cid")
        .agg(
            F.sum((F.col("cp") - F.col("co")) * (F.col("cp") - F.col("co")))
            .cast("long")
            .alias("ss")
        )
    )
    return (
        lv.join(ar, "cid", "left")
        .join(sh, "cid")
        .select(
            F.col("cid").cast("int").alias("centroid_id"),
            "n_vecs",
            "n_leave",
            F.coalesce(F.col("n_arrive"), F.lit(0)).cast("long").alias("n_arrive"),
            quant(
                F.col("n_leave").cast("double") / F.col("n_vecs"), 6
            ).alias("churn_frac"),
            quant(
                F.sqrt(F.col("ss").cast("double")) / _CENT_GRID, 6
            ).alias("centroid_shift"),
        )
        .orderBy("centroid_id")
    )


def _pq_adc_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pq imports this module, so its arm is looked up at call time.
    from hadoop_cs4225_spark.operators.pq import pq_adc_query_topk

    return pq_adc_query_topk(spark, sf_dir)


#: The five audited ANN arms by label, each a session memo of the arm's
#: <= 5-row result (the ``_brute_topk_frame`` discipline — guide §2.4):
#: BOTH audit composers (``ann_recall_audit``, ``ann_ndcg_audit``) union
#: the same five outputs, so without a memo every method's full pipeline
#: ran once standalone + twice inside audits per suite. The registered
#: method queries keep their own live plans, so their bench rows still
#: measure the real scans. Not warmed (r14, VERDICT r13 task 1): they
#: are results of registered queries, so the first audit composer pays
#: the family build inside its timed region.
AUDIT_METHODS = {
    label: session_memo(f"sim:method_topk:{label}", warm=False, **reads)(
        lambda spark, sf_dir, query=query: query(spark, sf_dir).localCheckpoint(
            eager=False
        )
    )
    for label, query, reads in (
        ("lsh", ann_lsh_query_topk, {"upstream": ("emb_bucketed",)}),
        ("lsh_multi", ann_lsh_multiprobe_topk, {"upstream": ("emb_bucketed",)}),
        ("ivf", ivf_ann_query_topk, {"upstream": ("emb_assigned",)}),
        ("pq", _pq_adc_query_topk, {"sources": ("embeddings",)}),
        ("rerank", ann_rerank_topk, {"upstream": ("emb_assigned",)}),
    )
}


def audit_method_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """label -> memoized 5-row top-k frame for the five audited ANN
    methods (single definition shared by both audit composers)."""
    return {label: memo(spark, sf_dir) for label, memo in AUDIT_METHODS.items()}
