"""Product quantization (PQ) over ``embeddings`` — the compressed-ANN
scale path the IVF/LSH families don't cover.

PQ splits each 64-dim vector into ``N_SUB`` = 4 contiguous subvectors of
16 dims and quantizes each against its own ``N_CODES`` = 8-entry
codebook, so a vector compresses to 4 small codes (here 3 bits each —
12 bits total vs 256 bytes of fp32; at 100 TB of raw embeddings the
code table is ~0.05% of the corpus and fits hot in memory). Queries rank
by **asymmetric distance computation (ADC)**: the *query* stays raw, the
corpus side is looked up from its codes, so scoring a vector is 4 table
lookups + 3 adds — no per-dimension math on the scan side at all
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

Engine mechanics mirror the IVF family (`similarity.py`): codebooks are
deterministic md5-derived constants embedded as literals in BOTH the
Spark plan and the DuckDB oracle (production swaps in k-means-trained
codebooks; assignment/lookup mechanics are identical), per-subspace
assignment is a one-pass struct fold (argmin L2 via the
``argmax(x·c − ½‖c‖²)`` rewrite, ties to the lowest code in both
engines), and all dot products fold left-to-right in doubles so values
are bit-identical cross-engine.

Composition note: IVF-PQ — the standard billion-scale layout — is these
two operators chained: ``ivf_inverted_lists`` partitions the corpus by
coarse centroid, and within each inverted list the *residual*
(vector − centroid) is PQ-coded; a probe reads one list's code table
and ADC-ranks it. Both halves are demonstrated independently here.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.operators.similarity import (
    CENTROIDS,
    EMB_DIM,
    _cos,
    _cos_sql,
    _dot,
    _dot_sql,
    _ivf_assign_sql,
    argmax_code_finish,
    argmax_code_sql,
    scores_fold,
)
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import derived_layout, read_derived
from hadoop_cs4225_spark.sources.tables import load_table

#: Subspace geometry: 4 subspaces x 16 dims; 8 codes per subspace.
N_SUB = 4
SUB_DIM = EMB_DIM // N_SUB
N_CODES = 8


def _pq_centroid(m: int, k: int) -> list[float]:
    """Deterministic pseudo-codeword in [-1, 1]^16 from md5 bytes —
    same derivation style as ``similarity._centroid`` (IVF), seeded per
    (subspace, code) so subspace codebooks differ."""
    return [
        round(hashlib.md5(f"pq:{m}:{k}:{d}".encode()).digest()[0] / 127.5 - 1.0, 6)
        for d in range(SUB_DIM)
    ]


#: ``PQ_CENTS[m][k]`` — codebook of subspace m.
PQ_CENTS: list[list[list[float]]] = [
    [_pq_centroid(m, k) for k in range(N_CODES)] for m in range(N_SUB)
]

#: ``½‖c‖²`` per codeword, rounded once so the literal embeds
#: identically in both engines (argmin-L2 rewrite).
_PQ_HALF_NORMS: list[list[float]] = [
    [round(0.5 * sum(v * v for v in c), 6) for c in PQ_CENTS[m]]
    for m in range(N_SUB)
]

#: ``‖c‖²`` per codeword (reconstruction norm; subspaces are orthogonal
#: coordinate blocks so ``‖recon‖² = Σ_m ‖c_{m,code_m}‖²``). Rounded
#: independently of the half-norms — ``2 × round(½x)`` would double the
#: rounding error.
_PQ_NORMS2: list[list[float]] = [
    [round(sum(v * v for v in c), 6) for c in PQ_CENTS[m]] for m in range(N_SUB)
]


def _slice(emb: str, m: int) -> str:
    """Spark SQL: subvector m of the embedding (1-based slice)."""
    return f"slice({emb}, {m * SUB_DIM + 1}, {SUB_DIM})"


def _slice_sql(emb: str, m: int) -> str:
    """DuckDB: same subvector (1-based inclusive bounds)."""
    return f"({emb}[{m * SUB_DIM + 1}:{(m + 1) * SUB_DIM}])"


def _sub_scores_fold(m: int, emb: str, render_finish) -> str:
    """One-pass fold over subvector m computing all 8 codeword dot
    products at once — the shared :func:`similarity.scores_fold`
    instantiated with subspace m's codebook. Addition runs in dimension
    order, matching the oracle's per-code ``list_reduce`` folds
    bit-for-bit."""
    return scores_fold(_slice(emb, m), PQ_CENTS[m], render_finish)


def _code_col(emb: str, m: int) -> Column:
    """Code of subvector m: ``argmax_k (x_m·c_k − ½‖c_k‖²)`` (= argmin
    L2), ties to the lowest k — the shared IVF/PQ finish
    (:func:`similarity.argmax_code_finish`), identical both engines."""
    return F.expr(
        scores_fold(
            _slice(emb, m), PQ_CENTS[m], argmax_code_finish(_PQ_HALF_NORMS[m])
        )
    )


def _cent_sql(m: int, k: int) -> str:
    return "[" + ", ".join(str(v) for v in PQ_CENTS[m][k]) + "]::DOUBLE[]"


def _code_sql(emb: str, m: int) -> str:
    return argmax_code_sql(
        _slice_sql(emb, m),
        [_cent_sql(m, k) for k in range(N_CODES)],
        _PQ_HALF_NORMS[m],
    )


def _packed_code_sql(emb: str) -> str:
    terms = " + ".join(
        f"{N_CODES**m} * {_code_sql(emb, m)}" for m in range(N_SUB)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "pq_code_histogram",
    oracle=f"""
SELECT {_packed_code_sql("embedding")} AS pq_code,
       COUNT(*) AS n_vecs,
       COUNT(DISTINCT label) AS n_labels
FROM embeddings
GROUP BY pq_code
ORDER BY pq_code
""",
)
def pq_code_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index layout: population per packed code word.

    The packed code (12 bits) is the corpus-side compressed
    representation; this histogram is the PQ analogue of
    ``ivf_inverted_lists`` — it audits codebook balance (a code holding
    most of the corpus means that subquantizer learned nothing). Plan:
    map-only code assignment (one fused fold per subspace), then one
    map-side-combined hash aggregate on a ≤4096-cardinality key —
    scale-linear with perfectly bounded state.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    packed = " + ".join(
        f"{N_CODES**m} * pqc{m}" for m in range(N_SUB)
    )
    return (
        emb.select(
            *[_code_col("embedding", m).alias(f"pqc{m}") for m in range(N_SUB)],
            "label",
        )
        .select(F.expr(f"CAST({packed} AS BIGINT)").alias("pq_code"), "label")
        .groupBy("pq_code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
        )
        .orderBy("pq_code")
    )


def _qdp_expr() -> str:
    """Spark SQL for the query-side ADC lookup table: ``qdp[m][k]`` =
    q_m·c_{m,k} — a 4×8 array-of-arrays computed ONCE on the single
    query row (4 one-pass folds), then broadcast. This is the "distance
    table" of the PQ paper; corpus-side scoring never touches raw
    dimensions again."""
    subs = ", ".join(
        _sub_scores_fold(
            m,
            "embedding",
            lambda a: "array(" + ", ".join(f"{a}.s{k}" for k in range(N_CODES)) + ")",
        )
        for m in range(N_SUB)
    )
    return f"array({subs})"


def _qdp_sql() -> str:
    subs = ", ".join(
        "["
        + ", ".join(
            _dot_sql(_slice_sql("embedding", m), _cent_sql(m, k))
            for k in range(N_CODES)
        )
        + "]"
        for m in range(N_SUB)
    )
    return f"[{subs}]"


@register(
    "pq_adc_query_topk",
    oracle=f"""
WITH assigned AS (
  SELECT vec_id, label, embedding,
         {", ".join(f'{_code_sql("embedding", m)} AS c{m}' for m in range(N_SUB))}
  FROM embeddings
), q AS (
  SELECT embedding AS qv,
         {_qdp_sql()} AS qdp,
         sqrt({_dot_sql("embedding", "embedding")}) AS qn
  FROM embeddings WHERE vec_id = 0
)
SELECT a.vec_id, a.label,
       {quant_sql(
           "("
           + " + ".join(f"q.qdp[{m + 1}][a.c{m} + 1]" for m in range(N_SUB))
           + ") / (q.qn * sqrt("
           + " + ".join(
               f"list_extract({_PQ_NORMS2[m]}, a.c{m} + 1)"
               for m in range(N_SUB)
           )
           + "))",
           6,
       )} AS adc_cos,
       {quant_sql(_cos_sql("a.embedding", "q.qv"), 6)} AS cos_sim
FROM assigned a CROSS JOIN q
WHERE a.vec_id <> 0
ORDER BY adc_cos DESC, a.vec_id
LIMIT 5
""",
)
def pq_adc_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 for query vec 0: rank the corpus by approximate cosine
    computed from PQ codes alone, report the exact cosine alongside (the
    recall audit a PQ deployment watches).

    ``adc_cos = (Σ_m qdp[m][code_m]) / (‖q‖·√(Σ_m ‖c_{{m,code_m}}‖²))``
    — numerator and reconstruction norm are pure lookups: the per-row
    cost is 4 ``element_at`` + adds, independent of EMB_DIM. Plan: the
    1-row query frame (distance table + norm) broadcasts; scoring is
    map-only over the code columns; ``TakeOrderedAndProject`` keeps the
    top-5 per partition. At 100 TB the scan side reads ONLY the code
    table (12 bits/vector) — the raw embedding column here is touched
    just for the exact-cosine audit column.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        "vec_id",
        "label",
        "embedding",
        *[_code_col("embedding", m).alias(f"c{m}") for m in range(N_SUB)],
    )
    q = F.broadcast(
        emb.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"), *_q_adc_cols()
        )
    )
    return _adc_rank_topk(assigned.crossJoin(q), F.col("vec_id") != 0)


def _q_adc_cols() -> list[Column]:
    """Query-row ADC columns: the broadcast distance table ``qdp`` and
    the query norm ``qn`` — shared by the PQ-only and IVF-PQ queries."""
    return [
        F.expr(_qdp_expr()).alias("qdp"),
        F.sqrt(_dot("embedding", "embedding")).alias("qn"),
    ]


def _adc_rank_topk(joined: DataFrame, cond: Column) -> DataFrame:
    """The shared ADC scorer: expects ``joined`` = corpus rows (code
    cols ``c0..c3``, ``embedding``) cross-joined with the 1-row query
    frame (``qdp``, ``qn``, ``qv``); filters ``cond``, ranks by the
    quantized approximate cosine, keeps top-5 with the exact-cosine
    audit column. One definition so the PQ-only and IVF-PQ rankings can
    never desynchronize (the oracle twin is :func:`_adc_sql`)."""
    adc_dot = sum(
        F.element_at(F.element_at("qdp", m + 1), F.col(f"c{m}") + 1)
        for m in range(N_SUB)
    )
    recon2 = sum(
        F.element_at(
            F.expr("array(" + ", ".join(f"{v}D" for v in _PQ_NORMS2[m]) + ")"),
            F.col(f"c{m}") + 1,
        )
        for m in range(N_SUB)
    )
    return (
        joined.where(cond)
        .select(
            "vec_id",
            "label",
            quant(adc_dot / (F.col("qn") * F.sqrt(recon2)), 6).alias("adc_cos"),
            quant(_cos("embedding", "qv"), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("adc_cos"), "vec_id")
        .limit(5)
    )


def _adc_sql() -> str:
    """DuckDB: the shared ADC approximate-cosine expression over code
    columns ``a.c0..a.c3`` and the query row ``q`` (lookup numerator /
    (query norm x reconstruction norm))."""
    num = " + ".join(f"q.qdp[{m + 1}][a.c{m} + 1]" for m in range(N_SUB))
    rec = " + ".join(
        f"list_extract({_PQ_NORMS2[m]}, a.c{m} + 1)" for m in range(N_SUB)
    )
    return f"({num}) / (q.qn * sqrt({rec}))"


#: The IVF-PQ semantics stated ONCE: both the inline query and the
#: materialized-index probe register this same oracle (they are two
#: physical paths to one logical answer — duplicating the generated SQL
#: would let the two verifications drift).
_IVF_PQ_ORACLE = f"""
WITH assigned AS (
  SELECT vec_id, label, embedding,
         {_ivf_assign_sql("embedding")} AS centroid_id,
         {", ".join(f'{_code_sql("embedding", m)} AS c{m}' for m in range(N_SUB))}
  FROM embeddings
), q AS (
  SELECT embedding AS qv, centroid_id AS qc,
         {_qdp_sql()} AS qdp,
         sqrt({_dot_sql("embedding", "embedding")}) AS qn
  FROM assigned WHERE vec_id = 0
)
SELECT a.vec_id, a.label,
       {quant_sql(_adc_sql(), 6)} AS adc_cos,
       {quant_sql(_cos_sql("a.embedding", "q.qv"), 6)} AS cos_sim
FROM assigned a CROSS JOIN q
WHERE a.centroid_id = q.qc AND a.vec_id <> 0
ORDER BY adc_cos DESC, a.vec_id
LIMIT 5
"""


@register("ivf_pq_query_topk", oracle=_IVF_PQ_ORACLE)
def ivf_pq_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (nprobe=1): the standard billion-scale ANN layout — the
    coarse IVF quantizer prunes the search to the query's inverted list,
    and PQ's ADC ranks within the list from codes alone.

    Composition of the two existing halves: ``ivf_ann_query_topk``'s
    partition probe (equi-join on centroid_id — a partition-pruned
    directory read when the code table is written
    ``partitionBy(centroid_id)``) + ``pq_adc_query_topk``'s lookup
    scoring. At 100 TB the probe reads ONE list's 12-bit codes — the
    scan is |list|/|corpus| of the PQ-only plan, which itself never
    touches raw vectors. (Production FAISS-style IVF-PQ codes the
    RESIDUAL vector − centroid for tighter cells; same mechanics, one
    extra subtraction before coding — kept out here so each half stays
    independently oracle-checkable.) The exact-cosine audit column
    reports what pruning + quantization cost for this query.
    """
    from hadoop_cs4225_spark.operators.similarity import _assigned_frame

    assigned = _assigned_frame(spark, sf_dir).select(
        "vec_id",
        "label",
        "embedding",
        "centroid_id",
        *[_code_col("embedding", m).alias(f"c{m}") for m in range(N_SUB)],
    )
    q = F.broadcast(
        assigned.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"),
            F.col("centroid_id").alias("qc"),
            *_q_adc_cols(),
        )
    )
    return _adc_rank_topk(
        assigned.crossJoin(q),
        (F.col("centroid_id") == F.col("qc")) & (F.col("vec_id") != 0),
    )


@derived_layout(
    "embeddings_ivf_pq",
    sources=("embeddings",),
    # the coarse centroids and PQ codebooks are constants: digest their values
    config=(
        f"n_sub={N_SUB};sub_dim={SUB_DIM};n_codes={N_CODES};"
        f"n_lists={len(CENTROIDS)};partition=centroid_id;books="
        + hashlib.md5(repr((CENTROIDS, PQ_CENTS)).encode()).hexdigest()
    ),
)
def ensure_ivf_pq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The IVF-PQ INDEX as a table: embeddings written
    ``partitionBy(centroid_id)`` with their PQ codes as stored columns.

    This is the layout the query-time docstrings keep promising — one
    directory per inverted list, codes precomputed at write time so a
    probe neither rescans raw vectors for assignment nor recomputes
    codes. Its fingerprint covers the subspace geometry and a digest of
    the centroid and codebook values, so a change to any of them
    rebuilds the index (and, through the fingerprint file's mtime, every
    session memo that declares the layout)."""
    from hadoop_cs4225_spark.operators.similarity import _ivf_assign_col

    (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "label",
            "embedding",
            _ivf_assign_col("embedding").alias("centroid_id"),
            *[_code_col("embedding", m).alias(f"c{m}") for m in range(N_SUB)],
        )
        .repartition("centroid_id")
        .write.partitionBy("centroid_id")
        .parquet(path)
    )


@register("ivf_pq_index_probe", oracle=_IVF_PQ_ORACLE)
def ivf_pq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe against the MATERIALIZED index layout — the same
    answer as ``ivf_pq_query_topk`` through the physical path a
    deployment actually runs.

    ``ivf_pq_query_topk`` computes assignment + codes inline (the
    logical story); here they were computed ONCE at index-build time
    (:func:`ensure_ivf_pq_index`) and the probe is a broadcast join of
    the 1-row query frame against the centroid-partitioned table —
    Catalyst inserts a dynamic-partition-pruning subquery on
    ``centroid_id`` (plan-asserted in tests/test_plans.py), so the scan
    reads the ONE directory holding the query's inverted list. At
    100 TB that is the difference between touching |list| rows of codes
    and scanning the corpus; identical semantics either way (the oracle
    is the same as the inline twin's).
    """
    path = ensure_ivf_pq_index(spark, sf_dir)
    idx = read_derived(spark, path)
    q = F.broadcast(
        idx.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qv"),
            F.col("centroid_id").alias("qc"),
            *_q_adc_cols(),
        )
    )
    joined = idx.join(q, idx.centroid_id == q.qc)
    return _adc_rank_topk(joined, F.col("vec_id") != 0)
