"""Distributed linear algebra over the embedding column: Gram matrix +
power iteration (the top-principal-direction pass of PCA).

The pattern (what Spark MLlib's RowMatrix/PCA does under the hood):
the DATA-sized work is one distributed aggregation — the d×d Gram
matrix G = Σ v vᵀ, reduced map-side per executor shard — and the
d-sized work (eigen iteration on a 64×64 matrix) is then cheap enough
to run anywhere. Here BOTH halves stay declarative so the DuckDB
oracle can replay them: the Gram entries are rounded-sum aggregates
keyed on (i, j), and two power-iteration steps are unrolled as joins
against the tiny G relation, quantized after every floating step so
both engines walk identical values (functions/numeric.py policy).

Scale: the fan-out is d² rows per vector (64² = 4096) into a partial
agg with d² = 4096 groups — map-side combining collapses each executor
shard to ≤4096 partial rows, so the shuffle is constant-size no matter
the row count. At very large d, swap the explode for a per-partition
numpy outer-product in mapInArrow (same reduction shape, fewer rows);
at d=64 the JVM-side explode wins on simplicity and stays off Python.

No reference analogue; extends the LLM-pipeline surface (embedding
preprocessing: PCA whitening / decorrelation before indexing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import session_memo
from hadoop_cs4225_spark.sources.tables import load_table

#: Power-iteration steps (unrolled identically in the SQL oracle).
_N_STEPS = 2

def _vec_w():
    """Whole-frame window over the d-row iteration vector (r14, VERDICT
    r13 task 7): each normalization step used to build a 1-row
    aggregate and broadcast it back (one BroadcastExchange JOB per step
    — the family was job-count-bound, ~8 sequential tiny-frame jobs per
    run). A partition-less window over the SAME 64-row frame computes
    the norm in-stage with zero extra jobs; the input is d = 64 rows at
    any corpus size (allowlisted + bound-enforced in test_plans.py).
    A function, not a module constant: building a WindowSpec needs an
    active SparkContext, which importers may not have yet."""
    return Window.partitionBy()


@session_memo("gram64", sources=("embeddings",))
def _gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64x64 Gram matrix ``(i, j, g)`` with ``g = ROUND(Σ xi·xj, 4)``
    — a session memo because BOTH linear-algebra queries
    (``embedding_gram_topeig``, ``embedding_pca_two``) consume the
    identical frame: the ONE corpus-sized aggregate of the family ran
    twice per suite (guide §2.4 — remove repeated passes). Bounded:
    d² = 4096 short rows regardless of corpus size. Warmed, so no timed
    query is charged the family's build for running first."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    ex = emb.select(
        F.posexplode(as_double).alias("p", "xi"), as_double.alias("emb")
    )
    return (
        ex.select(
            (F.col("p") + 1).cast("int").alias("i"),
            F.posexplode("emb").alias("q", "xj"),
            "xi",
        )
        .select("i", (F.col("q") + 1).cast("int").alias("j"), "xi", "xj")
        .groupBy("i", "j")
        .agg(F.round(F.sum(F.col("xi") * F.col("xj")), 4).alias("g"))
        .localCheckpoint()
    )


def _gram_sql() -> str:
    return """
ex AS (
  SELECT g.i AS i, embedding[g.i]::DOUBLE AS xi, embedding AS emb
  FROM embeddings,
       LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) g
),
gram AS (
  SELECT CAST(p.i AS INT) AS i, CAST(q.j AS INT) AS j,
         ROUND(SUM(p.xi * p.emb[q.j]::DOUBLE), 4) AS g
  FROM ex p, LATERAL (SELECT unnest(range(1, len(p.emb) + 1)) AS j) q
  GROUP BY p.i, q.j
)"""


def _step_sql(prev: str, cur: str, g: str = "gram") -> str:
    """One quantized power-iteration step as two CTEs."""
    return f"""
{cur}_raw AS (
  SELECT {g}.i AS i, {quant_sql(f"SUM({g}.g * {prev}.v)", 8)} AS w
  FROM {g} JOIN {prev} ON {g}.j = {prev}.i
  GROUP BY {g}.i
),
{cur} AS (
  SELECT i, {quant_sql(f"w / (SELECT SQRT(SUM(w * w)) FROM {cur}_raw)", 8)} AS v
  FROM {cur}_raw
)"""


@register(
    "embedding_gram_topeig",
    oracle=f"""
WITH {_gram_sql()},
v0 AS (SELECT i, 0.125 AS v FROM (SELECT DISTINCT i FROM gram) d)
,{_step_sql("v0", "v1")}
,{_step_sql("v1", "v2")}
SELECT v2.i AS dim,
       v2.v AS component,
       {quant_sql(
           "(SELECT SUM(a.v * gram.g * b.v) FROM gram"
           " JOIN v2 a ON gram.i = a.i JOIN v2 b ON gram.j = b.i)", 4)}
         AS rayleigh
FROM v2
ORDER BY dim
LIMIT 8
""",
)
def embedding_gram_topeig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 components of the (unit-norm) top principal direction
    after two power-iteration steps, plus the Rayleigh quotient
    vᵀGv (the top-eigenvalue estimate), computed end-to-end in the
    engine — no driver-side matrix math.

    Determinism: G entries are ROUND(SUM, 4); every iteration output
    and the final quotient pass the shared floor-quantizer, so the two
    engines walk identical doubles despite different summation orders.
    """
    # The 64x64 Gram feeds every following step — session-memoized
    # (shared with embedding_pca_two) and already materialized.
    gram = _gram_frame(spark, sf_dir)
    # v carries distinct column names (vi, v) so joins against the gram
    # lineage it derives from stay unambiguous.
    v = (
        gram.select("i")
        .distinct()
        .select(F.col("i").alias("vi"), F.lit(0.125).alias("v"))
    )
    for _ in range(_N_STEPS):
        w = (
            gram.join(v, F.col("j") == F.col("vi"))
            .groupBy("i")
            .agg(quant(F.sum(F.col("g") * F.col("v")), 8).alias("w"))
        )
        v = w.select(
            F.col("i").alias("vi"),
            quant(
                F.col("w")
                / F.sqrt(F.sum(F.col("w") * F.col("w")).over(_vec_w())),
                8,
            ).alias("v"),
        )
    a = v.select(F.col("vi").alias("ai"), F.col("v").alias("av"))
    b = v.select(F.col("vi").alias("bi"), F.col("v").alias("bv"))
    rayleigh = (
        gram.join(a, F.col("i") == F.col("ai"))
        .join(b, F.col("j") == F.col("bi"))
        .agg(quant(F.sum(F.col("av") * F.col("g") * F.col("bv")), 4).alias("rayleigh"))
    )
    return (
        v.crossJoin(F.broadcast(rayleigh))
        .select(F.col("vi").alias("dim"), F.col("v").alias("component"), "rayleigh")
        .orderBy("dim")
        .limit(8)
    )


# ---------------------------------------------------------------------------
# Round-8 batch 5: second principal direction via deflation
# ---------------------------------------------------------------------------

@register(
    "embedding_pca_two",
    oracle=f"""
WITH {_gram_sql()},
v0 AS (SELECT i, 0.125 AS v FROM (SELECT DISTINCT i FROM gram) d)
,{_step_sql("v0", "v1")}
,{_step_sql("v1", "v2")}
,lam1 AS (
  SELECT {quant_sql(
      "(SELECT SUM(a.v * gram.g * b.v) FROM gram"
      " JOIN v2 a ON gram.i = a.i JOIN v2 b ON gram.j = b.i)", 4)} AS lam
)
,gram2 AS MATERIALIZED (
  SELECT gm.i, gm.j, {quant_sql("gm.g - l.lam * a.v * b.v", 4)} AS g
  FROM gram gm
  JOIN v2 a ON a.i = gm.i
  JOIN v2 b ON b.i = gm.j
  CROSS JOIN lam1 l
)
,u0 AS (SELECT i, 0.125 AS v FROM (SELECT DISTINCT i FROM gram2) d)
,{_step_sql("u0", "u1", g="gram2")}
,{_step_sql("u1", "u2", g="gram2")}
,lam2 AS (
  SELECT {quant_sql(
      "(SELECT SUM(a.v * gram2.g * b.v) FROM gram2"
      " JOIN u2 a ON gram2.i = a.i JOIN u2 b ON gram2.j = b.i)", 4)} AS lam
)
,tr AS (SELECT ROUND(SUM(g), 4) AS t FROM gram WHERE i = j)
SELECT v2.i AS dim, v2.v AS pc1, u2.v AS pc2,
       l1.lam AS eig1, l2.lam AS eig2,
       {quant_sql("l1.lam / tr.t", 6)} AS ev1_share,
       {quant_sql("l2.lam / tr.t", 6)} AS ev2_share
FROM v2 JOIN u2 ON u2.i = v2.i
CROSS JOIN lam1 l1 CROSS JOIN lam2 l2 CROSS JOIN tr
ORDER BY dim
LIMIT 8
""",
)
def embedding_pca_two(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction by DEFLATION: after the power
    iteration estimates (v1, lambda1) on the Gram matrix G, iterate
    again on G2 = G - lambda1 * v1 v1^T — the rank-one subtraction
    that removes the top direction so the SAME loop finds the next
    one. Reports the first 8 components of both directions plus each
    eigenvalue's share of trace(G) (explained variance) — i.e. "how
    many PCA dimensions do these embeddings actually use", the
    decision input for the JL/int8 compression queries.

    Everything stays in the engine: the deflated matrix is a 64x64
    relation built by two joins against the v1 estimate and one
    rank-one product per cell, quantized on the same 4-dp grid as G
    itself (so both engines iterate on identical matrices); the DuckDB
    CTE is MATERIALIZED because two iteration steps and the Rayleigh
    quotient all consume it (the HITS inlining lesson). Deflation
    quality is bounded by the 2-step v1 estimate — the pytest pins
    near-orthogonality and the eigenvalue ordering, not textbook
    convergence.

    Plan: the corpus-sized work is still the single Gram aggregate
    (d^2 map-side-combined rows); deflation and the second iteration
    touch only 64x64 frames.

    No reference analogue; extends the SURVEY §2 linear-algebra family.
    """
    # shared session-memoized Gram (see _gram_frame; built once for
    # this query AND embedding_gram_topeig)
    gram = _gram_frame(spark, sf_dir)

    def iterate(g: DataFrame) -> DataFrame:
        v = (
            g.select("i")
            .distinct()
            .select(F.col("i").alias("vi"), F.lit(0.125).alias("v"))
        )
        for _ in range(_N_STEPS):
            w = (
                g.join(v, F.col("j") == F.col("vi"))
                .groupBy("i")
                .agg(quant(F.sum(F.col("g") * F.col("v")), 8).alias("w"))
            )
            v = w.select(
                F.col("i").alias("vi"),
                quant(
                    F.col("w")
                    / F.sqrt(F.sum(F.col("w") * F.col("w")).over(_vec_w())),
                    8,
                ).alias("v"),
            )
        return v.localCheckpoint(eager=False)

    def rayleigh(g: DataFrame, v: DataFrame) -> DataFrame:
        a = v.select(F.col("vi").alias("ai"), F.col("v").alias("av"))
        b = v.select(F.col("vi").alias("bi"), F.col("v").alias("bv"))
        return (
            g.join(a, F.col("i") == F.col("ai"))
            .join(b, F.col("j") == F.col("bi"))
            .agg(
                quant(
                    F.sum(F.col("av") * F.col("g") * F.col("bv")), 4
                ).alias("lam")
            )
        )

    v1 = iterate(gram)
    lam1 = F.broadcast(rayleigh(gram, v1))
    a = v1.select(F.col("vi").alias("ai"), F.col("v").alias("av"))
    b = v1.select(F.col("vi").alias("bi"), F.col("v").alias("bv"))
    gram2 = (
        gram.join(a, F.col("i") == F.col("ai"))
        .join(b, F.col("j") == F.col("bi"))
        .crossJoin(lam1)
        .select(
            "i",
            "j",
            quant(
                F.col("g") - F.col("lam") * F.col("av") * F.col("bv"), 4
            ).alias("g"),
        )
        # persist(), not EAGER localCheckpoint (r14): same single-
        # computation reuse for the 4096-row deflated matrix across
        # the second iteration + Rayleigh quotient, without a separate
        # materialization job per invocation and without checkpoint
        # RDDs surviving the bench's per-query clearCache.
        .persist()
    )
    v2 = iterate(gram2)
    lam2 = F.broadcast(
        rayleigh(gram2, v2).withColumnRenamed("lam", "lam2")
    )
    tr = F.broadcast(
        gram.where(F.col("i") == F.col("j")).agg(
            F.round(F.sum("g"), 4).alias("t")
        )
    )
    pc1 = v1.select(F.col("vi").alias("dim"), F.col("v").alias("pc1"))
    pc2 = v2.select(F.col("vi").alias("dim2"), F.col("v").alias("pc2"))
    return (
        pc1.join(pc2, F.col("dim") == F.col("dim2"))
        .crossJoin(lam1)
        .crossJoin(lam2)
        .crossJoin(tr)
        .select(
            "dim",
            "pc1",
            "pc2",
            F.col("lam").alias("eig1"),
            F.col("lam2").alias("eig2"),
            quant(F.col("lam") / F.col("t"), 6).alias("ev1_share"),
            quant(F.col("lam2") / F.col("t"), 6).alias("ev2_share"),
        )
        .orderBy("dim")
        .limit(8)
    )
