"""Retrieval composition operators: hybrid lexical+semantic fusion and
ranking-quality evaluation.

A training-data / RAG pipeline rarely serves ONE retriever: the
standard deployment fuses a lexical arm (BM25) with a semantic arm
(embedding cosine) via Reciprocal Rank Fusion, and tracks per-method
ranking quality as NDCG against exact ground truth. Both ops here
follow the ``ann_audit`` composition discipline: the Spark side calls
the REGISTERED query functions and the oracle embeds the REGISTERED
oracle strings, so neither can drift from the retrievers it composes.
(That is also why this module must import after ``text_analysis``,
``similarity`` and ``pq`` in the registry's module list.)

Reference parity: the reference repo (don-tay/hadoop-cs4225) stops at
TopkCommonWords (`src/main/java/TopkCommonWords.java`) — a fixed-query
lexical ranker; these are the modern retrieval-stack shapes layered on
the same primitive per SURVEY.md §2.2's extension rows.

Scale: every frame here is a top-k (k<=10) produced by its
constituent's full distributed plan; the fusion/eval layer adds
bounded-k windows and joins — constant overhead regardless of corpus
size, exactly like ``ann_recall_audit``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.registry import ORACLES, register
from hadoop_cs4225_spark.sources.tables import load_table

#: Standard RRF smoothing constant (Cormack et al.'s k=60).
RRF_K = 60

#: NDCG evaluation depth — matches ``ann_audit.K`` (recall@5).
NDCG_K = 5

#: method label -> registered query name, as in ``ann_recall_audit``.
_NDCG_METHODS = {
    "ann_lsh_query_topk": "lsh",
    "ann_lsh_multiprobe_topk": "lsh_multi",
    "ivf_ann_query_topk": "ivf",
    "pq_adc_query_topk": "pq",
    "ann_rerank_topk": "rerank",
}


def _rrf_oracle() -> str:
    return f"""
WITH lex AS (
  SELECT doc_id AS id,
         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS r_lex
  FROM ({ORACLES["bm25_search_topk"]})
), sem AS (
  SELECT vec_id AS id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT)
           AS r_sem
  FROM ({ORACLES["cosine_topk_brute"]})
)
SELECT COALESCE(l.id, s.id) AS doc_id, l.r_lex, s.r_sem,
       {quant_sql(
           f"COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0)"
           f" + COALESCE(1.0 / ({RRF_K} + s.r_sem), 0.0)", 6)} AS rrf_score
FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
ORDER BY rrf_score DESC, doc_id
LIMIT 10
"""


@register("hybrid_search_rrf", oracle=_rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: Reciprocal Rank Fusion of the lexical arm
    (``bm25_search_topk``, fixed multi-term query over documents) and
    the semantic arm (``cosine_topk_brute``, query vector 0 over the
    parallel embeddings table — vec_id IS doc_id in this corpus).

    RRF score = sum over arms of 1/(k + rank), k=60 — the
    score-scale-free fusion every hybrid search deployment starts
    with, robust to the arms' incomparable score distributions (BM25
    is unbounded, cosine lives in [-1, 1]). A doc missing from one arm
    contributes 0 from that arm (NULL rank -> COALESCE), exactly the
    standard formulation.

    Each arm is the registered query's own distributed plan (map-side
    BM25 scoring / broadcast-query cosine scan, each ending in a
    k-row distributed top-k); fusion ranks the two 10-row frames with
    bounded windows and full-outer-joins them — constant cost at any
    corpus size. Ranks are deterministic: both arms' scores are
    6-dp-quantized with doc-id tiebreaks on BOTH engines.
    """
    from hadoop_cs4225_spark.operators.similarity import _brute_topk_frame
    from hadoop_cs4225_spark.operators.text_analysis import bm25_search_topk

    lex = bm25_search_topk(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("r_lex"),
    )
    sem = _brute_topk_frame(spark, sf_dir).select(
        F.col("vec_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.desc("cos_sim"), "vec_id"))
        .cast("long")
        .alias("r_sem"),
    )
    fused = lex.join(sem, "id", "full")
    rrf = F.coalesce(1.0 / (RRF_K + F.col("r_lex")), F.lit(0.0)) + F.coalesce(
        1.0 / (RRF_K + F.col("r_sem")), F.lit(0.0)
    )
    return (
        fused.select(
            F.col("id").alias("doc_id"),
            "r_lex",
            "r_sem",
            quant(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(10)
    )


def _ndcg_oracle() -> str:
    methods_sql = "\nUNION ALL\n".join(
        f"SELECT '{label}' AS method, vec_id, cos_sim FROM ({ORACLES[name]})"
        for name, label in _NDCG_METHODS.items()
    )
    return f"""
WITH brute AS (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT)
           AS r_b
  FROM ({ORACLES["cosine_topk_brute"]})
  QUALIFY r_b <= {NDCG_K}
), rel AS (
  SELECT vec_id, {NDCG_K} + 1 - r_b AS rel FROM brute
), idcg AS (
  SELECT SUM(({NDCG_K} + 1 - r_b) * LN(2.0) / LN(r_b + 1.0)) AS idcg
  FROM brute
), cand AS (
{methods_sql}
), ranked AS (
  SELECT method, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY method
              ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS r_m
  FROM cand
  QUALIFY r_m <= {NDCG_K}
), dcg AS (
  SELECT method,
         SUM(COALESCE(rel.rel, 0) * LN(2.0) / LN(ranked.r_m + 1.0)) AS dcg
  FROM ranked LEFT JOIN rel ON ranked.vec_id = rel.vec_id
  GROUP BY method
)
SELECT method,
       {quant_sql("dcg / idcg.idcg", 6)} AS ndcg_at_{NDCG_K}
FROM dcg CROSS JOIN idcg
ORDER BY method
"""


@register("ann_ndcg_audit", oracle=_ndcg_oracle())
def ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of each ANN method against exact brute-force ground truth
    for query vector 0 — the POSITION-sensitive quality number
    completing ``ann_recall_audit``: recall@5 says whether the true
    neighbors were surfaced at all, cosine regret how close the best
    one was; NDCG says whether they were surfaced in the right ORDER
    (a method that buries the true best neighbor at rank 5 scores the
    same recall but much lower NDCG).

    Graded relevance of the method's rank-i candidate = K+1-r_b for a
    vec at brute rank r_b, 0 for anything outside the exact top-5; DCG
    discounts by 1/log2(rank+1); IDCG is the brute list's own DCG (the
    best achievable ordering by construction). Same composition
    discipline as the recall audit: registered query functions on the
    Spark side, registered oracle strings embedded on the DuckDB side.

    Plan: each method frame is its own distributed top-k; the audit
    adds per-method bounded windows (<= 5 rows per partition), a join
    against the broadcast 5-row ground truth and one 5-group
    aggregate — constant overhead at any corpus size.
    """
    from hadoop_cs4225_spark.operators.similarity import (
        _brute_topk_frame,
        audit_method_frames,
    )

    ln2 = F.log(F.lit(2.0))
    brute = (
        # shared memoized ground truth (one brute scan per session for
        # all audit/fusion composers — VERDICT r10 task 4)
        _brute_topk_frame(spark, sf_dir)
        .select(
            "vec_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cos_sim"), "vec_id"))
            .cast("long")
            .alias("r_b"),
        )
        .where(F.col("r_b") <= NDCG_K)
        .localCheckpoint(eager=False)  # feeds rel AND idcg
    )
    rel = F.broadcast(
        brute.select("vec_id", (NDCG_K + 1 - F.col("r_b")).alias("rel"))
    )
    idcg = F.broadcast(
        brute.agg(
            F.sum(
                (NDCG_K + 1 - F.col("r_b")) * ln2 / F.log(F.col("r_b") + 1.0)
            ).alias("idcg")
        )
    )
    # memoized 5-row method results, shared with ann_recall_audit (the
    # _brute_topk_frame discipline — see similarity.AUDIT_METHODS)
    cand: DataFrame | None = None
    for label, frame in sorted(audit_method_frames(spark, sf_dir).items()):
        part = frame.select(
            F.lit(label).alias("method"), "vec_id", "cos_sim"
        )
        cand = part if cand is None else cand.unionByName(part)
    ranked = cand.select(
        "method",
        "vec_id",
        F.row_number()
        .over(Window.partitionBy("method").orderBy(F.desc("cos_sim"), "vec_id"))
        .cast("long")
        .alias("r_m"),
    ).where(F.col("r_m") <= NDCG_K)
    dcg = (
        ranked.join(rel, "vec_id", "left")
        .groupBy("method")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0))
                * ln2
                / F.log(F.col("r_m") + 1.0)
            ).alias("dcg")
        )
    )
    return (
        dcg.crossJoin(idcg)
        .select(
            "method",
            quant(F.col("dcg") / F.col("idcg"), 6).alias(f"ndcg_at_{NDCG_K}"),
        )
        .orderBy("method")
    )


#: MMR re-ranking: candidate pool size (the brute top-k), picks, and
#: the relevance/diversity trade-off (Carbonell & Goldstein's lambda).
MMR_POOL = 10
MMR_K = 5
MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    """Unrolled greedy MMR: step i picks argmax over the remaining pool
    of lambda*rel - (1-lambda)*max-sim-to-selected. K is a small fixed
    constant, so the greedy recursion unrolls into K chained CTEs —
    no recursive SQL needed, and the unrolled plan is exactly what the
    Spark side builds."""
    from hadoop_cs4225_spark.operators.similarity import _cos_sql

    lam = f"CAST({MMR_LAMBDA} AS DOUBLE)"
    mu = f"CAST({1 - MMR_LAMBDA:.1f} AS DOUBLE)"
    steps = []
    sels = []
    for i in range(1, MMR_K + 1):
        if i == 1:
            steps.append(
                f"s1 AS (SELECT vec_id, {lam} * relq AS mmr FROM cand "
                "QUALIFY ROW_NUMBER() OVER (ORDER BY mmr DESC, vec_id) = 1)"
            )
            sels.append("sel1 AS (SELECT vec_id FROM s1)")
        else:
            steps.append(
                f"""s{i} AS (
  SELECT c.vec_id, {lam} * c.relq - {mu} * MAX(p.s) AS mmr
  FROM cand c
  JOIN pair p ON p.va = c.vec_id
             AND p.vb IN (SELECT vec_id FROM sel{i - 1})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
  GROUP BY c.vec_id, c.relq
  QUALIFY ROW_NUMBER() OVER (ORDER BY mmr DESC, vec_id) = 1
)"""
            )
            sels.append(
                f"sel{i} AS (SELECT vec_id FROM sel{i - 1} "
                f"UNION ALL SELECT vec_id FROM s{i})"
            )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS pick, vec_id, mmr FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    ctes = []
    for st, se in zip(steps, sels):
        ctes.extend((st, se))
    return f"""
WITH cand AS (
  SELECT b.vec_id, b.cos_sim AS relq, e.embedding
  FROM ({ORACLES["cosine_topk_brute"]}) b
  JOIN embeddings e ON b.vec_id = e.vec_id
), pair AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         {quant_sql(_cos_sql("a.embedding", "b.embedding"), 6)} AS s
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
), {", ".join(ctes)}
SELECT pick, vec_id, {quant_sql("mmr", 6)} AS mmr_score
FROM ({union})
ORDER BY pick
"""


@register("mmr_diverse_topk", oracle=_mmr_oracle())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedily pick 5 of the
    brute-force top-10 neighbors of query vector 0, each pick maximizing
    lambda*relevance - (1-lambda)*max-similarity-to-already-picked
    (lambda=0.7) — the standard diversification pass a RAG retriever
    runs between ANN candidate generation and context assembly, so the
    k passages aren't five paraphrases of the same document.

    Greedy selection is inherently sequential in K, but K is a SMALL
    FIXED CONSTANT — so the recursion unrolls into K bounded dataframe
    steps (each a join against the <=K-row selected set + a 1-row
    top-k), mirrored by K chained CTEs in the oracle. Everything
    data-sized stays distributed: the candidate pool is the registered
    brute top-k's own plan, the pairwise-similarity matrix is
    POOL^2 = 100 rows by construction. All similarities are
    6-dp-quantized BEFORE the greedy comparisons and the lambda
    arithmetic is identical IEEE on both engines, so the argmax
    sequence cannot diverge.

    100 TB posture: the expensive part (candidate generation) is the
    ANN/brute plan; MMR adds O(K * POOL^2) constant work. For
    many-query batch MMR, the same unrolled plan runs per query_id
    partition (the pairs/selected joins gain a query_id equi-key).
    """
    from hadoop_cs4225_spark.operators.similarity import (
        _brute_topk_frame,
        _cos,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cand = (
        _brute_topk_frame(spark, sf_dir)
        .select("vec_id", F.col("cos_sim").alias("relq"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .localCheckpoint(eager=False)  # feeds pairs AND every step
    )
    a = cand.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = cand.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    pairs = (
        a.join(b, F.col("va") != F.col("vb"))
        .select("va", "vb", quant(_cos("ea", "eb"), 6).alias("s"))
        .localCheckpoint(eager=False)  # reused by K-1 steps
    )
    lam, mu = F.lit(float(MMR_LAMBDA)), F.lit(float(1 - MMR_LAMBDA))
    picks: list[DataFrame] = []
    selected: DataFrame | None = None
    for i in range(1, MMR_K + 1):
        if i == 1:
            step = (
                cand.select("vec_id", (lam * F.col("relq")).alias("mmr"))
                .orderBy(F.desc("mmr"), "vec_id")
                .limit(1)
            )
        else:
            maxsim = (
                pairs.join(
                    selected.select(F.col("vec_id").alias("vb")), "vb"
                )
                .groupBy("va")
                .agg(F.max("s").alias("ms"))
            )
            step = (
                cand.join(
                    selected, "vec_id", "left_anti"
                )
                .join(maxsim, F.col("vec_id") == F.col("va"))
                .select(
                    "vec_id",
                    (lam * F.col("relq") - mu * F.col("ms")).alias("mmr"),
                )
                .orderBy(F.desc("mmr"), "vec_id")
                .limit(1)
            )
        step = step.localCheckpoint(eager=False)  # pin the pick
        picks.append(
            step.select(
                F.lit(i).cast("long").alias("pick"), "vec_id", "mmr"
            )
        )
        sel_ids = step.select("vec_id")
        selected = (
            sel_ids if selected is None else selected.unionByName(sel_ids)
        )
    out: DataFrame | None = None
    for p in picks:
        out = p if out is None else out.unionByName(p)
    return out.select(
        "pick", "vec_id", quant(F.col("mmr"), 6).alias("mmr_score")
    ).orderBy("pick")
