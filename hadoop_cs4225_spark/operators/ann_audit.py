"""Cross-method ANN quality audit — the embedding-side twin of
``dedup.lsh_recall_audit``.

Every approximate method trades recall for scan cost; a deployment
tracks that trade per method against exact brute force on the same
query. Two numbers per method, for query vector 0:

- ``recall_at_5``: |method top-5 ∩ exact top-5| / 5 — strict identity
  recall. On THIS corpus (isotropic synthetic embeddings) it sits near
  zero for single-probe methods: with cosines concentrated by the
  curse of dimensionality, the exact top-5 is a near-tie among
  thousands of candidates, and a single bucket/list can't contain it.
  That is a property of the data, not a bug — and precisely what an
  audit must say out loud.
- ``cos_regret``: exact-cosine gap between the brute best and the best
  candidate the method surfaced — the smooth metric that stays
  informative when identity recall collapses (a user gets a
  0.29-cosine neighbor instead of 0.37; regret 0.08, not "0 recall").

The method set includes both LSH variants so the audit demonstrates
the multiprobe fix: single-bucket LSH shows the worst regret, while
Hamming-1 multiprobe recovers the true best neighbor (regret 0) at
9x the probed buckets.

Composition discipline: the Spark side calls the REGISTERED query
functions and the oracle embeds the REGISTERED oracle strings as
subqueries — both sides reuse the single definition of each method, so
the audit can never drift from what it audits. (This is also why the
module must import after ``similarity``/``pq`` in the registry's
module list.)

Scale: each method frame is its own top-5 (the method's full plan);
the audit adds five 5-row joins against the broadcast 5-row ground
truth and one 5-group aggregate — constant overhead regardless of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.registry import ORACLES, register

K = 5

_LABELS = {
    "ann_lsh_query_topk": "lsh",
    "ann_lsh_multiprobe_topk": "lsh_multi",
    "ivf_ann_query_topk": "ivf",
    "pq_adc_query_topk": "pq",
    # two-stage rerank (round 6): same inverted list as `ivf` but an
    # int8 screen widens the rerank pool to 32, so its regret is <= ivf's
    "ann_rerank_topk": "rerank",
}


def _oracle() -> str:
    methods_sql = "\nUNION ALL\n".join(
        f"SELECT '{label}' AS method, vec_id, cos_sim FROM ({ORACLES[name]})"
        for name, label in _LABELS.items()
    )
    return f"""
WITH brute AS (
  -- explicit re-ORDER: a bare LIMIT over an ordered subquery is not
  -- guaranteed to respect the inner ordering in either engine
  SELECT vec_id, cos_sim FROM ({ORACLES["cosine_topk_brute"]})
  ORDER BY cos_sim DESC, vec_id LIMIT {K}
), bbest AS (
  SELECT MAX(cos_sim) AS bc FROM brute
), cand AS (
{methods_sql}
), hits AS (
  SELECT c.method,
         COUNT(b.vec_id) AS n_hits,
         MAX(c.cos_sim) AS best_cos
  FROM cand c LEFT JOIN brute b ON c.vec_id = b.vec_id
  GROUP BY c.method
)
SELECT method, n_hits,
       {quant_sql(f"CAST(n_hits AS DOUBLE) / {K}", 6)} AS recall_at_{K},
       {quant_sql("bc - best_cos", 6)} AS cos_regret
FROM hits, bbest
ORDER BY method
"""


@register("ann_recall_audit", oracle=_oracle())
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 and cosine regret of each ANN method vs exact brute
    force for query vec 0 — the per-method quality numbers an ANN
    deployment alerts on (rising regret means the index layout no
    longer matches the data distribution: retrain centroids, add
    planes, probe more buckets)."""
    from hadoop_cs4225_spark.operators.similarity import (
        _brute_topk_frame,
        audit_method_frames,
    )

    brute = F.broadcast(
        # shared memoized ground truth (one brute scan per session for
        # all audit/fusion composers — VERDICT r10 task 4)
        _brute_topk_frame(spark, sf_dir)
        # explicit re-ORDER before the tighter limit (see oracle note)
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(K)
        .select(F.col("vec_id").alias("bv"), F.col("cos_sim").alias("bcos"))
    )
    bbest = F.broadcast(brute.agg(F.max("bcos").alias("bc")))
    # memoized 5-row method results, shared with ann_ndcg_audit (the
    # _brute_topk_frame discipline — see similarity.AUDIT_METHODS)
    cand: DataFrame | None = None
    for label, frame in sorted(audit_method_frames(spark, sf_dir).items()):
        part = frame.select(
            F.lit(label).alias("method"), "vec_id", "cos_sim"
        )
        cand = part if cand is None else cand.unionByName(part)
    hits = (
        cand.join(brute, F.col("vec_id") == F.col("bv"), "left")
        .groupBy("method")
        .agg(
            F.count("bv").alias("n_hits"),
            F.max("cos_sim").alias("best_cos"),
        )
    )
    return (
        hits.crossJoin(bbest)
        .select(
            "method",
            "n_hits",
            quant(F.col("n_hits").cast("double") / K, 6).alias(f"recall_at_{K}"),
            quant(F.col("bc") - F.col("best_cos"), 6).alias("cos_regret"),
        )
        .orderBy("method")
    )
