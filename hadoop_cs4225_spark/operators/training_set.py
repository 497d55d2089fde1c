"""End-to-end corpus-to-training-set pipeline composition.

Every stage of the LLM-data curation pipeline exists in this repo as a
registered query — near-dup canonical keep (``dedup.py``), the quality
gate funnel (``text_analysis.py``), benchmark decontamination
(``pipeline_ops.py``), per-source domain capping (``sampling.py``) and
sequence packing (``packing.py``). This module chains them into the ONE
query a real curation pipeline runs nightly: how many documents each
source contributes at every stage, and what the final packed training
set looks like.

Composition discipline (the ``health.py`` model): the Spark side calls
the SHARED internal helpers of each stage — ``dedup._cluster_labels``
(the memoized label-propagation fixpoint, computed once per session
however many consumers run), the funnel's gate literals, the
decontamination probe rule, ``sampling.capped_keep`` (the bounded-
bucket exact cap) and the concat-and-chunk cut rule — and the oracle embeds
the same shared SQL fragments (``_lsh_pairs_cte``, ``_TOKS_SQL``,
``_SHINGLES_SQL``, the seeded cap hash). The composed query can
therefore never drift from its constituents: a semantic change to any
stage changes both engines here too.

Stage semantics (per document, cumulative AND — a doc must survive
every earlier stage to be counted at a later one):

1. **dedup**: drop non-canonical members of near-duplicate clusters
   (keeper = longest ``n_chars``, ``doc_id`` tie — exactly
   ``dedup_canonical_keep``'s decision).
2. **quality**: the funnel's four gates (``n_chars >= 100``,
   ``n_toks >= 20``, distinct-token diversity ``>= 0.4``, stopword
   ratio ``<= 0.09``).
3. **decontamination**: drop the eval-probe docs themselves
   (``doc_id % PROBE_MOD == 0``) and any doc whose distinct-3-gram
   overlap fraction with the probe set exceeds ``DECON_MAX``.
4. **cap**: at most ``TRAIN_CAP_K`` docs per source by deterministic
   seeded-hash rank (mixture construction; reproducible).
5. **pack**: concat-and-chunk survivors per source in ``doc_id`` order
   into ``TRAIN_PACK_BUDGET``-token context windows.

100 TB posture: one tokenize scan feeds the quality features AND the
shingle stream; the dedup labels come from the capped, banded LSH loop
(shared memo — zero extra LSH work when the dedup family already ran);
decontamination is one shuffle-join keyed on the shingle string; the
cap never buffers a whole source (bounded-bucket windows); packing is
one partitioned cumulative-sum window. No stage collects to the
driver, no window is partition-less, no join lacks a small side or a
key.

No reference analogue (reference = two MapReduce jobs; see
``/root/reference/src/main/java`` TopkCommonWords.java:112 for its
whole surface) — this extends the driver-mandated LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.hashing import hash60_seeded_sql
from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.operators.dedup import (
    _SHINGLES_SQL,
    _TOKS_SQL,
    _cluster_labels,
    _lsh_pairs_cte,
    _shingles,
    _toks,
)
from hadoop_cs4225_spark.operators.pipeline_ops import _PROBE_MOD
from hadoop_cs4225_spark.operators.sampling import _CAP_SEED, capped_keep
from hadoop_cs4225_spark.operators.text_analysis import _SW_ARR, QUALITY_STOPWORDS
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import session_memo
from hadoop_cs4225_spark.sources.tables import load_table

#: Decontamination drop threshold: a doc whose distinct-3-gram overlap
#: fraction with the eval probe set exceeds this is dropped (the
#: registered ``decontamination_overlap`` query REPORTS the same
#: fraction; this is the decision its report feeds). Quantized at 4dp
#: before the comparison in both engines so a last-ulp division
#: disagreement cannot flip a doc across the boundary.
DECON_MAX = 0.2

#: Pipeline-profile cap and context budget. These are deliberately NOT
#: the standalone stages' constants (``sampling.DOC_CAP_K`` = 18,
#: ``packing.PACK_BUDGET`` = 2048): after the quality gates the
#: per-source survivor count at sf0.01 is ~8-14, so an 18-doc cap
#: would never bind and an 18-doc-capped stream would always fit one
#: 2048-token window — leaving the cap boundary and the bin-cut /
#: straddle logic VACUOUS in the driver's correctness row (the
#: events_zorder_scan lesson). 10 and 256 make the cap bind for some
#: sources and not others, and every source pack into multiple windows
#: with straddles, at every test SF. The MECHANISMS stay the shared
#: ones (``capped_keep``'s bounded buckets, the same seeded hash, the
#: same concat-and-chunk cut rule).
TRAIN_CAP_K = 10
TRAIN_PACK_BUDGET = 256


def _pipeline_ctes() -> str:
    """The shared oracle CTE chain through ``placed`` (per-doc stage
    flags -> cap -> cumulative token offsets). Both the report oracle
    (``corpus_to_training_set``) and the shard read-back oracle
    (``training_set_shards``) embed this verbatim, so the two can never
    drift from each other or from the constituent stages."""
    cap_hash = hash60_seeded_sql("CAST(doc_id AS VARCHAR)", _CAP_SEED)
    ov_frac = quant_sql("CAST(d.n_ov AS DOUBLE) / d.n_sh", 4)
    return f"""{_lsh_pairs_cte()},
edges AS (
  SELECT d1 AS a, d2 AS b FROM verified
  UNION ALL
  SELECT d2 AS a, d1 AS b FROM verified
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
),
labs AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node),
keepers AS (
  SELECT cluster_id, doc_id AS keeper_id FROM (
    SELECT l.cluster_id, l.doc_id,
           ROW_NUMBER() OVER (
             PARTITION BY l.cluster_id ORDER BY d.n_chars DESC, l.doc_id
           ) AS rn
    FROM labs l JOIN documents d ON l.doc_id = d.doc_id) z
  WHERE rn = 1
),
feat AS (
  SELECT doc_id, source, n_chars,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity,
         CAST(len(list_filter(toks, x -> x IN ({_SW_ARR}))) AS DOUBLE)
           / len(toks) AS sw_ratio
  FROM (SELECT doc_id, source, n_chars, {_TOKS_SQL} AS toks FROM documents) t
),
sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t0
  WHERE len(toks) >= 3
),
probe AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_PROBE_MOD} = 0),
decon AS (
  SELECT c.doc_id, COUNT(*) AS n_sh, COUNT(p.s) AS n_ov
  FROM sh c LEFT JOIN probe p ON c.s = p.s
  WHERE c.doc_id % {_PROBE_MOD} <> 0
  GROUP BY c.doc_id
),
flags AS (
  SELECT f.doc_id, f.source, f.n_toks,
         (l.doc_id IS NULL OR kp.keeper_id = f.doc_id) AS keep1,
         (l.doc_id IS NULL OR kp.keeper_id = f.doc_id)
           AND f.n_chars >= 100 AND f.n_toks >= 20
           AND f.diversity >= 0.4 AND f.sw_ratio <= 0.09 AS keep2,
         (l.doc_id IS NULL OR kp.keeper_id = f.doc_id)
           AND f.n_chars >= 100 AND f.n_toks >= 20
           AND f.diversity >= 0.4 AND f.sw_ratio <= 0.09
           AND f.doc_id % {_PROBE_MOD} <> 0
           AND COALESCE({ov_frac}, 0.0) <= {DECON_MAX} AS keep3
  FROM feat f
  LEFT JOIN labs l ON f.doc_id = l.doc_id
  LEFT JOIN keepers kp ON l.cluster_id = kp.cluster_id
  LEFT JOIN decon d ON f.doc_id = d.doc_id
),
ranked AS (
  SELECT source, doc_id, n_toks,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY {cap_hash}, doc_id
         ) AS rk
  FROM flags WHERE keep3
),
placed AS (
  SELECT source, doc_id, n_toks,
         CAST(COALESCE(SUM(n_toks) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS off
  FROM ranked WHERE rk <= {TRAIN_CAP_K}
)"""


def _oracle() -> str:
    return f"""
WITH RECURSIVE {_pipeline_ctes()},
pack AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT off // {TRAIN_PACK_BUDGET}) AS BIGINT) AS n_bins,
         CAST(SUM(CASE WHEN (off + n_toks - 1) // {TRAIN_PACK_BUDGET}
                         > off // {TRAIN_PACK_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_straddle
  FROM placed GROUP BY source
),
funnel AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_dedup,
         CAST(SUM(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_quality,
         CAST(SUM(CASE WHEN keep3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_decon
  FROM flags GROUP BY source
)
SELECT f.source, f.n_total, f.n_after_dedup, f.n_after_quality,
       f.n_after_decon,
       COALESCE(p.n_kept, 0) AS n_kept,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.n_bins, 0) AS n_bins,
       COALESCE(p.n_straddle, 0) AS n_straddle
FROM funnel f LEFT JOIN pack p ON f.source = p.source
ORDER BY f.source
"""


@session_memo("train_stage_flags", sources=("documents",), upstream=("cluster_labels",))
def _stage_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_toks, keep1, keep2, keep3) — the cumulative
    stage-survival flags shared by the report query and the shard
    materializer (see module docstring for stage semantics).

    Session-memoized + localCheckpointed (r13, the ``_order_ship_durs``
    discipline): the report query, the shard materializer, and the
    health scorecard's composition each re-ran the full tokenize +
    cluster-keeper + decon-overlap chain on identical input; one
    doc-bounded checkpoint now feeds them all. Oracles keep the inline
    CTE chain (build and probe are one logical definition)."""
    return _stage_flags_build(spark, sf_dir).localCheckpoint(eager=False)


def _stage_flags_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id", "source", "n_chars", _toks().alias("toks")
    ).select(
        "doc_id",
        "source",
        "n_chars",
        "toks",
        F.size("toks").cast("long").alias("n_toks"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias(
            "diversity"
        ),
        (
            F.size(
                F.filter("toks", lambda x: x.isin(*QUALITY_STOPWORDS))
            ).cast("double")
            / F.size("toks")
        ).alias("sw_ratio"),
    )

    # stage 1: canonical-keep decision over the shared memoized labels
    labels = _cluster_labels(spark, sf_dir).select(
        "doc_id", F.col("lab").alias("cluster_id")
    )
    keepers = (
        labels.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias("keeper_id")
        )
    )
    in_cluster = labels.join(F.broadcast(keepers), "cluster_id").select(
        "doc_id", "keeper_id"
    )

    # stage 3 inputs: distinct-shingle overlap with the probe set (one
    # shuffle-join on the shingle string; same frame feeds nothing else
    # here, so no memo — the decontamination_overlap query shares the
    # RULE, not a materialization)
    sh = (
        feat.where(F.size("toks") >= 3)
        .select("doc_id", F.explode(F.array_distinct(_shingles())).alias("s"))
    )
    probe = (
        sh.where(F.col("doc_id") % _PROBE_MOD == 0).select("s").distinct()
    )
    decon = (
        sh.where(F.col("doc_id") % _PROBE_MOD != 0)
        .join(probe.withColumn("hit", F.lit(1)), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("hit").alias("n_ov"),
        )
    )

    keep1 = F.col("keeper_id").isNull() | (F.col("keeper_id") == F.col("doc_id"))
    keep2 = (
        keep1
        & (F.col("n_chars") >= 100)
        & (F.col("n_toks") >= 20)
        & (F.col("diversity") >= 0.4)
        & (F.col("sw_ratio") <= 0.09)
    )
    keep3 = (
        keep2
        & (F.col("doc_id") % _PROBE_MOD != 0)
        & (
            F.coalesce(
                quant(F.col("n_ov").cast("double") / F.col("n_sh"), 4),
                F.lit(0.0),
            )
            <= DECON_MAX
        )
    )
    return (
        feat.drop("toks")
        .join(in_cluster, "doc_id", "left")
        .join(decon, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_toks",
            keep1.alias("keep1"),
            keep2.alias("keep2"),
            keep3.alias("keep3"),
        )
    )


def _placed(flags: DataFrame) -> DataFrame:
    """Stages 4+5 over the stage-3 survivors: exact per-source cap
    (bounded-bucket, never a whole-source window), then each kept doc's
    cumulative token offset in its source's concat-and-chunk stream."""
    kept = capped_keep(
        flags.where("keep3").select("source", "doc_id", "n_toks"), TRAIN_CAP_K
    )
    w_off = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return kept.withColumn(
        "off", F.coalesce(F.sum("n_toks").over(w_off), F.lit(0)).cast("long")
    )


@register("corpus_to_training_set", oracle=_oracle())
def corpus_to_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-set construction report: documents surviving
    dedup -> quality -> decontamination -> per-source cap, and the
    packed context windows the survivors fill. See the module docstring
    for stage semantics and the 100 TB plan shape."""
    flags = _stage_flags(spark, sf_dir)
    placed = _placed(flags)
    first_bin = F.expr(f"off div {TRAIN_PACK_BUDGET}")
    last_bin = F.expr(f"(off + n_toks - 1) div {TRAIN_PACK_BUDGET}")
    pack = placed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.countDistinct(first_bin).cast("long").alias("n_bins"),
        F.sum((last_bin > first_bin).cast("long")).cast("long").alias("n_straddle"),
    )

    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    funnel = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        cnt("keep1").alias("n_after_dedup"),
        cnt("keep2").alias("n_after_quality"),
        cnt("keep3").alias("n_after_decon"),
    )
    zero = F.lit(0).cast("long")
    return (
        funnel.join(pack, "source", "left")
        .select(
            "source",
            "n_total",
            "n_after_dedup",
            "n_after_quality",
            "n_after_decon",
            F.coalesce("n_kept", zero).alias("n_kept"),
            F.coalesce("n_tokens", zero).alias("n_tokens"),
            F.coalesce("n_bins", zero).alias("n_bins"),
            F.coalesce("n_straddle", zero).alias("n_straddle"),
        )
        .orderBy("source")
    )


def materialize_training_set(
    spark: SparkSession, sf_dir: str, out_dir: str, mode: str = "error"
) -> DataFrame:
    """Write the packed training set as the actual artifact a trainer
    reads: one parquet row per kept document carrying its context
    window assignment (``window_id`` = which TRAIN_PACK_BUDGET-token
    window, ``window_pos`` = the doc's first-token offset inside it),
    laid out ``partitionBy(source)`` so per-source mixture readers
    prune at the directory level. Returns the frame read back from
    ``out_dir``.

    Default ``mode='error'`` keeps the reference TextOutputFormat
    exists-check contract (SURVEY.md §2.1 O12): a nightly re-run must
    not silently clobber yesterday's shards. Plan: the same pipeline as
    ``corpus_to_training_set`` up to the offsets, one
    ``repartition(source)`` so each source writes contiguous files, no
    extra shuffles.
    """
    placed = _placed(_stage_flags(spark, sf_dir))
    shards = placed.select(
        "doc_id",
        "n_toks",
        "off",
        F.expr(f"off div {TRAIN_PACK_BUDGET}").cast("long").alias("window_id"),
        (F.col("off") % TRAIN_PACK_BUDGET).cast("long").alias("window_pos"),
        "source",
    )
    (
        shards.repartition("source")
        .write.mode(mode)
        .partitionBy("source")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir)


def _shards_oracle() -> str:
    return f"""
WITH RECURSIVE {_pipeline_ctes()}
SELECT doc_id, n_toks, off,
       CAST(off // {TRAIN_PACK_BUDGET} AS BIGINT) AS window_id,
       CAST(off % {TRAIN_PACK_BUDGET} AS BIGINT) AS window_pos,
       source
FROM placed ORDER BY doc_id
"""


#: Temp shard dirs created by ``training_set_shards`` this process,
#: removed at interpreter exit (each call writes a fresh dir so the
#: reference's mode='error' exists-check contract holds per write).
_SHARD_DIRS: list[str] = []


def _cleanup_shard_dirs() -> None:
    import shutil

    for d in _SHARD_DIRS:
        shutil.rmtree(d, ignore_errors=True)


@register("training_set_shards", oracle=_shards_oracle())
def training_set_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's actual deliverable under the correctness gate:
    run ``materialize_training_set`` (write the per-source-partitioned
    parquet shards), then READ THE SHARDS BACK and return every kept
    document's window placement. The oracle recomputes the placement
    from the raw tables, so a wrong write path — lost rows, a
    partition-column type flip, a window_id/window_pos drift between
    the writer and the report — fails the hash, not just a unit test
    (the binaryfile_docs_scan round-trip discipline).

    Bench-wise this measures write+read end-to-end: one pipeline pass,
    one ``repartition(source)`` shuffle, the parquet commit, one
    read-back scan."""
    import atexit
    import tempfile

    base = tempfile.mkdtemp(prefix="hcs4225_shards_")
    if not _SHARD_DIRS:
        atexit.register(_cleanup_shard_dirs)
    _SHARD_DIRS.append(base)
    out = f"{base}/shards"
    shards = materialize_training_set(spark, sf_dir, out)
    return shards.select(
        "doc_id", "n_toks", "off", "window_id", "window_pos", "source"
    ).orderBy("doc_id")
