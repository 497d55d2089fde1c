"""Deduplication operators over ``documents`` (driver-mandated, M4).

Four families a training-data pipeline needs:

- exact dedup — hash-groupBy on (normalized) content;
- MinHash — per-doc signatures over 3-token shingles + LSH banding for
  candidate generation, then exact Jaccard verification;
- SimHash — 16-bit per-doc fingerprint from token-hash bit votes;
- n-gram Jaccard — exact token-set similarity join (the brute-force
  baseline the LSH path approximates).

Scale story: signatures/fingerprints are per-row array math (map-only).
LSH candidate generation is an equi-join on (band, band-hash) — i.e. a
shuffle keyed on buckets, which is exactly how it distributes at 100 TB
(no all-pairs comparison; AQE splits hot buckets). Exact verification
only touches candidate pairs. All hashes are the cross-engine
:func:`hash60` with explicit seeds ⇒ DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.hashing import (
    hash60,
    hash60_sql,
)
from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.operators.wordcount import TOKEN_DELIM_RE
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import derived_layout, read_derived, session_memo
from hadoop_cs4225_spark.sources.tables import load_table

_TOKS_SQL = "list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'), x -> x <> '')"

#: Number of MinHash permutations (1-row bands → 4 LSH bands).
N_PERMS = 4

#: Permutation combiner modulus (2^60, the hash60 value range).
_PERM_MOD = 1 << 60

#: SimHash width in bits.
SIMHASH_BITS = 16

#: LSH bucket-size cap: a (band, hash) bucket of B docs fans out
#: B(B-1)/2 candidate verifications, and bucket sizes GROW with corpus
#: size wherever boilerplate shingles dominate a document's minimum
#: hash — measured super-linear (exp ~1.9) on the amplified
#: scale-probe corpora before the cap. Buckets above the cap are
#: dropped from PAIRWISE candidate generation: at 3-shingle
#: granularity a >32-doc agreement is boilerplate collision, not
#: near-duplication (true giant duplicate groups surface through the
#: surviving band of any pair, and belong to cluster-level treatment
#: anyway). Encoded identically in the DuckDB oracles, so parity holds
#: at every scale whether or not the cap binds; it never binds at the
#: test SFs (max observed bucket = 21 at 5k docs).
LSH_BUCKET_CAP = 32

#: Sources whose numeric suffix is >= this play the "new crawl" batch
#: in the cross-corpus checks (src16..19 vs the src0..15 "existing
#: train corpus"). Defined here (the dedup layer) so the near-dup
#: ingest gate's oracle can interpolate it; pipeline_ops re-exports it
#: for the decon/OOV family.
NEWCRAWL_MIN_SRC = 16

#: The "source is literally srcN" suffix parse, defined ONCE next to
#: the threshold it feeds (every new-crawl operator uses these; a
#: naming-convention change moves one SQL fragment and one Column).
SRC_NO_SQL = "CAST(substr(source, 4) AS INT)"


def src_no_col() -> Column:
    """Spark twin of :data:`SRC_NO_SQL`."""
    return F.expr("CAST(substring(source, 4) AS INT)")


def _toks() -> Column:
    return F.filter(F.split(F.col("text"), TOKEN_DELIM_RE), lambda x: x != "")


def _shingles(toks_col: str = "toks") -> Column:
    """3-token shingle strings from a token-array column (per-row)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks_col) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks_col, i + 1),
            F.element_at(toks_col, i + 2),
            F.element_at(toks_col, i + 3),
        ),
    )


_SHINGLES_SQL = (
    "list_transform(range(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
)


@register(
    "dedup_exact_summary",
    oracle="""
SELECT lang,
       COUNT(*)                                   AS n_docs,
       COUNT(DISTINCT text)                       AS n_distinct_texts,
       COUNT(DISTINCT array_to_string(
           list_sort(list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'), x -> x <> '')),
           ' '))                                  AS n_distinct_bags
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + bag-of-words dedup cardinality per language.

    ``n_distinct_bags`` counts docs distinct up to token reordering —
    the cheap canonicalization step before hashing at scale (dedup key =
    hash of the sorted token bag, grouped in one shuffle).
    """
    docs = load_table(spark, sf_dir, "documents")
    bag = F.array_join(F.array_sort(_toks()), " ")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("text").alias("n_distinct_texts"),
            F.countDistinct(bag).alias("n_distinct_bags"),
        )
        .orderBy("lang")
    )


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """``(doc_id, sh)`` with ``sh`` = the DISTINCT 3-token shingle set.

    MUST be materialized (persist/localCheckpoint) before exploding
    ``sh`` downstream: a generator over an aliased computed array gets
    the building lambda collapsed INTO the generate operator and
    re-evaluated per emitted element — measured 10.2s vs 0.6s at sf0.1.
    Fuse ``explode(array_distinct(...))`` into one select (see
    :func:`minhash_signatures`) when no reuse is needed.
    """
    return (
        docs.select("doc_id", _toks().alias("toks"))
        .where(F.size("toks") >= 3)
        .select("doc_id", F.array_distinct(_shingles()).alias("sh"))
    )


def _minhash_sigs_from_exploded(sh_rows: DataFrame) -> DataFrame:
    """Per-doc MinHash signatures from ``(doc_id, s)`` shingle rows: ONE
    md5 per distinct shingle.

    md5 dominates MinHash cost. Explode shingles, hash each exactly once,
    split the 128-bit digest into two 60-bit halves (h1, h2), and derive
    every permutation with the standard combiner
    ``perm_i = (h1 + i*h2) mod 2^60`` inside a map-side-combined
    ``groupBy(doc_id).min(...)``. (Computing the N mins as N array
    expressions over a shared hash array looks cheaper but re-inlines
    the md5 transform per output column — measured 2x slower.)

    MIN is duplicate-insensitive, so signatures over the distinct set
    equal signatures over raw shingles — which lets the LSH pipeline
    share ONE tokenize+shingle pass between signature generation and
    exact-Jaccard verification instead of scanning ``documents`` twice.

    This is also the 100 TB shape: shingling is a flatMap, the signature
    is a partial-aggregated shuffle keyed on doc_id.
    """
    hx = sh_rows.select("doc_id", F.md5("s").alias("x"))
    pairs = hx.select(
        "doc_id",
        F.conv(F.substring("x", 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("x", 17, 15), 16, 10).cast("long").alias("h2"),
    )
    return pairs.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(_PERM_MOD)).alias(
                f"mh{i}"
            )
            for i in range(N_PERMS)
        ]
    )


def _minhash_sigs_sql() -> str:
    mins = ",\n         ".join(
        f"MIN((h1 + {i} * h2) % {_PERM_MOD}) AS mh{i}" for i in range(N_PERMS)
    )
    return f"""
  SELECT doc_id, {mins}
  FROM (
    SELECT doc_id,
           ('0x' || substr(x, 1, 15))::BIGINT AS h1,
           ('0x' || substr(x, 17, 15))::BIGINT AS h2
    FROM (
      SELECT doc_id, md5(unnest({_SHINGLES_SQL})) AS x
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t0
      WHERE len(toks) >= 3
    ) t1
  ) t2
  GROUP BY doc_id
"""


def signature_frame(docs: DataFrame) -> DataFrame:
    """MinHash signatures ``(doc_id, mh0..mh{N_PERMS - 1})`` for ANY
    frame with (doc_id, text) columns — the reusable core of
    :func:`minhash_signatures`, also consumed per micro-batch by
    ``streaming.streams.run_incremental_corpus_dedup``. Docs with fewer
    than 3 tokens carry no shingle and are excluded (they cannot
    minhash-collide)."""
    d0 = docs.select("doc_id", _toks().alias("toks")).where(F.size("toks") >= 3)
    # One fused select: explode(array_distinct(shingles)) — aliasing the
    # array first and exploding in a second select re-runs the shingle
    # lambda per element (measured 10x).
    sh_rows = d0.select(
        "doc_id", F.explode(F.array_distinct(_shingles())).alias("s")
    )
    return _minhash_sigs_from_exploded(sh_rows)


@register(
    "minhash_signatures",
    oracle=f"""
SELECT doc_id, mh0, mh1, mh2, mh3
FROM ({_minhash_sigs_sql()}) s
ORDER BY doc_id
""",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (4 permutations over 3-token shingles).

    r13: reads the WRITTEN signature index (``ensure_minhash_sig_index``
    — built from the same single definition,
    ``_minhash_sigs_from_exploded`` over the shingle-set layout, and
    definition-fingerprint-guarded), so the md5-per-shingle map is paid
    once per corpus snapshot instead of per run — the
    ``doc_winnowing_fingerprints`` / ``simhash_band_dup_pairs``
    precedent. The DuckDB oracle still recomputes inline from
    ``documents.text``, so the parity check now VERIFIES the index
    content against the from-scratch definition every round."""
    return _sig_index_frame(spark, sf_dir).orderBy("doc_id")


@register(
    "minhash_lsh_dup_pairs",
    oracle=f"""
WITH sigs AS ({_minhash_sigs_sql()}
), shingle_sets AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM
    (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) q
  WHERE len(toks) >= 3
), bands AS (
  SELECT doc_id, b.band, CASE b.band
           WHEN 0 THEN mh0 WHEN 1 THEN mh1 WHEN 2 THEN mh2 ELSE mh3 END AS bh
  FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
), kept AS (
  SELECT doc_id, band, bh FROM (
    SELECT doc_id, band, bh, COUNT(*) OVER (PARTITION BY band, bh) AS bn
    FROM bands
  ) z WHERE bn <= {LSH_BUCKET_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
  FROM kept a JOIN kept c ON a.band = c.band AND a.bh = c.bh
  WHERE a.doc_id < c.doc_id
)
SELECT d1, d2,
       {quant_sql("CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / "
                  "(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))", 6)}
         AS jaccard
FROM cand
JOIN shingle_sets s1 ON s1.doc_id = d1
JOIN shingle_sets s2 ON s2.doc_id = d2
WHERE CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) /
      (len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))) >= 0.05
ORDER BY jaccard DESC, d1, d2
""",
)
def minhash_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline: band → bucket-join → exact verify.

    4 bands of 1 signature row each; candidates = pairs agreeing on any
    band. Verification computes exact shingle-set Jaccard only for
    candidates. The band join keys the shuffle on (band, hash) buckets —
    the 100 TB-safe plan (never all-pairs).

    The verified pair set is the ``lsh_pairs`` session memo:
    ``dedup_clusters`` and ``dedup_canonical_keep`` consume it
    downstream, and the memo means the LSH pipeline runs once per
    (session, sf) however many of the three queries run.
    """
    return _verified_pairs(spark, sf_dir).orderBy(F.desc("jaccard"), "d1", "d2")


@derived_layout(
    "documents_minhash_sigs",
    config=f"n_perms={N_PERMS};perm_mod={_PERM_MOD}",
    upstream=("documents_shingle_postings",),
)
def ensure_minhash_sig_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The MinHash SIGNATURE INDEX as a written table
    (``.derived/<sf>/documents_minhash_sigs``): one row per eligible
    doc, columns ``doc_id, mh0..mh{N_PERMS-1}`` — the dedup twin of
    :func:`pq.ensure_ivf_pq_index` (VERDICT r10 task 6). At 100 TB the
    signature index is the artifact a dedup deployment writes once per
    corpus snapshot (N_PERMS longs per doc, ~1e-4 of corpus bytes) and
    every LSH probe/band query reads, instead of re-hashing every
    shingle per session; incremental ingest appends to it
    (``streaming.run_incremental_corpus_dedup`` maintains the same
    signature schema per micro-batch). Its fingerprint covers N_PERMS
    and the permutation modulus, plus the shingle definition through
    the upstream fold (ADVICE r11/r12): otherwise the Spark side would
    silently consume stale signatures while the DuckDB oracle
    recomputes inline, a latent parity divergence.

    Built FROM the written shingle postings (one tokenize pass per
    corpus snapshot serves both indexes); MIN is duplicate-insensitive
    so signatures over the distinct set equal signature_frame()'s —
    pinned in tests."""
    _minhash_sigs_from_exploded(shingle_postings_frame(spark, sf_dir)).write.parquet(
        path
    )


@derived_layout(
    "documents_shingle_sets",
    config=f"shingle=3;min_toks=3;distinct=1;delim={TOKEN_DELIM_RE}",
)
def ensure_shingle_sets(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The distinct 3-token SHINGLE SET per eligible doc as
    a written layout (``.derived/<sf>/documents_shingle_sets``: one row
    per doc, ``doc_id, sh array<string>``) — the postings artifact of
    the whole set-similarity family (VERDICT r11 task 4).

    Five registered queries (``jaccard_prefix_filter_pairs``,
    ``shingle_containment_pairs``, ``shingle_idf_similarity_topk``,
    ``decontamination_overlap``, ``eval_ngram_novelty``) plus the LSH
    verify stage each re-derived this set from ``documents.text`` per
    run — a regex tokenize + shingle transform + array_distinct over
    the full corpus, the family's dominant cost. At 100 TB the shingle
    postings are written once per corpus snapshot (the inverted-index
    build every set-similarity deployment runs) and every join reads
    them; storing the SET form (array per doc) serves both access
    shapes map-side — ``explode`` for postings joins, the array itself
    for in-row verify intersections — with zero extra shuffle.

    Its fingerprint covers the shingle width, tokenizer regex and
    eligibility. The DuckDB oracles keep recomputing shingles inline:
    index build and probe are one logical definition, so parity holds
    by construction.
    """
    _shingle_sets(load_table(spark, sf_dir, "documents")).write.parquet(path)


def shingle_sets_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized shingle-set layout as a DataFrame (ensure +
    read): ``(doc_id, sh array<string>)``, one row per eligible doc."""
    return read_derived(spark, ensure_shingle_sets(spark, sf_dir))


@derived_layout(
    "documents_shingle_postings",
    config="stats=df,len,rn;rank=df,s",
    upstream=("documents_shingle_sets",),
)
def ensure_shingle_postings(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The statistics-bearing INVERTED INDEX over the
    shingle sets (``.derived/<sf>/documents_shingle_postings``): one
    row per (doc, distinct shingle) carrying

    - ``df``  — the shingle's global document frequency,
    - ``len`` — the doc's distinct-shingle count,
    - ``rn``  — the shingle's rarity rank within its doc
      (``row_number`` over ``(df, s)`` — the PPJoin prefix order).

    The family's remaining per-query cost after the shingle-set layout
    landed was NOT tokenization but the df-count shuffle + postings⋈df
    join (+ the per-doc rank window for the prefix filter) that every
    set-similarity query re-ran on identical input. df/len/rn are pure
    corpus statistics, so they belong IN the written index — exactly
    what Lucene/PPJoin index builds store — turning the df-band prune
    (containment), the idf weight (idf cosine), and the prefix filter
    (Jaccard join) into map-side predicates over one written table.
    Consumers that only need ``(doc_id, s)`` read the same layout
    column-pruned. Built FROM the shingle-set layout (no second
    tokenize pass).
    """
    sh = shingle_sets_frame(spark, sf_dir).select(
        "doc_id", F.size("sh").cast("long").alias("len"),
        F.explode("sh").alias("s"),
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    wrank = Window.partitionBy("doc_id").orderBy("df", "s")
    (
        sh.join(dfreq, "s")
        .select(
            "doc_id", "s", "df", "len",
            F.row_number().over(wrank).alias("rn"),
        )
        .write.parquet(path)
    )


def shingle_postings_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, s)`` postings rows from the written inverted index —
    column-pruned scan, no re-tokenization, no stats read."""
    return read_derived(spark, ensure_shingle_postings(spark, sf_dir)).select(
        "doc_id", "s"
    )


def shingle_postings_stats_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ``(doc_id, s, df, len, rn)`` rows from the written inverted
    index (see :func:`ensure_shingle_postings`)."""
    return read_derived(spark, ensure_shingle_postings(spark, sf_dir))


#: Prefix-filtered set-similarity join (PPJoin-style): Jaccard
#: threshold 3/5, and a hard df cap on candidate-generating prefix
#: tokens — the LSH_BUCKET_CAP discipline applied to the prefix
#: index: prefix tokens are each document's RAREST tokens, so the cap
#: only binds under pathological boilerplate; it is encoded in BOTH
#: engines, making it part of the operator's semantics rather than a
#: Spark-side shortcut.
_PPJ_T_NUM, _PPJ_T_DEN = 3, 5
_PPJ_DF_CAP = 64


@derived_layout(
    "documents_shingle_prefix",
    # r13: rn rides along for the positional filter
    config=f"prefix=t{_PPJ_T_NUM}/{_PPJ_T_DEN};dfcap={_PPJ_DF_CAP};cols=+rn",
    upstream=("documents_shingle_postings",),
)
def ensure_shingle_prefix(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The PRE-TRUNCATED PPJoin prefix slice
    (``.derived/<sf>/documents_shingle_prefix``): only the postings
    rows satisfying ``rn <= len - ceil(t*len) + 1 AND df <= cap`` —
    i.e. exactly the candidate-generating rows of
    ``jaccard_prefix_filter_pairs`` (VERDICT r12 task 4). The prefix
    predicate keeps ~(1-t) of each doc's postings, so the candidate
    equi-join scans ~1/t less input than filtering the full stats
    layout at query time (whose parquet row groups interleave prefix
    and non-prefix rows, defeating row-group skipping). Built FROM the
    stats layout (no recompute); its fingerprint folds in the postings
    fingerprint AND the (t, df-cap) constants, so either definition
    moving rebuilds the slice."""
    p_len = (
        F.col("len")
        - F.expr(f"({_PPJ_T_NUM} * len + {_PPJ_T_DEN} - 1) div {_PPJ_T_DEN}")
        + 1
    )
    (
        shingle_postings_stats_frame(spark, sf_dir)
        .where((F.col("rn") <= p_len) & (F.col("df") <= _PPJ_DF_CAP))
        .select("doc_id", F.col("s").alias("tok"), "len", "rn")
        .write.parquet(path)
    )


def shingle_prefix_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The written PPJoin prefix slice (ensure + read):
    ``(doc_id, tok, len, rn)``."""
    return read_derived(spark, ensure_shingle_prefix(spark, sf_dir))


def _sig_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized signature index as a DataFrame (ensure + read).
    Batch LSH consumers read THIS instead of recomputing signatures —
    the written-index story; the oracle side stays the inline
    ``_minhash_sigs_sql()`` because index build and probe are one
    logical definition."""
    return read_derived(spark, ensure_minhash_sig_index(spark, sf_dir))


@session_memo(
    "lsh_pairs", layouts=("documents_minhash_sigs", "documents_shingle_sets")
)
def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered verified near-dup pairs ``(d1, d2, jaccard)``, the
    session memo the whole LSH family shares: the pipeline feeds cluster
    labels, keep decisions and the audits.

    Signatures come from the MATERIALIZED index
    (:func:`ensure_minhash_sig_index`) and the exact-Jaccard verify
    reads the MATERIALIZED shingle-set layout
    (:func:`ensure_shingle_sets`) — both written once per corpus
    snapshot; no query-time tokenization anywhere in the LSH pipeline
    (VERDICT r11 task 4). The two verify join sides scan the same
    written parquet (column-pruned, no persist needed).
    """
    sigs = _sig_index_frame(spark, sf_dir)
    return _verified_pairs_body(shingle_sets_frame(spark, sf_dir), sigs)


def _verified_pairs_body(d: DataFrame, sig_index: DataFrame) -> DataFrame:
    sigs = sig_index.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), F.col(f"mh{i}").alias("bh"))
                for i in range(N_PERMS)
            ])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    # Bucket cap (see LSH_BUCKET_CAP): one windowed count on the same
    # (band, bh) shuffle key the candidate join needs anyway.
    sigs = (
        sigs.withColumn(
            "bn", F.count(F.lit(1)).over(Window.partitionBy("band", "bh"))
        )
        .where(F.col("bn") <= LSH_BUCKET_CAP)
        .drop("bn")
    )
    a, c = sigs.alias("a"), sigs.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bh") == F.col("c.bh"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("c.doc_id").alias("d2"))
        .distinct()
    )
    # hint("merge"): the written layout's compressed footprint sits
    # under the broadcast threshold, so Catalyst would otherwise build
    # a decompressed hundreds-of-MB hashed relation of the shingle
    # arrays for BOTH verify joins (the jaccard_prefix lesson).
    s1 = d.hint("merge").select(
        F.col("doc_id").alias("d1"), F.col("sh").alias("sh1")
    )
    s2 = d.hint("merge").select(
        F.col("doc_id").alias("d2"), F.col("sh").alias("sh2")
    )
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size("sh1") + F.size("sh2") - F.size(F.array_intersect("sh1", "sh2"))
    jac = inter / union
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .where(jac >= 0.05)
        .select("d1", "d2", quant(jac, 6).alias("jaccard"))
        # Materialize eagerly: the session memo stores it verbatim.
        .localCheckpoint()
    )


@register(
    "weighted_minhash_signatures",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t0
  WHERE len(toks) >= 3
), dfq AS (
  SELECT s, COUNT(*) AS df FROM sh GROUP BY s
), rep AS (
  SELECT sh.doc_id, md5(sh.s || '#' || CAST(g.r AS VARCHAR)) AS x
  FROM sh JOIN dfq ON sh.s = dfq.s,
       LATERAL (SELECT unnest(range(0,
         CASE WHEN dfq.df = 1 THEN 4 WHEN dfq.df <= 3 THEN 2 ELSE 1 END)) AS r) g
), pairs AS (
  SELECT doc_id,
         ('0x' || substr(x, 1, 15))::BIGINT AS h1,
         ('0x' || substr(x, 17, 15))::BIGINT AS h2
  FROM rep
)
SELECT doc_id,
       {", ".join(f"MIN((h1 + {i} * h2) % {_PERM_MOD}) AS wmh{i}" for i in range(N_PERMS))}
FROM pairs
GROUP BY doc_id
ORDER BY doc_id
""",
)
def weighted_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-frequency-WEIGHTED MinHash signatures (CWS by replication).

    Rare shingles carry more signal for near-dup detection than
    boilerplate; the integer-weight consistent-weighted-sampling scheme
    replicates each distinct shingle w(s) times (w = 4 if the shingle
    appears in exactly one doc, 2 if in ≤3 docs, else 1 — an idf-style
    step function in pure integer arithmetic, so both engines agree
    bit-exactly) and MinHashes the expanded multiset. Two docs'
    signatures then collide with probability = *weighted* Jaccard.

    Plan shape at 100 TB: one shuffle keyed on shingle (the df count +
    join), one partial-aggregated shuffle keyed on doc_id (the min per
    permutation) — same skeleton as unweighted MinHash plus the df join,
    all map-side-combined. md5 is computed once per (shingle, replica)
    and split h1/h2 for all permutations (hash60 combiner).
    """
    # df comes stored in the written inverted index (VERDICT r11 task
    # 4) — the weight is a map-side expression, no df aggregate/join.
    sh = shingle_postings_stats_frame(spark, sf_dir)
    w = (
        F.when(F.col("df") == 1, F.lit(4))
        .when(F.col("df") <= 3, F.lit(2))
        .otherwise(F.lit(1))
    )
    rep = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), w - 1)).alias("r"),
        F.col("s"),
    )
    hx = rep.select("doc_id", F.md5(F.concat_ws("#", "s", "r")).alias("x"))
    pairs = hx.select(
        "doc_id",
        F.conv(F.substring("x", 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("x", 17, 15), 16, 10).cast("long").alias("h2"),
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            *[
                F.min(
                    (F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(_PERM_MOD)
                ).alias(f"wmh{i}")
                for i in range(N_PERMS)
            ]
        )
        .orderBy("doc_id")
    )


def _simhash_from_votes() -> Column:
    """Assemble the 16-bit fingerprint from per-bit vote counts o0..o15
    and the token count n (empty docs: votes are NULL → bit 0)."""
    fp = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"o{b}") * 2 > F.col("n"), F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = fp + bit * F.lit(1 << b).cast("long")
    return fp


def _simhash_fp_sql() -> str:
    terms = []
    for b in range(SIMHASH_BITS):
        ones = f"len(list_filter(hs, h -> (h >> {b}) & 1 = 1))"
        terms.append(f"(CASE WHEN {ones} * 2 > len(hs) THEN {1 << b} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "simhash_fingerprints",
    oracle=f"""
SELECT doc_id, {_simhash_fp_sql()} AS simhash
FROM (
  SELECT doc_id,
         list_transform({_TOKS_SQL}, x -> {hash60_sql("x")}) AS hs
  FROM documents
) t
ORDER BY doc_id
""",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per doc: majority vote per bit over token hashes.

    Near-dup docs differ in few bits (compare via hamming distance =
    bit_count(xor)).

    One pass over the token hashes: explode + groupBy(doc_id) with 16
    conditional SUM votes — Catalyst does NOT common-subexpression-share
    one array across N projected columns, so the per-column
    ``list_filter`` formulation re-walked the array 16× per row
    (measured ~2× slower; same pitfall as the round-1 MinHash fix).
    The explode shuffles partial per-bit sums keyed on doc_id — a
    map-side-combined agg, still scale-linear.
    """
    docs = load_table(spark, sf_dir, "documents")
    hs = F.transform(_toks(), lambda x: hash60(x))
    votes = [
        F.sum(F.shiftright("h", b).bitwiseAND(1)).alias(f"o{b}")
        for b in range(SIMHASH_BITS)
    ]
    return (
        docs.select("doc_id", F.explode_outer(hs).alias("h"))
        .groupBy("doc_id")
        .agg(F.count("h").alias("n"), *votes)
        .select("doc_id", _simhash_from_votes().alias("simhash"))
        .orderBy("doc_id")
    )


@register(
    "ngram_jaccard_topk",
    oracle=f"""
WITH sets AS (
  SELECT doc_id, list_distinct({_TOKS_SQL}) AS s
  FROM documents WHERE doc_id <= 80
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       {quant_sql("CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
                  "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))", 6)}
         AS jaccard
FROM sets a JOIN sets b ON a.doc_id < b.doc_id
ORDER BY jaccard DESC, d1, d2
LIMIT 10
""",
)
def ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force token-set Jaccard top-10 pairs (bounded input slice).

    The exact baseline the MinHash-LSH path approximates. All-pairs is
    O(n²) by construction — bounded here to doc_id ≤ 80; at scale this
    exists only as a verification tool on samples.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 80)
    sets = docs.select("doc_id", F.array_distinct(_toks()).alias("s"))
    a = sets.select(F.col("doc_id").alias("d1"), F.col("s").alias("s1"))
    b = sets.select(F.col("doc_id").alias("d2"), F.col("s").alias("s2"))
    inter = F.size(F.array_intersect("s1", "s2")).cast("double")
    union = F.size("s1") + F.size("s2") - F.size(F.array_intersect("s1", "s2"))
    return (
        a.join(b, F.col("d1") < F.col("d2"))
        .select("d1", "d2", quant(inter / union, 6).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "d1", "d2")
        .limit(10)
    )


_GATE_JAC_SQL = (
    "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / "
    "(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))"
)


def _lsh_pairs_cte(with_jaccard: bool = False) -> str:
    """Shared CTE body producing verified near-dup pairs (d1 < d2) —
    the same pipeline as ``minhash_lsh_dup_pairs`` without the final
    projection, reused by the clustering oracle and (with the
    quantized jaccard carried, ``with_jaccard=True``) the ingest
    gate — ONE hand-written copy of the LSH definition."""
    jac_col = (
        ",\n         " + quant_sql(_GATE_JAC_SQL, 6) + " AS jac"
        if with_jaccard
        else ""
    )
    return f"""sigs AS ({_minhash_sigs_sql()}
), shingle_sets AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM
    (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) q
  WHERE len(toks) >= 3
), bands AS (
  SELECT doc_id, b.band, CASE b.band
           WHEN 0 THEN mh0 WHEN 1 THEN mh1 WHEN 2 THEN mh2 ELSE mh3 END AS bh
  FROM sigs, (SELECT unnest(range(0, 4)) AS band) b
), kept AS (
  SELECT doc_id, band, bh FROM (
    SELECT doc_id, band, bh, COUNT(*) OVER (PARTITION BY band, bh) AS bn
    FROM bands
  ) z WHERE bn <= {LSH_BUCKET_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
  FROM kept a JOIN kept c ON a.band = c.band AND a.bh = c.bh
  WHERE a.doc_id < c.doc_id
), verified AS (
  SELECT d1, d2{jac_col}
  FROM cand
  JOIN shingle_sets s1 ON s1.doc_id = d1
  JOIN shingle_sets s2 ON s2.doc_id = d2
  WHERE {_GATE_JAC_SQL} >= 0.05
)"""


@session_memo("cluster_labels", upstream=("lsh_pairs",))
def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels (doc_id -> min-reachable doc_id) over
    the verified MinHash-LSH pair graph — shared by ``dedup_clusters``
    and ``dedup_canonical_keep`` through the ``cluster_labels`` memo (the
    label-propagation loop runs once per session however many consumers
    run). Iteration hygiene documented on ``dedup_clusters``."""
    pairs = _verified_pairs(spark, sf_dir).select("d1", "d2")
    edges = pairs.union(pairs.select(F.col("d2"), F.col("d1"))).toDF("a", "b")
    labels = (
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("lab", F.col("doc_id"))
        .localCheckpoint()
    )
    rounds, converged = 0, False
    for _ in range(20):
        rounds += 1
        prop = (
            edges.join(labels, edges.a == labels.doc_id)
            .select(F.col("b").alias("doc_id"), F.col("lab"))
        )
        merged = (
            labels.union(prop)
            .groupBy("doc_id")
            .agg(F.min("lab").alias("new_lab"))
            .join(labels, "doc_id")
            .localCheckpoint()
        )
        converged = merged.where(F.col("new_lab") < F.col("lab")).isEmpty()
        labels = merged.select("doc_id", F.col("new_lab").alias("lab"))
        if converged:
            break
    # Convergence telemetry: rounds == component diameter. Only an exit
    # WITHOUT an observed fixpoint means possible truncation (a loop
    # that converges exactly on round 20 is complete).
    import sys

    print(
        f"dedup cluster labels: converged after {rounds} rounds"
        + ("" if converged else " (HIT 20-ROUND CAP — closure may be truncated)"),
        file=sys.stderr,
    )
    return labels


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_lsh_pairs_cte()},
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
)
SELECT node AS doc_id,
       MIN(lab) AS cluster_id,
       (SELECT COUNT(DISTINCT r2.node) FROM reach r2
        WHERE r2.lab = (SELECT MIN(lab) FROM reach r3 WHERE r3.node = r.node))
         AS cluster_size
FROM reach r
GROUP BY node
ORDER BY doc_id
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash-LSH pair graph (iterative min-label propagation).

    The step a real dedup pipeline runs after pair generation — picking
    one canonical doc per duplicate *group*, which transitive pairs
    alone can't do. Spark side iterates `label <- min(label, neighbor
    labels)` to a fixpoint: each round is one shuffle keyed on doc_id,
    and the iteration count is the component diameter (tiny for dup
    clusters; bounded at 20 defensively). The DuckDB oracle computes the
    same closure with a recursive CTE — Spark's loop IS the scalable
    reformulation of that recursion.

    Iteration hygiene (matters at every scale): the verified-pair graph
    is localCheckpointed ONCE so the 20-stage LSH pipeline behind it is
    never re-executed by the loop, and each round's labels are
    localCheckpointed so lineage stays one round deep; without this the
    plan doubles every iteration and the LSH scan re-runs per round. On
    a multi-executor cluster swap localCheckpoint for checkpoint (HDFS)
    to also survive executor loss.
    """
    labels = _cluster_labels(spark, sf_dir)
    w = Window.partitionBy("lab")
    return (
        labels.select(
            "doc_id",
            F.col("lab").alias("cluster_id"),
            F.count(F.lit(1)).over(w).alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_canonical_keep",
    oracle=f"""
WITH RECURSIVE {_lsh_pairs_cte()},
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
sized AS (
  SELECT l.doc_id, l.cluster_id, d.n_chars
  FROM labs l JOIN documents d ON l.doc_id = d.doc_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
  ) AS rn
  FROM sized
)
SELECT cluster_id,
       COUNT(*) AS cluster_size,
       MAX(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keeper_chars,
       COUNT(*) - 1 AS n_dropped
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id
""",
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: one canonical keeper per near-duplicate
    cluster — the longest document (``n_chars`` DESC, ``doc_id`` tie) —
    plus how many duplicates it displaces. This is the row a curation
    pipeline actually writes back (keep-list + drop-count); clusters
    and pairs are intermediates.

    Plan shape: the shared label-propagation loop, one broadcast-sized
    join against the documents manifest, then a single hash aggregation
    per cluster — the keeper is ``max_by(doc_id, (n_chars, -doc_id))``,
    an ordinary aggregate, NOT a per-cluster window sort (the oracle's
    ROW_NUMBER states the same semantics declaratively). At 100 TB the
    agg is map-side-combinable and clusters are tiny; nothing scales
    with cluster count beyond the one shuffle.
    """
    labels = _cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sized = labels.select(F.col("doc_id"), F.col("lab").alias("cluster_id")).join(
        docs, "doc_id"
    )
    return (
        sized.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias("keeper_id"),
            F.expr("max_by(n_chars, struct(n_chars, -doc_id))")
            .cast("bigint")
            .alias("keeper_chars"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


#: Upper doc_id bound of the recall-audit slice: all-pairs ground truth
#: on ≤ this many docs stays trivially cheap at EVERY scale factor (the
#: slice is id-bounded, not fraction-bounded).
AUDIT_SLICE = 300


@register(
    "lsh_recall_audit",
    oracle=f"""
WITH {_lsh_pairs_cte()},
slice_sets AS (
  SELECT doc_id, sh FROM shingle_sets WHERE doc_id <= {AUDIT_SLICE}
),
true_pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM slice_sets a JOIN slice_sets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.05
),
t AS (SELECT COUNT(*) AS n_true FROM true_pairs),
l AS (SELECT COUNT(*) AS n_lsh FROM verified
      WHERE d1 <= {AUDIT_SLICE} AND d2 <= {AUDIT_SLICE})
SELECT n_true AS n_true_pairs,
       n_lsh AS n_lsh_pairs,
       n_true - n_lsh AS n_missed,
       CASE WHEN n_true = 0 THEN NULL
            ELSE {quant_sql("CAST(n_lsh AS DOUBLE) / n_true", 6)} END
         AS recall_q
FROM t, l
""",
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH pipeline against exact ground truth on
    a bounded slice — the monitoring number a production dedup deployment
    tracks (banding and the ``LSH_BUCKET_CAP`` both trade recall for
    scalability; this measures what they actually cost).

    Ground truth: all-pairs shingle-set Jaccard ≥ 0.05 over docs with
    ``doc_id <= AUDIT_SLICE`` — the SAME similarity and threshold the
    LSH path verifies with, so every LSH pair is a true pair by
    construction (precision ≡ 1) and the audit reduces to recall:
    ``n_lsh / n_true``. Misses come from (a) no band agreeing and
    (b) capped buckets. Plan: the exact pair intersections come from a
    shingle-keyed equi-join over the SLICED written postings index
    (only co-occurring pairs are ever materialized — r14); the LSH
    side reuses the session's ``lsh_pairs`` memo — at 100 TB this audit is a sampled
    side-channel, never a full-corpus job.
    """
    # Ground truth via the written POSTINGS index, sliced (VERDICT r13
    # task 3): the former all-pairs join over the AUDIT_SLICE sets
    # verified every (d1, d2) pair with an in-row array_intersect —
    # ~45k candidate pairs, ~98% of which share NO shingle and can
    # never reach jaccard >= 0.05. The shingle-keyed equi-join below
    # generates exactly the pairs with i = |A∩B| >= 1 (a map-side
    # partial agg counts the intersection per pair), so the verify
    # touches only co-occurring pairs and the pair predicate is pure
    # arithmetic on (i, len1, len2) — no arrays shuffled, no cartesian.
    # Exactness unchanged: i from the equi-join IS |A∩B| (postings are
    # (doc, shingle)-distinct), zero-intersection pairs fail the 0.05
    # threshold by definition, and the double-division threshold test
    # is identical (nearest rationals i/u sit >= 1/(20u) away from
    # 0.05, ~12 orders of magnitude beyond double rounding).
    post = shingle_postings_stats_frame(spark, sf_dir).where(
        F.col("doc_id") <= AUDIT_SLICE
    )
    a = post.select(
        F.col("doc_id").alias("d1"), "s", F.col("len").alias("l1")
    )
    b = post.select(
        F.col("doc_id").alias("d2"), "s", F.col("len").alias("l2")
    )
    inter = F.col("i").cast("double")
    union = F.col("l1") + F.col("l2") - F.col("i")
    t = (
        a.join(b, "s")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2", "l1", "l2")
        .agg(F.count(F.lit(1)).alias("i"))
        .where(inter / union >= 0.05)
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    lsh = _verified_pairs(spark, sf_dir)
    l = lsh.where(
        (F.col("d1") <= AUDIT_SLICE) & (F.col("d2") <= AUDIT_SLICE)
    ).agg(F.count(F.lit(1)).alias("n_lsh"))
    return t.crossJoin(F.broadcast(l)).select(
        F.col("n_true").alias("n_true_pairs"),
        F.col("n_lsh").alias("n_lsh_pairs"),
        (F.col("n_true") - F.col("n_lsh")).alias("n_missed"),
        # Explicit NULL when the slice has no true pair: Spark's x/0 is
        # NULL but DuckDB's is inf/NaN — an agreed sentinel keeps the
        # engines hash-identical on the degenerate corpus.
        F.when(F.col("n_true") == 0, F.lit(None).cast("double"))
        .otherwise(quant(F.col("n_lsh").cast("double") / F.col("n_true"), 6))
        .alias("recall_q"),
    )


#: Containment df-prune band: shingles appearing in fewer docs are
#: non-evidential singletons, in more are boilerplate whose self-join
#: fanout grows with corpus size. Identical literals in both engines.
CONTAIN_DF_MIN = 2
CONTAIN_DF_MAX = 20


@register(
    "shingle_containment_pairs",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t0
  WHERE len(toks) >= 3
),
pruned AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, COUNT(*) OVER (PARTITION BY s) AS df FROM sh
  ) z WHERE df BETWEEN {CONTAIN_DF_MIN} AND {CONTAIN_DF_MAX}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM pruned GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY d1, d2
)
SELECT d1, d2, n_shared,
       {quant_sql("greatest(CAST(n_shared AS DOUBLE) / s1.n,"
                  " CAST(n_shared AS DOUBLE) / s2.n)", 6)} AS containment,
       {quant_sql("CAST(n_shared AS DOUBLE) / (s1.n + s2.n - n_shared)", 6)}
         AS jaccard
FROM pairs JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
WHERE CAST(n_shared AS DOUBLE) / least(s1.n, s2.n) >= 0.6
ORDER BY containment DESC, d1, d2
LIMIT 50
""",
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplication: pairs where one document's
    discriminative 3-gram shingles are mostly CONTAINED in the other's
    (containment = |A∩B| / min(|A|,|B|) >= 0.6), with the symmetric
    Jaccard alongside for contrast.

    Containment is the metric symmetric Jaccard structurally misses: a
    short document pasted verbatim into a long one has containment 1.0
    but Jaccard ~ |A|/|B| — tiny — so MinHash-LSH (which estimates
    Jaccard) never surfaces it. The curation action differs too:
    subset-duplication marks the SHORT side redundant rather than
    either-of-the-pair. Metric space: shingles df-pruned to
    [{CONTAIN_DF_MIN}, {CONTAIN_DF_MAX}] docs — singleton shingles are
    non-evidential, boilerplate shingles make fanout corpus-sized;
    the band makes the metric boilerplate-insensitive AND bounds every
    shingle's self-join contribution at df·(df−1)/2 pairs (the
    ``LSH_BUCKET_CAP`` discipline, encoded identically in the oracle).

    Plan at 100 TB: explode distinct shingles (map-side) → one
    map-side-combined df count → pruned self-equi-join on the shingle
    (AQE-skew-splittable; fanout df-capped) → (d1,d2) partial-agg
    count → two broadcast-able size joins. No all-pairs anywhere —
    the pair set only contains docs sharing a mid-df shingle.
    """
    # The df-band prune is a map-side predicate over the WRITTEN
    # inverted index (VERDICT r11 task 4): df is stored per posting at
    # index-build time, so no df aggregate or join runs per query. The
    # three consumers (sizes, both self-join sides) each re-scan the
    # column-pruned parquet — cheaper than the checkpoint that used to
    # amortize the df join.
    pruned = (
        shingle_postings_stats_frame(spark, sf_dir)
        .where(F.col("df").between(CONTAIN_DF_MIN, CONTAIN_DF_MAX))
        .select("doc_id", "s")
    )
    sizes = pruned.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = pruned.select(F.col("doc_id").alias("d1"), "s")
    b = pruned.select(F.col("doc_id").alias("d2"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    shared = F.col("n_shared").cast("double")
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .where(shared / F.least("n1", "n2") >= 0.6)
        .select(
            "d1",
            "d2",
            "n_shared",
            quant(F.greatest(shared / F.col("n1"), shared / F.col("n2")), 6).alias(
                "containment"
            ),
            quant(shared / (F.col("n1") + F.col("n2") - F.col("n_shared")), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.desc("containment"), "d1", "d2")
        .limit(50)
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH RECURSIVE {_lsh_pairs_cte()},
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
labels AS (SELECT node AS doc_id, MIN(lab) AS lab FROM reach GROUP BY node),
csizes AS (SELECT lab, COUNT(*) AS cluster_size FROM labels GROUP BY lab),
tot AS (SELECT COUNT(*) AS n_total FROM documents),
clustered AS (
  SELECT cluster_size, COUNT(*) AS n_clusters,
         CAST(SUM(cluster_size) AS BIGINT) AS n_docs
  FROM csizes GROUP BY cluster_size
),
singles AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         t.n_total - COALESCE((SELECT SUM(cluster_size) FROM csizes), 0)
           AS n_clusters,
         t.n_total - COALESCE((SELECT SUM(cluster_size) FROM csizes), 0)
           AS n_docs
  FROM tot t
)
SELECT cluster_size, CAST(n_clusters AS BIGINT) AS n_clusters,
       CAST(n_docs AS BIGINT) AS n_docs,
       {quant_sql("CAST(n_docs AS DOUBLE) / (SELECT n_total FROM tot)", 6)}
         AS frac_docs
FROM (SELECT * FROM singles UNION ALL SELECT * FROM clustered)
ORDER BY cluster_size
""",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution over the WHOLE corpus —
    including the size-1 row for documents in no near-dup cluster.

    The headline number of a dedup report: what fraction of the corpus
    is unique, pair-duplicated, or sitting in larger clusters — it
    decides whether dedup is worth a full pipeline run and sizes the
    expected token loss of canonical-keep. Composes the memoized
    label-propagation frame (zero extra LSH cost when the other dedup
    queries ran); the histogram itself is two constant-size aggregates
    plus a broadcast 1-row corpus total.
    """
    docs = load_table(spark, sf_dir, "documents")
    labels = _cluster_labels(spark, sf_dir)
    csizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("cluster_size"))
    clustered = csizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
    )
    tot = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_total")))
    n_in_clusters = F.broadcast(
        csizes.agg(
            F.coalesce(F.sum("cluster_size"), F.lit(0)).alias("n_clustered")
        )
    )
    singles = (
        tot.crossJoin(n_in_clusters)
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            (F.col("n_total") - F.col("n_clustered")).alias("n_clusters"),
            (F.col("n_total") - F.col("n_clustered")).alias("n_docs"),
        )
    )
    return (
        singles.unionByName(
            clustered.select(
                F.col("cluster_size").cast("bigint").alias("cluster_size"),
                "n_clusters",
                "n_docs",
            )
        )
        .crossJoin(tot)
        .select(
            "cluster_size",
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            "n_docs",
            quant(
                F.col("n_docs").cast("double") / F.col("n_total"), 6
            ).alias("frac_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "source_dup_cross_matrix",
    oracle=f"""
WITH {_lsh_pairs_cte()},
src AS (SELECT doc_id, source FROM documents)
SELECT LEAST(s1.source, s2.source) AS source_a,
       GREATEST(s1.source, s2.source) AS source_b,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN s1.source = s2.source THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within
FROM verified v
JOIN src s1 ON s1.doc_id = v.d1
JOIN src s2 ON s2.doc_id = v.d2
GROUP BY source_a, source_b
ORDER BY source_a, source_b
""",
)
def source_dup_cross_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate ATTRIBUTION matrix: verified LSH pairs rolled up
    by unordered source pair — which crawl domains copy from each
    other, versus which duplicate internally. This is the view that
    turns a dedup run into a data-sourcing decision (drop the mirror
    site; keep one of the two newswire feeds), which the per-doc views
    (`dedup_clusters`, `dedup_cluster_size_histogram`) can't show.

    Plan: consumes the session-memoized verified pair frame (the LSH
    pipeline runs ONCE however many dedup queries execute — the
    ``lsh_pairs`` memo), joins the two doc sides to their sources
    (pair-set-sized shuffles, tiny after verification), normalizes the
    pair with least/greatest so (a,b) and (b,a) land in one cell, and
    reduces to at most |sources|^2/2 rows.

    Reference parity: the closest reference shape is the two-file
    intersection of TopkCommonWords (both-sources membership per key);
    this is that idea lifted to near-dup pairs. Cited:
    ``TopkCommonWords.java:100-140``.
    """
    pairs = _verified_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    s1 = src.select(F.col("doc_id").alias("d1"), F.col("source").alias("src1"))
    s2 = src.select(F.col("doc_id").alias("d2"), F.col("source").alias("src2"))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .groupBy(
            F.least("src1", "src2").alias("source_a"),
            F.greatest("src1", "src2").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("src1") == F.col("src2")).cast("long"))
            .cast("bigint")
            .alias("n_within"),
        )
        .orderBy("source_a", "source_b")
    )


#: Prefix-duplicate grouping: documents sharing their first
#: _PREFIX_TOKS tokens. Real curation pipelines dedupe on a bounded
#: prefix before whole-document comparison — the prefix hash is one
#: bounded map-side expression per doc (no shingle fanout), so it runs
#: on every document at full corpus scale for pennies.
_PREFIX_TOKS = 16
_PREFIX_TOPK = 20


@register(
    "doc_prefix_dup_groups",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents
), pref AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(array_to_string(
             list_slice(toks, 1, {_PREFIX_TOKS}), ' ')), 1, 15))::BIGINT
           AS phash
  FROM toks WHERE len(toks) >= {_PREFIX_TOKS}
), grp AS (
  SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
  FROM pref GROUP BY phash
)
SELECT phash, n_docs, n_sources, min_doc_id, max_doc_id
FROM grp WHERE n_docs > 1
ORDER BY n_docs DESC, phash
LIMIT {_PREFIX_TOPK}
""",
)
def doc_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 groups of documents sharing their first 16 tokens — the
    cheap prefix-level dedup pass curation pipelines run BEFORE any
    shingle/MinHash machinery (templated boilerplate and scrape-twice
    artifacts share prefixes; a 60-bit prefix hash finds them with one
    map-side expression and one groupBy, no pair generation at all).
    Complements ``dedup_exact_summary`` (whole-text equality) and the
    MinHash family (bag-of-shingles similarity).

    The prefix hash is the cross-engine md5-based ``hash60`` over the
    space-joined first-16-token slice; groups are exact counts with
    (n_docs desc, phash) as the total order. Plan: one scan, one
    partial-agg shuffle on the hash key, TakeOrderedAndProject — the
    100 TB shape is a single combine-heavy aggregation.
    """
    from hadoop_cs4225_spark.functions.hashing import hash60

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _toks().alias("toks")
    )
    pref = docs.where(F.size("toks") >= _PREFIX_TOKS).select(
        "doc_id",
        "source",
        hash60(
            F.concat_ws(" ", F.slice("toks", 1, _PREFIX_TOKS))
        ).alias("phash"),
    )
    return (
        pref.groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), "phash")
        .limit(_PREFIX_TOPK)
    )


@register(
    "jaccard_prefix_filter_pairs",
    oracle=f"""
WITH post AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS tok
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t0
  WHERE len(toks) >= 3
), lens AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM post GROUP BY doc_id
), df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY tok
), ranked AS (
  SELECT p.doc_id, p.tok, d.df, l.len,
         ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.tok)
           AS rn
  FROM post p JOIN df d USING (tok) JOIN lens l USING (doc_id)
), prefix AS (
  SELECT doc_id, tok, len FROM ranked
  WHERE rn <= len - ({_PPJ_T_NUM} * len + {_PPJ_T_DEN} - 1)
                    // {_PPJ_T_DEN} + 1
    AND df <= {_PPJ_DF_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.len AS l1, b.len AS l2
  FROM prefix a JOIN prefix b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
  WHERE {_PPJ_T_DEN} * LEAST(a.len, b.len)
        >= {_PPJ_T_NUM} * GREATEST(a.len, b.len)
), inter AS (
  SELECT c.d1, c.d2, ANY_VALUE(c.l1) AS l1, ANY_VALUE(c.l2) AS l2,
         CAST(COUNT(*) AS BIGINT) AS i
  FROM cand c
  JOIN post p1 ON p1.doc_id = c.d1
  JOIN post p2 ON p2.doc_id = c.d2 AND p2.tok = p1.tok
  GROUP BY c.d1, c.d2
)
SELECT d1, d2, i AS n_shared,
       {quant_sql("CAST(i AS DOUBLE) / (l1 + l2 - i)", 6)} AS jaccard
FROM inter
WHERE {_PPJ_T_DEN} * i >= {_PPJ_T_NUM} * (l1 + l2 - i)
ORDER BY d1, d2
""",
)
def jaccard_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All document pairs with 3-shingle-set Jaccard >= 0.6 via PREFIX
    FILTERING (the PPJoin family): order each document's distinct
    shingles by ascending global document frequency, index only the
    first len - ceil(t*len) + 1 (its rarest shingles — if two sets
    reach the threshold, their prefixes must share an element),
    generate candidates by equi-join on the prefix shingle with the
    length filter t*max_len <= min_len, then verify the exact Jaccard
    on the full postings. The third set-similarity join in the module
    over the SAME shingle sets as MinHash-LSH, and unlike
    ``ngram_jaccard_topk`` (brute, sample-bounded) or MinHash-LSH
    (probabilistic), it is EXACT with a bounded candidate set — the
    shingle universe is Zipf-tailed (grows with the corpus), which is
    exactly where prefix rarity ordering pays off; a raw-TOKEN prefix
    index would degenerate on a bounded vocabulary.

    The threshold stays a 3/5 rational so prefix lengths and the final
    verdict are pure integer arithmetic (ceil via (3*len+4)//5); the
    only float is the reported quantized ratio. Plan: postings build +
    two vocab-keyed aggregates, a per-doc PARTITIONED rank window,
    candidate equi-join on rare tokens (df-capped at 64, encoded in
    both engines), then verification at CANDIDATE grain: two doc-keyed
    joins attach each side's distinct-shingle array (built map-side)
    and the exact intersection is one in-row ``array_intersect`` — the
    verify exchange carries |candidates| rows, never a postings
    explosion (the r10 probe caught the exploded form spill-bound at
    exponent 1.53; this form re-measures sub-linear). No global sorts,
    no cartesian anything.
    """
    # The candidate-generating rows come from the WRITTEN pre-truncated
    # prefix slice (VERDICT r12 task 4, refining r11 task 4's stats
    # layout): the rn/df prefix predicate was already map-side, but it
    # still SCANNED every posting; the slice stores only the ~(1-t)
    # fraction that can generate candidates, so the equi-join's input
    # scan shrinks ~1/t — no df shuffle, no join, no rank window, and
    # no discarded rows at query time.
    prefix = shingle_prefix_frame(spark, sf_dir)
    a = prefix.select(
        F.col("doc_id").alias("d1"),
        F.col("tok").alias("t1"),
        F.col("len").alias("l1"),
        F.col("rn").alias("r1"),
    )
    b = prefix.select(
        F.col("doc_id").alias("d2"),
        F.col("tok").alias("t2"),
        F.col("len").alias("l2"),
        F.col("rn").alias("r2"),
    )
    # POSITIONAL filter (PPJoin, r13 — lossless): a match at prefix
    # positions (r1, r2) bounds the intersection by 1 + the shorter
    # remaining suffix, and jaccard >= t needs
    # (NUM+DEN)*i >= NUM*(l1+l2); candidates whose BEST match position
    # can't reach that never enter the verify join. Exactness is
    # unchanged (the bound only discards pairs that cannot verify), so
    # the oracle stays the plain exact-candidate form.
    ub = 1 + F.least(F.col("l1") - F.col("r1"), F.col("l2") - F.col("r2"))
    cand = (
        a.join(b, (F.col("t1") == F.col("t2")) & (F.col("d1") < F.col("d2")))
        .where(
            _PPJ_T_DEN * F.least("l1", "l2")
            >= _PPJ_T_NUM * F.greatest("l1", "l2")
        )
        .groupBy("d1", "d2", "l1", "l2")
        .agg(F.max(ub).alias("ub"))
        .where(
            (_PPJ_T_NUM + _PPJ_T_DEN) * F.col("ub")
            >= _PPJ_T_NUM * (F.col("l1") + F.col("l2"))
        )
        .select("d1", "d2", "l1", "l2")
    )
    # Verify at CANDIDATE grain: join each side's distinct-shingle
    # ARRAY (built map-side from docs, no shuffle) and intersect
    # in-row. The former postings-explode verify expanded every
    # candidate by |shingles(d1)| (~50x) into a 2-key shuffle join —
    # linear in rows but spill-bound: the r10 scale probe measured
    # exponent 1.53 end-to-end; this form keeps the verify exchange at
    # |candidates| rows and re-measures ~0.9.
    # hint("merge"): the written layout's COMPRESSED size sits under
    # the broadcast threshold, so Catalyst would otherwise broadcast
    # the full shingle-array table for BOTH verify joins — hundreds of
    # MB decompressed, built twice. Sort-merge streams the arrays once
    # per side; the verify exchange stays |candidates|+|docs| rows.
    sets = (
        shingle_sets_frame(spark, sf_dir)
        .withColumnRenamed("sh", "ss")
        .hint("merge")
    )
    inter = (
        cand.join(
            sets.select(F.col("doc_id").alias("d1"), F.col("ss").alias("s1")),
            "d1",
        )
        .join(
            sets.select(F.col("doc_id").alias("d2"), F.col("ss").alias("s2")),
            "d2",
        )
        .select(
            "d1",
            "d2",
            "l1",
            "l2",
            F.size(F.array_intersect("s1", "s2")).cast("long").alias("i"),
        )
    )
    return (
        inter.where(
            _PPJ_T_DEN * F.col("i")
            >= _PPJ_T_NUM * (F.col("l1") + F.col("l2") - F.col("i"))
        )
        .select(
            "d1",
            "d2",
            F.col("i").alias("n_shared"),
            quant(
                F.col("i").cast("double")
                / (F.col("l1") + F.col("l2") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# Round-8 batch 3: train/test split leakage through near-duplicates
# ---------------------------------------------------------------------------

#: Split rule shared with sampling.documents_split_stats (90/10).
_LEAK_TRAIN_PCT = 90


@register(
    "split_leakage_audit",
    oracle=f"""
WITH {_lsh_pairs_cte()},
splits AS (
  SELECT doc_id,
         {hash60_sql("CAST(doc_id AS VARCHAR)")} % 100 < {_LEAK_TRAIN_PCT}
           AS is_train
  FROM documents
), tagged AS (
  SELECT v.d1, v.d2, s1.is_train AS t1, s2.is_train AS t2
  FROM verified v
  JOIN splits s1 ON s1.doc_id = v.d1
  JOIN splits s2 ON s2.doc_id = v.d2
), cross_pairs AS (
  SELECT CASE WHEN t1 THEN d2 ELSE d1 END AS test_doc
  FROM tagged WHERE t1 <> t2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test_docs
  FROM splits WHERE NOT is_train
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tagged) AS n_pairs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cross_pairs) AS n_cross_pairs,
       t.n_test_docs,
       (SELECT CAST(COUNT(DISTINCT test_doc) AS BIGINT) FROM cross_pairs)
         AS n_contaminated,
       {quant_sql(
           "(SELECT COUNT(DISTINCT test_doc) FROM cross_pairs) * 1.0"
           " / t.n_test_docs", 6)} AS contaminated_frac
FROM tot t
""",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination through NEAR-duplicates: how many of the
    90/10 hash split's test documents have a verified near-dup twin on
    the TRAIN side? Exact-duplicate decontamination
    (``decontamination_overlap``) misses these — a paraphrased twin
    leaks the answer just as surely — so this is the audit every eval
    split needs before a benchmark number is trusted.

    Composition, not recomputation: consumes the SAME memoized
    verified LSH pair set as ``dedup_clusters``/``dedup_canonical_keep``
    (the pipeline runs once per session/sf) and tags each pair end
    with the deterministic hash split; a cross pair's test-side doc is
    contaminated. Output: one row — pair counts, contaminated test
    docs, and the contaminated fraction of the test split.

    Plan at 100 TB: two broadcast-size hash joins of the pair list
    against the split rule (a pure doc_id expression, no split table),
    then 1-row aggregates. The LSH pipeline's bucket-cap bounds still
    govern the pair list itself.

    No reference analogue; extends the SURVEY §2 dedup family.
    """
    pairs = _verified_pairs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    is_train = (
        hash60(F.col("doc_id").cast("string")) % 100 < _LEAK_TRAIN_PCT
    )
    splits = docs.select("doc_id", is_train.alias("is_train"))
    tagged = (
        pairs.select("d1", "d2")
        .join(
            splits.select(
                F.col("doc_id").alias("d1"), F.col("is_train").alias("t1")
            ),
            "d1",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("d2"), F.col("is_train").alias("t2")
            ),
            "d2",
        )
    )
    cross = tagged.where(F.col("t1") != F.col("t2")).select(
        F.when(F.col("t1"), F.col("d2")).otherwise(F.col("d1")).alias("test_doc")
    )
    n_pairs = F.broadcast(tagged.agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))
    n_cross = F.broadcast(
        cross.agg(F.count(F.lit(1)).cast("long").alias("n_cross_pairs"))
    )
    n_cont = F.broadcast(
        cross.select("test_doc")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    tot = splits.where(~F.col("is_train")).agg(
        F.count(F.lit(1)).cast("long").alias("n_test_docs")
    )
    return (
        tot.crossJoin(n_pairs)
        .crossJoin(n_cross)
        .crossJoin(n_cont)
        .select(
            "n_pairs",
            "n_cross_pairs",
            "n_test_docs",
            "n_contaminated",
            quant(
                F.col("n_contaminated") * 1.0 / F.col("n_test_docs"), 6
            ).alias("contaminated_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Round-8 batch 6: dedup-method overlap audit (exact vs LSH)
# ---------------------------------------------------------------------------

@register(
    "dedup_methods_overlap",
    oracle=f"""
WITH {_lsh_pairs_cte()},
exact_groups AS (
  SELECT md5(text) AS h, list_sort(list(doc_id)) AS ids
  FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
), exact_pairs AS (
  SELECT ids[i] AS d1, ids[j] AS d2
  FROM exact_groups,
       LATERAL (SELECT unnest(range(1, len(ids) + 1)) AS i) gi,
       LATERAL (SELECT unnest(range(1, len(ids) + 1)) AS j) gj
  WHERE i < j
), ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact_pairs),
lsh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lsh FROM verified),
ovl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_both
  FROM exact_pairs e JOIN verified v ON v.d1 = e.d1 AND v.d2 = e.d2
)
SELECT ex.n_exact AS n_exact_pairs,
       lsh.n_lsh AS n_lsh_pairs,
       ovl.n_both AS n_both,
       lsh.n_lsh - ovl.n_both AS n_lsh_only,
       ex.n_exact - ovl.n_both AS n_exact_missed_by_lsh,
       {quant_sql(
           "CASE WHEN ex.n_exact = 0 THEN NULL"
           " ELSE CAST(ovl.n_both AS DOUBLE) / ex.n_exact END", 6)}
         AS lsh_recall_on_exact
FROM ex CROSS JOIN lsh CROSS JOIN ovl
""",
)
def dedup_methods_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method dedup audit: how do EXACT duplicate pairs (identical
    text bytes) and VERIFIED LSH near-dup pairs overlap? Reports both
    pair counts, the intersection, the near-dups only LSH sees (its
    reason to exist), and — the honest part — exact duplicates LSH
    MISSES: identical docs always share all signatures, but the
    bucket-size cap (the thing that bounds pair generation at 100 TB)
    drops crowded buckets, so a big enough exact-dup cluster can
    escape. ``lsh_recall_audit`` measures recall against brute-force
    Jaccard truth on a bounded slice; this measures it against the
    cheapest independent oracle (byte equality) on the WHOLE corpus —
    the recall floor a production dedup pipeline actually monitors.

    Composition: the verified pair set is the session-memoized LSH
    pipeline (shared with clusters/canonical/leakage); exact pairs
    explode per md5(text) group (group-bounded, never corpus^2).

    No reference analogue; extends the SURVEY §2 dedup family.
    """
    docs = load_table(spark, sf_dir, "documents")
    lsh = _verified_pairs(spark, sf_dir).select("d1", "d2")
    groups = (
        docs.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    a = groups.select("h", F.explode("ids").alias("d1"))
    b = groups.select(F.col("h").alias("h2"), F.explode("ids").alias("d2"))
    exact_pairs = a.join(
        b, (F.col("h") == F.col("h2")) & (F.col("d1") < F.col("d2"))
    ).select("d1", "d2")
    ex = F.broadcast(
        exact_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    nl = F.broadcast(lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh")))
    both = F.broadcast(
        exact_pairs.join(lsh, ["d1", "d2"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_both")
        )
    )
    return (
        ex.crossJoin(nl)
        .crossJoin(both)
        .select(
            F.col("n_exact").alias("n_exact_pairs"),
            F.col("n_lsh").alias("n_lsh_pairs"),
            "n_both",
            (F.col("n_lsh") - F.col("n_both")).alias("n_lsh_only"),
            (F.col("n_exact") - F.col("n_both")).alias(
                "n_exact_missed_by_lsh"
            ),
            quant(
                F.when(
                    F.col("n_exact") == 0, F.lit(None)
                ).otherwise(
                    F.col("n_both").cast("double") / F.col("n_exact")
                ),
                6,
            ).alias("lsh_recall_on_exact"),
        )
    )


# ---------------------------------------------------------------------------
# Round-9: LSH banding planner (S-curve + measured collision cost)
# ---------------------------------------------------------------------------

#: Candidate (bands x rows) configurations of the 4-permutation
#: signature, and the S-curve probe points. The planner pairs each
#: config's THEORETICAL sensitivity curve with its MEASURED candidate
#: volume on this corpus — the two numbers a dedup deployment trades.
_PLAN_CONFIGS = ((4, 1), (2, 2), (1, 4))
_PLAN_JS = (0.5, 0.7, 0.9)


def _plan_curve(b: int, r: int, j: float) -> float:
    """P(candidate | jaccard = j) = 1 - (1 - j^r)^b, rounded once so
    both engines carry the identical literal."""
    return round(1.0 - (1.0 - j**r) ** b, 6)


def _plan_keys_sql() -> str:
    parts = []
    for b, r in _PLAN_CONFIGS:
        for band in range(b):
            key = " || '|' || ".join(
                f"CAST(mh{band * r + i} AS VARCHAR)" for i in range(r)
            )
            parts.append(
                f"SELECT {b} AS b, {r} AS r, {band} AS band, doc_id,"
                f" {key} AS bkey FROM sigs"
            )
    return "\nUNION ALL\n".join(parts)


def _plan_consts_sql() -> str:
    # literals CAST to DOUBLE: bare decimals parse as DECIMAL(p,s) in
    # DuckDB, which degrades through the driver's pandas value path
    rows = []
    for b, r in _PLAN_CONFIGS:
        thr = round((1.0 / b) ** (1.0 / r), 6)
        ps = ", ".join(
            f"CAST({_plan_curve(b, r, j)} AS DOUBLE)"
            f" AS p_at_{str(j).replace('0.', '')}"
            for j in _PLAN_JS
        )
        rows.append(
            f"SELECT {b} AS b, {r} AS r,"
            f" CAST({thr} AS DOUBLE) AS threshold, {ps}"
        )
    return "\nUNION ALL\n".join(rows)


@register(
    "lsh_band_planner",
    oracle=f"""
WITH sigs AS ({_minhash_sigs_sql()}
), keys AS (
{_plan_keys_sql()}
), buckets AS (
  SELECT b, r, band, bkey, CAST(COUNT(*) AS BIGINT) AS sz
  FROM keys GROUP BY b, r, band, bkey
), measured AS (
  SELECT b, r, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_candidates
  FROM buckets GROUP BY b, r
), consts AS (
{_plan_consts_sql()}
)
SELECT m.b AS bands, m.r AS rows_per_band, m.n_buckets, m.n_candidates,
       c.threshold, c.p_at_5, c.p_at_7, c.p_at_9
FROM measured m JOIN consts c ON c.b = m.b AND c.r = m.r
ORDER BY bands DESC
""",
)
def lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding planner over the 4-permutation MinHash signature:
    for each (bands x rows) split — (4,1), (2,2), (1,4) — the
    THEORETICAL S-curve (collision probability at jaccard 0.5/0.7/0.9
    and the b,r threshold (1/b)^(1/r)) next to the MEASURED candidate
    volume that banding actually generates on THIS corpus (sum of
    C(bucket, 2) over its band buckets, with multiplicity). This is
    the parameter-selection table behind ``minhash_lsh_dup_pairs``'
    fixed (4,1) choice: more rows per band = higher precision but a
    blinder curve below the threshold; the planner shows what each
    choice would cost and catch BEFORE a 100 TB dedup run commits to
    one.

    Determinism: band keys are exact integer signatures rendered to
    strings identically in both engines; bucket sizes and pair counts
    are exact BIGINTs; the curve values are Python-rounded literals
    injected into BOTH sides, never re-derived in floating point.

    Scale: each config is one groupBy over (band, key) — the same
    shuffle the production LSH join does, so the measured counts cost
    what the real pipeline costs, bounded by corpus size x 4 rows.

    No reference analogue; extends the SURVEY §2 dedup family.
    """
    # r13: read the WRITTEN signature index (same single definition,
    # definition-fingerprint-guarded) instead of re-hashing every
    # shingle per run — the minhash_signatures precedent; 7 readers of
    # 2-long rows per doc.
    sigs = _sig_index_frame(spark, sf_dir)
    keyed = []
    for b, r in _PLAN_CONFIGS:
        for band in range(b):
            key = F.concat_ws(
                "|",
                *[
                    F.col(f"mh{band * r + i}").cast("string")
                    for i in range(r)
                ],
            )
            keyed.append(
                sigs.select(
                    F.lit(b).alias("b"),
                    F.lit(r).alias("r"),
                    F.lit(band).alias("band"),
                    key.alias("bkey"),
                )
            )
    keys = keyed[0]
    for k in keyed[1:]:
        keys = keys.unionByName(k)
    measured = (
        keys.groupBy("b", "r", "band", "bkey")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .groupBy("b", "r")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("long").alias(
                "n_candidates"
            ),
        )
    )
    consts = spark.createDataFrame(
        [
            (
                b,
                r,
                round((1.0 / b) ** (1.0 / r), 6),
                _plan_curve(b, r, 0.5),
                _plan_curve(b, r, 0.7),
                _plan_curve(b, r, 0.9),
            )
            for b, r in _PLAN_CONFIGS
        ],
        "b int, r int, threshold double, p_at_5 double, p_at_7 double,"
        " p_at_9 double",
    )
    return (
        measured.join(F.broadcast(consts), ["b", "r"])
        .select(
            F.col("b").alias("bands"),
            F.col("r").alias("rows_per_band"),
            "n_buckets",
            "n_candidates",
            "threshold",
            "p_at_5",
            "p_at_7",
            "p_at_9",
        )
        .orderBy(F.desc("bands"))
    )


# ---------------------------------------------------------------------------
# Round-10: winnowing-fingerprint near-dup pairs (the MOSS join)
# ---------------------------------------------------------------------------

#: Winnowing window (must match text_analysis.WINNOW_W so the pair
#: join consumes the same fingerprints ``doc_winnowing_fingerprints``
#: reports) and the minimum shared-fingerprint evidence for a pair.
_WDP_W = 4
_WDP_MIN_SHARED = 2


@register(
    "winnowing_dup_pairs",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 1),
             i -> {hash60_sql("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")})
           AS hs
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents) t
  WHERE len(toks) >= {_WDP_W} + 2
), sel AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hs) - {_WDP_W} + 2),
             i -> list_min(hs[i:i+{_WDP_W} - 1]))) AS sels
  FROM h
), fp AS MATERIALIZED (
  SELECT doc_id, CAST(len(sels) AS BIGINT) AS n_sel, unnest(sels) AS fp
  FROM sel
), ok_fp AS (
  SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {LSH_BUCKET_CAP}
), capped AS MATERIALIZED (
  SELECT f.doc_id, f.n_sel, f.fp FROM fp f JOIN ok_fp o ON o.fp = f.fp
), shared AS (
  SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
         x.n_sel AS na, y.n_sel AS nb,
         CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM capped x JOIN capped y
    ON x.fp = y.fp AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id, x.n_sel, y.n_sel
  HAVING COUNT(*) >= {_WDP_MIN_SHARED}
)
SELECT doc_id_a, doc_id_b, shared_fps,
       {quant_sql("CAST(shared_fps AS DOUBLE) / least(na, nb)", 6)}
         AS containment
FROM shared
ORDER BY doc_id_a, doc_id_b
""",
)
def winnowing_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by WINNOWING fingerprint agreement (the
    MOSS pair join, Schleimer/Wilkerson/Aiken 2003): documents sharing
    >= {_WDP_MIN_SHARED} selected window-minimum shingle hashes, scored
    by containment (shared / smaller selected set). The guarantee the
    MinHash-LSH path lacks: any shared token run of length
    {_WDP_W} + 2 yields a shared SELECTED fingerprint, so
    contiguous-copy pairs (quote farms, mirrored passages) can never be
    missed by sampling luck — while MinHash catches shuffled-bag
    similarity winnowing may not. ``dedup_methods_overlap`` audits
    exactly that complementarity.

    Determinism: fingerprints are exact hash60 integers; counts are
    BIGINTs; the one float (containment) is quantized; output is
    totally ordered by the pair.

    Scale: fingerprint selection is the map-only winnowing pass
    (``doc_winnowing_fingerprints``); the pair join is fingerprint-
    keyed with the LSH_BUCKET_CAP={LSH_BUCKET_CAP} discipline (buckets
    above the cap are boilerplate, dropped from pairwise generation in
    BOTH engines), so per-bucket fanout is bounded at any corpus size
    — never all-pairs.
    """
    # Selected fingerprints come from the WRITTEN index (r12, the
    # simhash/sig-index precedent): the O(n*w) winnowing map is corpus
    # state, computed once per snapshot; both pair-join sides scan the
    # column-pruned parquet (the localCheckpoint that amortized the
    # map went with it).
    fp = winnow_fp_frame(spark, sf_dir)
    ok_fp = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("bsz")).where(
        F.col("bsz") <= LSH_BUCKET_CAP
    )
    capped = fp.join(ok_fp.select("fp"), "fp")
    y = capped.select(
        F.col("fp").alias("fp2"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("n_sel").alias("nb"),
    )
    return (
        capped.join(
            y,
            (F.col("fp") == F.col("fp2"))
            & (F.col("doc_id") < F.col("doc_id_b")),
        )
        .groupBy(
            F.col("doc_id").alias("doc_id_a"),
            "doc_id_b",
            F.col("n_sel").alias("na"),
            "nb",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= _WDP_MIN_SHARED)
        .select(
            "doc_id_a",
            "doc_id_b",
            "shared_fps",
            quant(
                F.col("shared_fps").cast("double")
                / F.least("na", "nb"),
                6,
            ).alias("containment"),
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


# ---------------------------------------------------------------------------
# Round-11: banded 60-bit SimHash near-duplicate pair join
# ---------------------------------------------------------------------------

#: 60-bit SimHash (the full hash60 width), banded 4 x 15 bits for the
#: LSH join. Pigeonhole guarantee: any pair within Hamming distance
#: _SIMB_MAXHAM = 3 differs in at most 3 of 4 bands, so at least one
#: band matches EXACTLY — recall 1.0 at the threshold (pairs at
#: distance 4+ may still surface if their differing bits cluster, and
#: are filtered by the verify step). 15-bit band values (32k buckets
#: per band) keep bucket occupancy low at any corpus scale; the
#: df-style bucket cap bounds the worst case (both engines).
_SIMB_BITS = 60
_SIMB_BANDS = 4
_SIMB_BAND_BITS = 15
_SIMB_MAXHAM = 3
_SIMB_BUCKET_CAP = 64


def simhash60_frame(docs: DataFrame) -> DataFrame:
    """60-bit SimHash fingerprint ``(doc_id, f)`` for ANY frame with
    (doc_id, text) columns — the reusable core of
    :func:`simhash_band_dup_pairs`, also consumed per micro-batch by
    ``streaming.streams.run_incremental_simhash_dedup`` (VERDICT r11
    task 7). Per-bit majority vote over token hash60s; zero-token docs
    are excluded (their all-zero fingerprints would spuriously pair)."""
    d = docs.select("doc_id", _toks().alias("toks")).where(F.size("toks") > 0)
    hs = F.transform(F.col("toks"), lambda x: hash60(x))
    votes = [
        F.sum(F.shiftright("h", b).bitwiseAND(1)).alias(f"o{b}")
        for b in range(_SIMB_BITS)
    ]
    fp_col = F.lit(0).cast("long")
    for b in range(_SIMB_BITS):
        bit = F.when(
            F.col(f"o{b}") * 2 > F.col("n"), F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp_col = fp_col + bit
    return (
        d.select("doc_id", F.explode(hs).alias("h"))
        .groupBy("doc_id")
        .agg(F.count("h").alias("n"), *votes)
        .select("doc_id", fp_col.alias("f"))
    )


@derived_layout(
    "documents_simhash60", config=f"bits={_SIMB_BITS};delim={TOKEN_DELIM_RE}"
)
def ensure_simhash_fp_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The 60-bit SimHash FINGERPRINT INDEX as a written
    table (``.derived/<sf>/documents_simhash60``: one ``(doc_id, f)``
    row per eligible doc) — the SimHash twin of
    :func:`ensure_minhash_sig_index`, and exactly the table
    ``streaming.run_incremental_simhash_dedup`` maintains incrementally
    (minus its absorbed-count bookkeeping). The band join was the
    suite's slowest query (6.9 s at sf0.1) with ~85% of its cost in
    md5-per-token fingerprinting that is pure corpus state; written
    once per snapshot, every band probe reads 2 longs/doc."""
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    simhash60_frame(docs).write.parquet(path)


def simhash_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized fingerprint index as a DataFrame (ensure +
    read): ``(doc_id, f)``, one row per eligible doc."""
    return read_derived(spark, ensure_simhash_fp_index(spark, sf_dir))


@derived_layout(
    "documents_winnow_fps", config=f"w={_WDP_W};shingle=3;delim={TOKEN_DELIM_RE}"
)
def ensure_winnow_fp_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The WINNOWING fingerprint postings as a written
    table (``.derived/<sf>/documents_winnow_fps``: one
    ``(doc_id, n_sel, fp)`` row per selected window-minimum shingle
    hash per eligible doc) — the MOSS-index twin of
    :func:`ensure_simhash_fp_index`. The O(n*w) per-doc winnowing map
    (hash every 3-shingle, min over every w-window) is pure corpus
    state and dominated ``winnowing_dup_pairs``; written once per
    snapshot, the pair join reads integers."""
    docs = load_table(spark, sf_dir, "documents")
    # The winnowing map is ~100x the scan cost and the corpus
    # arrives as one row group: repartition so the build uses
    # every core (explicit width survives AQE coalescing).
    _winnow_fp_rows(docs, spark.sparkContext.defaultParallelism).write.parquet(path)


def _winnow_fp_rows(docs: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Per-doc winnowing fingerprint rows ``(doc_id, n_sel, fp)`` —
    the ONE definition of the O(n*w) winnowing map (hash every
    3-shingle, min over every ``_WDP_W``-window, distinct), shared by
    the batch index builder and the streaming maintainer so the two can
    never drift (the ``_shingle_sets`` discipline). Document-local by
    construction: a doc's rows depend on nothing but its own text,
    which is what makes the streaming merge a pure append."""
    w = _WDP_W
    d = docs.select("doc_id", _toks().alias("toks")).where(
        F.size("toks") >= w + 2
    )
    if parallelism:
        d = d.repartition(parallelism)
    hashes = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: hash60(
            F.concat_ws(
                " ",
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
                F.element_at("toks", i + 3),
            )
        ),
    )
    sels = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - w + 1),
            lambda i: F.array_min(F.slice("hs", i, w)),
        )
    )
    return d.select("doc_id", hashes.alias("hs")).select(
        "doc_id",
        F.size(sels).cast("long").alias("n_sel"),
        F.explode(sels).alias("fp"),
    )


def winnow_fp_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized winnowing postings as a DataFrame (ensure +
    read): ``(doc_id, n_sel, fp)`` rows."""
    return read_derived(spark, ensure_winnow_fp_index(spark, sf_dir))


def _simb_fp_votes_sql() -> str:
    """votes/fp CTE bodies computing the 60-bit fingerprint (the
    16-bit ``_simhash_fp_sql`` discipline, vote-sum formulation)."""
    votes = ",\n         ".join(
        f"CAST(SUM((h >> {b}) & 1) AS BIGINT) AS o{b}"
        for b in range(_SIMB_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN o{b} * 2 > n THEN (CAST(1 AS BIGINT) << {b}) "
        f"ELSE 0 END)"
        for b in range(_SIMB_BITS)
    )
    return votes, fp


@register(
    "simhash_band_dup_pairs",
    oracle=f"""
WITH th AS (
  SELECT doc_id, unnest(list_transform({_TOKS_SQL},
                                       x -> {hash60_sql("x")})) AS h
  FROM documents WHERE len({_TOKS_SQL}) > 0
), votes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         {_simb_fp_votes_sql()[0]}
  FROM th GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({_simb_fp_votes_sql()[1]} AS BIGINT) AS f
  FROM votes
), bands AS (
  SELECT doc_id, f, b.band,
         (f >> ({_SIMB_BAND_BITS} * b.band)) & {(1 << _SIMB_BAND_BITS) - 1}
           AS val
  FROM fp,
       (SELECT unnest([{", ".join(str(b) for b in range(_SIMB_BANDS))}])
          AS band) b
), capped AS (
  SELECT band, val FROM bands GROUP BY band, val
  HAVING COUNT(*) BETWEEN 2 AND {_SIMB_BUCKET_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.f AS f1, b.f AS f2
  FROM bands a
  JOIN capped c ON a.band = c.band AND a.val = c.val
  JOIN bands b ON b.band = a.band AND b.val = a.val
             AND a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(f1, f2)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(f1, f2)) <= {_SIMB_MAXHAM}
ORDER BY d1, d2
""",
)
def simhash_band_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate document pairs via BANDED 60-bit SimHash: per-bit
    majority vote over token hash60s builds the fingerprint, the 4 x
    15-bit bands generate candidates by exact band equality (the
    MinHash-LSH banding trick applied to SimHash), and the verify step
    keeps pairs within Hamming distance {_SIMB_MAXHAM} (XOR +
    popcount). Guaranteed recall 1.0 at the threshold by pigeonhole —
    3 differing bits cannot touch all 4 bands. Completes the near-dup
    join family: MinHash-LSH (bag-of-shingles Jaccard), prefix-filter
    PPJoin (exact set similarity), winnowing (MOSS fingerprints) — 
    SimHash is the BIT-VECTOR variant whose candidate join is an
    equi-join on integers, the cheapest of the four at 100 TB.

    ``simhash_fingerprints`` registers the 16-bit per-doc fingerprint
    surface; the pair join needs the full 60 bits (16-bit bands would
    have 16-value band domains — every bucket over-full at corpus
    scale). Empty-token docs are excluded in BOTH engines (their
    all-zero fingerprints would spuriously pair).

    Determinism: hash60 is the cross-engine md5 hash; votes and
    fingerprints are exact integer algebra; Hamming distance is
    bit_count(xor) in both engines. The {_SIMB_BUCKET_CAP}-doc bucket
    cap (the LSH_BUCKET_CAP discipline, dedup.py:109) is encoded in
    both engines — bounded per-bucket fan-out, never all-pairs.

    Scale: one explode + 60-vote map-side-combined agg per doc, a x4
    constant band fan-out, an equi-join on (band, val) with capped
    buckets, and an id-ordered distinct — every stage keyed, linear in
    the corpus.

    No reference analogue; extends SURVEY §2's dedup family.
    """
    # Fingerprints come from the WRITTEN index (r12, the
    # ensure_minhash_sig_index precedent): md5-per-token + 60 vote
    # sums are corpus state, computed once per snapshot; the query
    # reads 2 longs/doc and pays only the band join + verify.
    fp = simhash_fp_frame(spark, sf_dir)
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.shiftright("f", _SIMB_BAND_BITS * b)
                .bitwiseAND((1 << _SIMB_BAND_BITS) - 1)
                .alias("val"),
            )
            for b in range(_SIMB_BANDS)
        ]
    )
    bands = fp.select(
        "doc_id", "f", F.explode(band_arr).alias("bv")
    ).select("doc_id", "f", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    capped = (
        bands.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where((F.col("bn") >= 2) & (F.col("bn") <= _SIMB_BUCKET_CAP))
        .select("band", "val")
    )
    in_cap = bands.join(capped, ["band", "val"])
    a = in_cap.select(
        F.col("doc_id").alias("d1"),
        F.col("f").alias("f1"),
        "band",
        "val",
    )
    b = in_cap.select(
        F.col("doc_id").alias("d2"),
        F.col("f").alias("f2"),
        F.col("band").alias("band2"),
        F.col("val").alias("val2"),
    )
    cand = (
        a.join(
            b,
            (F.col("band") == F.col("band2"))
            & (F.col("val") == F.col("val2"))
            & (F.col("d1") < F.col("d2")),
        )
        .select("d1", "d2", "f1", "f2")
        .distinct()
    )
    hamming = F.bit_count(F.col("f1").bitwiseXOR(F.col("f2"))).cast("long")
    return (
        cand.select("d1", "d2", hamming.alias("hamming"))
        .where(F.col("hamming") <= _SIMB_MAXHAM)
        .orderBy("d1", "d2")
    )


@register(
    "dedup_near_dup_gc",
    oracle=f"""
WITH th AS (
  SELECT doc_id, unnest(list_transform({_TOKS_SQL},
                                       x -> {hash60_sql("x")})) AS h
  FROM documents WHERE len({_TOKS_SQL}) > 0
), votes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         {_simb_fp_votes_sql()[0]}
  FROM th GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({_simb_fp_votes_sql()[1]} AS BIGINT) AS f
  FROM votes
)
SELECT f,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       MIN(fp.doc_id) AS keeper_doc,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_victims,
       CAST(SUM(d.n_chars) - ARG_MIN(d.n_chars, fp.doc_id) AS BIGINT)
         AS reclaim_chars
FROM fp JOIN documents d ON d.doc_id = fp.doc_id
GROUP BY f HAVING COUNT(*) >= 2
ORDER BY f
""",
)
def dedup_near_dup_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GARBAGE-COLLECTION report over the written SimHash
    fingerprint index (VERDICT r12 task 7): groups of documents whose
    60-bit fingerprints are IDENTICAL (Hamming 0 — the delete-safe core
    of the near-dup graph, no verify step needed), the keeper each
    group retains (min doc_id, the ``dedup_canonical_keep``
    first-writer rule), and the bytes a GC pass reclaims by dropping
    the victims. This is the operational face of the dedup family: the
    band join FINDS near-pairs for review; GC needs the conservative
    exact-fingerprint subset it can delete unattended.

    Consumes the same ``(doc_id, f)`` table the streaming twin
    (``streaming.run_incremental_simhash_dedup``) maintains
    incrementally, so at 100 TB the report runs against the
    continuously-maintained index — one vocabulary-of-fingerprints
    groupBy plus a doc-keyed join for byte sizes, no pair join at all.

    Determinism: fingerprints are exact integer algebra over the
    cross-engine md5 hash60; keeper and reclaim use MIN / ARG_MIN on
    integer keys; output ordered by fingerprint.

    No reference analogue; extends SURVEY §2's dedup family (r13).
    """
    fp = simhash_fp_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        fp.join(docs, "doc_id")
        .groupBy("f")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.min("doc_id").alias("keeper_doc"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_victims"),
            (F.sum("n_chars") - F.min_by("n_chars", "doc_id"))
            .cast("long")
            .alias("reclaim_chars"),
        )
        .where(F.col("group_size") >= 2)
        .orderBy("f")
    )


@register(
    "dedup_survivorship_report",
    oracle=f"""
WITH RECURSIVE {_lsh_pairs_cte()},
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
members AS (
  SELECT l.cluster_id, d.doc_id, d.source, d.n_chars
  FROM labs l JOIN documents d ON l.doc_id = d.doc_id
),
keepers AS (
  SELECT cluster_id, doc_id AS keeper_id FROM (
    SELECT cluster_id, doc_id, ROW_NUMBER() OVER (
      PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
    ) AS rn FROM members
  ) r WHERE rn = 1
),
flagged AS (
  SELECT m.source, m.n_chars,
         CASE WHEN m.doc_id = k.keeper_id THEN 0 ELSE 1 END AS dropped
  FROM members m JOIN keepers k ON m.cluster_id = k.cluster_id
),
per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_clustered,
         CAST(SUM(dropped) AS BIGINT) AS n_dropped,
         CAST(SUM(dropped * n_chars) AS BIGINT) AS chars_dropped
  FROM flagged GROUP BY source
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
  FROM documents GROUP BY source
)
SELECT t.source, t.n_docs,
       COALESCE(p.n_clustered, 0) AS n_clustered,
       COALESCE(p.n_dropped, 0) AS n_dropped,
       COALESCE(p.chars_dropped, 0) AS chars_dropped,
       {quant_sql("CAST(COALESCE(p.n_dropped, 0) AS DOUBLE) / t.n_docs", 6)}
         AS doc_drop_frac,
       {quant_sql(
           "CAST(COALESCE(p.chars_dropped, 0) AS DOUBLE) / t.n_chars_total", 6
       )} AS char_drop_frac
FROM totals t LEFT JOIN per_source p ON t.source = p.source
ORDER BY t.source
""",
)
def dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What near-dup dedup COSTS each source: per-source counts of docs
    in verified near-dup clusters, docs the canonical-keep rule drops
    (longest-doc keeper, the ``dedup_canonical_keep`` rule), characters
    lost, and doc/char drop fractions — zero-filled for sources dedup
    never touches.

    This is the attribution report a data-sourcing team reads next to
    ``source_dup_cross_matrix`` (which pairs mirror each other) and
    ``dedup_cluster_size_histogram`` (how big the clusters are): it
    says whose token budget survives curation. Composes the memoized
    label-propagation frame at zero extra LSH cost; per-source rollups
    are map-side-combined aggregates over the bounded member set, plus
    one broadcast-able totals join.

    No reference analogue; extends SURVEY §2's dedup family (r12).
    """
    labels = _cluster_labels(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    members = labels.select(
        "doc_id", F.col("lab").alias("cluster_id")
    ).join(docs, "doc_id")
    keepers = members.groupBy("cluster_id").agg(
        F.expr("max_by(doc_id, struct(n_chars, -doc_id))").alias("keeper_id")
    )
    flagged = members.join(keepers, "cluster_id").select(
        "source",
        "n_chars",
        F.when(F.col("doc_id") == F.col("keeper_id"), 0).otherwise(1).alias(
            "dropped"
        ),
    )
    per_source = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clustered"),
        F.sum("dropped").cast("bigint").alias("n_dropped"),
        F.sum(F.col("dropped") * F.col("n_chars"))
        .cast("bigint")
        .alias("chars_dropped"),
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )
    return (
        totals.join(per_source, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_clustered", F.lit(0)).cast("bigint").alias("n_clustered"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
            F.coalesce("chars_dropped", F.lit(0))
            .cast("bigint")
            .alias("chars_dropped"),
            quant(
                F.coalesce("n_dropped", F.lit(0)).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("doc_drop_frac"),
            quant(
                F.coalesce("chars_dropped", F.lit(0)).cast("double")
                / F.col("n_chars_total"),
                6,
            ).alias("char_drop_frac"),
        )
        .orderBy("source")
    )


@register(
    "newcrawl_near_dup_gate",
    oracle=f"""
WITH {_lsh_pairs_cte(with_jaccard=True)}, src AS (
  SELECT doc_id, source, {SRC_NO_SQL} AS src_no
  FROM documents
), matches AS (
  SELECT v.d2 AS nd, v.d1 AS td, v.jac
  FROM verified v
  JOIN src t ON t.doc_id = v.d1 JOIN src n ON n.doc_id = v.d2
  WHERE t.src_no < {NEWCRAWL_MIN_SRC} AND n.src_no >= {NEWCRAWL_MIN_SRC}
  UNION ALL
  SELECT v.d1 AS nd, v.d2 AS td, v.jac
  FROM verified v
  JOIN src n ON n.doc_id = v.d1 JOIN src t ON t.doc_id = v.d2
  WHERE n.src_no >= {NEWCRAWL_MIN_SRC} AND t.src_no < {NEWCRAWL_MIN_SRC}
), best AS (
  SELECT nd, CAST(COUNT(*) AS BIGINT) AS n_train_matches,
         MAX(jac) AS best_jaccard
  FROM matches GROUP BY nd
), pick AS (
  SELECT b.nd, b.n_train_matches, b.best_jaccard,
         MIN(m.td) AS best_train_doc
  FROM matches m
  JOIN best b ON b.nd = m.nd AND m.jac = b.best_jaccard
  GROUP BY b.nd, b.n_train_matches, b.best_jaccard
)
SELECT p.nd AS doc_id, s.source, p.n_train_matches, p.best_train_doc,
       p.best_jaccard
FROM pick p JOIN src s ON s.doc_id = p.nd
ORDER BY p.best_jaccard DESC, doc_id
""",
)
def newcrawl_near_dup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGEST near-dup gate: every new-crawl document (``src16..19``,
    the ``cross_corpus_decon_report`` convention) that is a verified
    MinHash-LSH near-duplicate of an existing train-corpus document —
    with how many train docs it collided, its closest train twin
    (max jaccard, min doc_id on ties), and the verified similarity.
    This is the admit-or-drop list a 100 TB ingest runs per batch:
    ``cross_corpus_decon_report`` scores shingle-level contamination
    mass; this gate names the documents to reject and what they
    duplicate.

    Composition discipline: matches come from the SHARED verified-pair
    frame (the memoized LSH band-join + exact-verify pipeline that
    ``dedup_clusters``/``dedup_canonical_keep`` consume), filtered to
    cross-side (train, new) pairs — the gate can never disagree with
    the dedup family it fronts. At 100 TB the batch form of this query
    is the streaming twin ``run_incremental_corpus_dedup``: sign ONLY
    the new batch, band-join it against the maintained signature
    index, verify candidates — per-batch cost ∝ batch.

    Determinism: quantized jaccard, integer tie-breaks, total order.

    No reference analogue; extends the SURVEY §2 dedup family (r13).
    """
    pairs = _verified_pairs(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", src_no_col().alias("src_no")
    )
    s1 = src.select(
        F.col("doc_id").alias("d1"), F.col("src_no").alias("n1")
    )
    s2 = src.select(
        F.col("doc_id").alias("d2"), F.col("src_no").alias("n2")
    )
    tagged = pairs.join(s1, "d1").join(s2, "d2")
    new_min = NEWCRAWL_MIN_SRC
    m1 = tagged.where(
        (F.col("n1") < new_min) & (F.col("n2") >= new_min)
    ).select(
        F.col("d2").alias("nd"), F.col("d1").alias("td"), F.col("jaccard")
    )
    m2 = tagged.where(
        (F.col("n1") >= new_min) & (F.col("n2") < new_min)
    ).select(
        F.col("d1").alias("nd"), F.col("d2").alias("td"), F.col("jaccard")
    )
    matches = m1.unionByName(m2)
    best = matches.groupBy("nd").agg(
        F.count(F.lit(1)).cast("long").alias("n_train_matches"),
        F.max("jaccard").alias("best_jaccard"),
    )
    pick = (
        matches.join(best, "nd")
        .where(F.col("jaccard") == F.col("best_jaccard"))
        .groupBy("nd", "n_train_matches", "best_jaccard")
        .agg(F.min("td").alias("best_train_doc"))
    )
    return (
        pick.join(src.select(F.col("doc_id").alias("nd"), "source"), "nd")
        .select(
            F.col("nd").alias("doc_id"),
            "source",
            "n_train_matches",
            "best_train_doc",
            "best_jaccard",
        )
        .orderBy(F.desc("best_jaccard"), "doc_id")
    )


# ---------------------------------------------------------------------------
# Round-13: MinHash estimator-quality audit
# ---------------------------------------------------------------------------

_EST_GRID_STEP = 1_000_000 // N_PERMS

_NB_SQL = " + ".join(
    f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(N_PERMS)
)


@register(
    "minhash_estimate_error_audit",
    oracle=f"""
WITH {_lsh_pairs_cte(with_jaccard=True)},
m AS (
  SELECT CAST(floor(v.jac * 1000000 + 0.5) AS BIGINT) AS jac_grid,
         ({_NB_SQL}) AS nb
  FROM verified v
  JOIN sigs a ON a.doc_id = v.d1
  JOIN sigs b ON b.doc_id = v.d2
)
SELECT CAST(nb AS INT) AS n_matching_bands,
       CAST(nb AS DOUBLE) / {N_PERMS} AS est_jaccard,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       {quant_sql("CAST(SUM(jac_grid) AS DOUBLE) / 1000000.0 / COUNT(*)", 6)}
         AS mean_exact_jaccard,
       {quant_sql(f"CAST(SUM(ABS(nb * {_EST_GRID_STEP} - jac_grid)) AS DOUBLE)"
                  " / 1000000.0 / COUNT(*)", 6)} AS mae,
       {quant_sql(f"CAST(SUM(nb * {_EST_GRID_STEP} - jac_grid) AS DOUBLE)"
                  " / 1000000.0 / COUNT(*)", 6)} AS bias
FROM m
GROUP BY nb
ORDER BY n_matching_bands
""",
)
def minhash_estimate_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality of the MinHash Jaccard ESTIMATOR itself: on every
    verified near-dup pair, compare the signature-level estimate
    (matching components / {N_PERMS}) against the exact shingle-set
    Jaccard the verify stage computed anyway — per estimate level:
    pair count, mean exact Jaccard, MAE, and signed bias.

    This is the audit that tells you whether {N_PERMS} permutations are
    ENOUGH before trusting the band planner's collision model
    (``lsh_band_planner`` prices recall assuming the estimator is
    unbiased; this measures the estimator against ground truth the
    pipeline already paid for). Reads the WRITTEN signature index and
    the memoized verified-pair frame — zero additional tokenization or
    pair generation; the error rollup is a ≤{N_PERMS + 1}-row aggregate
    over the pair-set-sized join. Error terms accumulate on the 1e6
    integer grid (exact-sum discipline: both engines sum identical
    BIGINTs, one final division), so cross-engine parity is exact.
    """
    pairs = _verified_pairs(spark, sf_dir)
    sigs = _sig_index_frame(spark, sf_dir)
    s1 = sigs.select(
        F.col("doc_id").alias("d1"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_PERMS)],
    )
    s2 = sigs.select(
        F.col("doc_id").alias("d2"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_PERMS)],
    )
    nb = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_PERMS)
    )
    m = (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            F.floor(F.col("jaccard") * 1000000 + 0.5)
            .cast("long")
            .alias("jac_grid"),
            nb.alias("nb"),
        )
    )
    err_grid = F.col("nb").cast("long") * _EST_GRID_STEP - F.col("jac_grid")
    return (
        m.groupBy("nb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            quant(
                F.sum("jac_grid").cast("double") / 1000000.0 / F.count(F.lit(1)),
                6,
            ).alias("mean_exact_jaccard"),
            quant(
                F.sum(F.abs(err_grid)).cast("double")
                / 1000000.0
                / F.count(F.lit(1)),
                6,
            ).alias("mae"),
            quant(
                F.sum(err_grid).cast("double") / 1000000.0 / F.count(F.lit(1)),
                6,
            ).alias("bias"),
        )
        .select(
            F.col("nb").cast("int").alias("n_matching_bands"),
            (F.col("nb").cast("double") / N_PERMS).alias("est_jaccard"),
            "n_pairs",
            "mean_exact_jaccard",
            "mae",
            "bias",
        )
        .orderBy("n_matching_bands")
    )
