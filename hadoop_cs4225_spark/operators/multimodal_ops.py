"""Registered queries over the multimodal (binary) pipeline (M6).

``media_metadata_stats`` stays in pure built-in expressions (oracle-able
— DuckDB computes the same byte lengths with ``encode``); the
Pandas-UDF feature path (``media_byte_features``) has no SQL equivalent
and registers as a rows-only query; its numeric correctness is pinned by
tests/test_multimodal.py against a Python reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_cs4225_spark.functions.multimodal import (
    extract_media_features,
    media_from_documents,
)
from hadoop_cs4225_spark.functions.numeric import quant, quant_sql
from hadoop_cs4225_spark.operators.dedup import N_PERMS, _PERM_MOD
from hadoop_cs4225_spark.registry import register
from hadoop_cs4225_spark.sources.sinks import derived_layout, read_derived
from hadoop_cs4225_spark.sources.tables import load_table


@register(
    "media_metadata_stats",
    oracle="""
SELECT media_type,
       COUNT(*) AS n_items,
       CAST(SUM(content_len) AS BIGINT) AS total_bytes,
       MAX(CAST(ceil(content_len / 256.0) AS INT)) AS max_frames
FROM (
  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS content_len
  FROM documents
) m
GROUP BY media_type
ORDER BY media_type
""",
)
def media_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over binary payloads (no decode)."""
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("content_len").alias("total_bytes"),
            F.max(F.ceil(F.col("content_len") / 256.0).cast("int")).alias(
                "max_frames"
            ),
        )
        .orderBy("media_type")
    )


@register(
    "media_frame_chunks",
    oracle="""
-- Byte-based frame oracle: DuckDB 1.0 cannot slice BLOBs, but
-- hex(encode(text)) renders the payload's BYTES as a hex string where
-- character slicing IS byte slicing (2 chars per byte) — so the
-- 8-byte frame head is the 16-hex-char slice at offset 512*f. This
-- holds for arbitrary (non-ASCII) payloads, unlike the former
-- substr(decode(..)) character-sliced oracle.
SELECT doc_id, CAST(g.f AS INT) AS frame_no,
       CAST(least(256, content_len - 256 * g.f) AS INT) AS frame_len,
       substr(hex(encode(text)), 1 + 512 * g.f, 16) AS frame_head_hex
FROM (
  SELECT doc_id, text,
         CAST(octet_length(encode(text)) AS BIGINT) AS content_len
  FROM documents WHERE doc_id <= 20
) m, LATERAL (SELECT unnest(range(0, CAST(ceil(content_len / 256.0) AS BIGINT))) AS f) g
ORDER BY doc_id, frame_no
""",
)
def media_frame_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: split each blob into 256-byte
    frames (1 row per frame) with per-frame offsets/lengths and the
    frame's leading 8 bytes (hex-rendered, byte-exact cross-engine).

    Pure expressions — ``sequence``+``posexplode`` replicate the row, and
    binary ``substring`` slices the payload; a real video pipeline swaps
    the slice for a Pandas-UDF decoder but keeps this exact exploded
    shape (frame rows partition evenly across executors).
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 20)
    media = media_from_documents(docs)
    frames = media.select(
        "doc_id",
        "content",
        "content_len",
        F.posexplode(
            F.sequence(
                F.lit(0),
                (F.ceil(F.col("content_len") / 256.0) - 1).cast("long"),
            )
        ).alias("frame_no", "f"),
    )
    return (
        frames.select(
            "doc_id",
            F.col("frame_no").cast("int").alias("frame_no"),
            F.least(
                F.lit(256).cast("long"), F.col("content_len") - 256 * F.col("f")
            )
            .cast("int")
            .alias("frame_len"),
            F.hex(F.expr("substring(content, 1 + 256 * f, 8)")).alias(
                "frame_head_hex"
            ),
        )
        .orderBy("doc_id", "frame_no")
    )


@register("media_byte_features")  # Pandas-UDF path: no SQL oracle (rows-only)
def media_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched byte-histogram features via ``mapInPandas``.

    The decode step is the documented stub; the Spark plumbing (schema,
    batch iteration, 1:1 row mapping, array output column) is real.
    """
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 100)
    media = media_from_documents(docs)
    feats = extract_media_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "content_len",
        "n_frames",
        F.element_at("byte_hist", 8).alias("hist_bin7"),
    ).orderBy("doc_id")


@register("media_byte_features_arrow")  # mapInArrow path: no SQL oracle
def media_byte_features_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` byte-histogram features — numerically identical to
    `media_byte_features` (pinned in tests/test_multimodal.py) without
    the Arrow->pandas bytes-copy per row."""
    from hadoop_cs4225_spark.functions.multimodal import (
        extract_media_features_arrow,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") <= 100)
    media = media_from_documents(docs)
    feats = extract_media_features_arrow(media)
    return feats.select(
        "doc_id",
        "media_type",
        "content_len",
        "n_frames",
        F.element_at("byte_hist", 8).alias("hist_bin7"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Round-8 batch 5: content-chunk dedup ratio over binary payloads
# ---------------------------------------------------------------------------

#: Fixed chunk width (bytes of the synthetic UTF-8 payload = chars).
_CHUNK_BYTES = 256


@register(
    "media_chunk_dedup_ratio",
    oracle=f"""
WITH chunks AS (
  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         md5(substr(text, g.i * {_CHUNK_BYTES} + 1, {_CHUNK_BYTES})) AS h
  FROM documents,
       LATERAL (SELECT unnest(range(0,
         CAST(ceil(length(text) / {_CHUNK_BYTES}.0) AS BIGINT))) AS i) g
)
SELECT media_type,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique,
       {quant_sql("1.0 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*)", 6)}
         AS dedup_ratio
FROM chunks
GROUP BY media_type
ORDER BY media_type
""",
)
def media_chunk_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size content-chunk deduplication ratio per media type —
    the STORAGE question behind every multimodal lake ("how much of
    these 100 TB of blobs is literally the same bytes?"): payloads are
    split into 256-byte chunks, chunks are content-hashed, and the
    ratio 1 - unique/total is the fraction a chunk-level store (CDC
    backup, CAS blob store) would not have to keep. Complements the
    DOCUMENT-level exact dedup (``dedup_exact_summary``): chunk grain
    finds sharing across documents that are not wholly identical.

    The synthetic payload is the UTF-8 text (the multimodal module's
    standing contract), so byte offsets equal char offsets and the
    oracle chunks the same text with the same md5. Plan: one map-side
    chunk explode (corpus-linear) into a distinct-count aggregate per
    media type — no joins; a real CDC variant would swap the fixed
    stride for a rolling-hash cut inside the same plan shape.

    No reference analogue; extends the SURVEY §2 multimodal family.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.length("text") / float(_CHUNK_BYTES)).cast("long")
    chunks = docs.select(
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
        "text",
    ).select(
        "media_type",
        F.md5(
            F.encode(
                F.expr(
                    f"substring(text, i * {_CHUNK_BYTES} + 1, {_CHUNK_BYTES})"
                ),
                "UTF-8",
            )
        ).alias("h"),
    )
    return (
        chunks.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("h").cast("long").alias("n_unique"),
        )
        .select(
            "media_type",
            "n_chunks",
            "n_unique",
            quant(
                1.0 - F.col("n_unique").cast("double") / F.col("n_chunks"), 6
            ).alias("dedup_ratio"),
        )
        .orderBy("media_type")
    )


# ---------------------------------------------------------------------------
# Round-13: byte-level near-dup over binary payloads (fuzzy-hash family)
# ---------------------------------------------------------------------------

#: Byte-shingle geometry: 8-byte windows at stride 4. Shingles are
#: hex-rendered (2 chars/byte) so the DuckDB oracle can slice the SAME
#: byte windows out of ``hex(encode(text))`` — byte-exact for
#: arbitrary payloads (the media_frame_chunks discipline).
_BSH_LEN = 8
_BSH_STRIDE = 4

#: Verified byte-Jaccard admission threshold.
_BSH_MIN_JAC = 0.05


def _byte_shingle_sets(docs: DataFrame) -> DataFrame:
    """``(doc_id, sh array<string>)`` — the DISTINCT byte-shingle set
    per eligible doc (hex-rendered {_BSH_LEN}-byte windows at stride
    {_BSH_STRIDE}), the single definition shared by the written layout
    (:func:`ensure_byte_shingle_sets`), its streaming maintainer
    (``streaming.run_incremental_byte_shingles``) and the inline
    DuckDB oracle of ``media_byte_minhash_pairs``."""
    media = media_from_documents(docs)
    sh = (
        media.where(F.col("content_len") >= _BSH_LEN)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(
                        (F.col("content_len") - _BSH_LEN) / _BSH_STRIDE
                    ).cast("long"),
                )
            ).alias("k"),
            "content",
        )
        .select(
            "doc_id",
            F.hex(
                F.expr(
                    f"substring(content, CAST(1 + {_BSH_STRIDE} * k AS INT),"
                    f" {_BSH_LEN})"
                )
            ).alias("s"),
        )
    )
    # map-side partial collect_set = map-side dedup; ONE shuffle.
    return sh.groupBy("doc_id").agg(F.collect_set("s").alias("sh"))


def _byte_sigs_from_sets(sets: DataFrame) -> DataFrame:
    """4-permutation MinHash signatures ``(doc_id, bmh0..bmh3)`` over
    the distinct byte-shingle sets (MIN is duplicate-insensitive, so
    signatures over the set equal signatures over raw windows)."""
    shd = sets.select("doc_id", F.explode("sh").alias("s"))
    x = F.md5("s")
    hs = shd.select(
        "doc_id",
        F.conv(F.substring(x, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(x, 17, 15), 16, 10).cast("long").alias("h2"),
    )
    return hs.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + F.lit(i) * F.col("h2")) % F.lit(_PERM_MOD))
            .alias(f"bmh{i}")
            for i in range(N_PERMS)
        ]
    )


@derived_layout(
    "documents_byte_shingles",
    config=(
        f"bsh_len={_BSH_LEN};stride={_BSH_STRIDE};hex=1;"
        f"min_len={_BSH_LEN};content=encode(text);distinct=1"
    ),
)
def ensure_byte_shingle_sets(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The BYTE-SHINGLE SET layout
    (``.derived/<sf>/documents_byte_shingles``: one row per eligible
    doc, ``doc_id, sh array<string>``) — the multimodal twin of
    ``dedup.ensure_shingle_sets`` (VERDICT r13 task 2).
    ``media_byte_minhash_pairs``'s dominant cost was the raw byte-window
    explode (substring+hex over every payload) re-run per invocation;
    the windows are pure corpus state at byte grain, so they are
    written once per corpus snapshot and every probe reads them.
    The DuckDB oracle recomputes the windows inline, so parity verifies
    the index CONTENT every round. Incrementally maintained by
    ``streaming.run_incremental_byte_shingles`` (documents are
    immutable, so per-doc set rows are append-only)."""
    _byte_shingle_sets(load_table(spark, sf_dir, "documents")).write.parquet(path)


def byte_shingle_sets_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The written byte-shingle set layout (ensure + read)."""
    return read_derived(spark, ensure_byte_shingle_sets(spark, sf_dir))


@derived_layout(
    "documents_byte_minhash_sigs",
    config=f"n_perms={N_PERMS};perm_mod={_PERM_MOD}",
    upstream=("documents_byte_shingles",),
)
def ensure_byte_minhash_sigs(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The byte-grain MinHash SIGNATURE index
    (``.derived/<sf>/documents_byte_minhash_sigs``: ``doc_id,
    bmh0..bmh3``) — built FROM the byte-shingle set layout (one window
    explode per corpus snapshot serves both layouts), the byte twin of
    ``dedup.ensure_minhash_sig_index``. The md5 + 4-permutation fold
    over ~all distinct windows was the query's second irreducible
    per-run cost; signatures are corpus state, so the banded candidate
    generation reads N_PERMS longs per doc instead."""
    _byte_sigs_from_sets(byte_shingle_sets_frame(spark, sf_dir)).write.parquet(path)


def byte_minhash_sigs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The written byte MinHash signature index (ensure + read)."""
    return read_derived(spark, ensure_byte_minhash_sigs(spark, sf_dir))


def _bsh_minhash_sql() -> str:
    mins = ", ".join(
        f"MIN((h1 + {i} * h2) % {_PERM_MOD}) AS bmh{i}" for i in range(N_PERMS)
    )
    return f"""m AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS BIGINT) AS len
  FROM documents
), bsh AS (
  SELECT DISTINCT doc_id,
         substr(hx, CAST(1 + {2 * _BSH_STRIDE} * g.k AS BIGINT),
                {2 * _BSH_LEN}) AS s
  FROM m, LATERAL (
    SELECT unnest(range(0, ((len - {_BSH_LEN}) // {_BSH_STRIDE}) + 1)) AS k
  ) g
  WHERE len >= {_BSH_LEN}
), bsets AS (
  SELECT doc_id, list(s) AS sh FROM bsh GROUP BY doc_id
), bhs AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(s), 17, 15))::BIGINT AS h2
  FROM bsh
), bsigs AS (
  SELECT doc_id, {mins} FROM bhs GROUP BY doc_id
)"""


def _media_pairs_oracle() -> str:
    from hadoop_cs4225_spark.operators.dedup import LSH_BUCKET_CAP, N_PERMS
    from hadoop_cs4225_spark.functions.numeric import quant_sql

    band_case = " ".join(
        f"WHEN {i} THEN bmh{i}" for i in range(N_PERMS)
    )
    jac = (
        "CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE) / "
        "(len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh)))"
    )
    return f"""
WITH {_bsh_minhash_sql()},
bands AS (
  SELECT doc_id, b.band, CASE b.band {band_case} END AS bh
  FROM bsigs, (SELECT unnest(range(0, {N_PERMS})) AS band) b
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
       CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_common,
       {quant_sql(jac, 6)} AS byte_jaccard
FROM cand
JOIN bsets s1 ON s1.doc_id = d1
JOIN bsets s2 ON s2.doc_id = d2
WHERE {jac} >= {_BSH_MIN_JAC}
ORDER BY d1, d2
"""


@register("media_byte_minhash_pairs", oracle=_media_pairs_oracle())
def media_byte_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection over OPAQUE BINARY payloads — the
    fuzzy-hash (ssdeep/CTPH) family re-expressed as byte-shingle
    MinHash + LSH: {_BSH_LEN}-byte windows at stride {_BSH_STRIDE},
    4-permutation signatures, banded candidate generation under the
    shared ``LSH_BUCKET_CAP``, and an exact byte-shingle Jaccard
    verify. This is how a 100 TB multimodal lake finds re-encoded or
    lightly-edited copies of images/audio WITHOUT decoding them (no
    codec in the loop — pure byte structure), complementing
    ``media_chunk_dedup_ratio``'s exact-chunk story.

    Plan shape (r14, VERDICT r13 task 2): the raw byte-window explode
    (substring+hex over every payload) and the md5 + 4-permutation
    signature fold moved into WRITTEN layouts
    (:func:`ensure_byte_shingle_sets` / :func:`ensure_byte_minhash_sigs`
    — the r12 written-index discipline at byte grain); the query is a
    banded self-join over the signature index scan plus a set-keyed
    verify over the set-layout scan. Shingles hex-render so the oracle
    can slice identical windows from ``hex(encode(text))``. All hashes
    are the cross-engine md5/hash60 split — bit-identical in DuckDB.
    """
    from pyspark.sql import Window

    from hadoop_cs4225_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        N_PERMS,
    )

    # hint("merge"): the set layout's COMPRESSED size sits under the
    # broadcast threshold, so Catalyst would otherwise broadcast the
    # full shingle-array table for BOTH verify joins — hundreds of MB
    # decompressed, built twice (the jaccard_prefix_filter_pairs
    # precedent). Sort-merge streams the arrays once per side.
    sets = byte_shingle_sets_frame(spark, sf_dir).hint("merge")
    sigs = byte_minhash_sigs_frame(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"bmh{i}").alias("bh")
                    )
                    for i in range(N_PERMS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    kept = (
        bands.withColumn(
            "bn", F.count(F.lit(1)).over(Window.partitionBy("band", "bh"))
        )
        .where(F.col("bn") <= LSH_BUCKET_CAP)
        .drop("bn")
        # both self-join sides read this N_PERMS·|docs|-row frame; one
        # window computation instead of two (persist, not checkpoint:
        # per-invocation frame, freed by the bench's clearCache)
        .persist()
    )
    a, c = kept.alias("a"), kept.alias("c")
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
    s1 = sets.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    s2 = sets.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2"))
    union = F.size("sh1") + F.size("sh2") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .where(jac >= _BSH_MIN_JAC)
        .select(
            "d1",
            "d2",
            inter.cast("bigint").alias("n_common"),
            quant(jac, 6).alias("byte_jaccard"),
        )
        .orderBy("d1", "d2")
    )
