"""Sinks (SURVEY.md §2.2): Parquet + the reference's text-KV format.

Reference parity: Hadoop ``TextOutputFormat`` writes ``key TAB value``
lines and fails when the output directory exists (``WordCount.java:61``,
``TopkCommonWords.java:174``); ``mode("error")`` reproduces the
exists-check, ``write_text_kv`` the format (TopkCommonWords emits
``count TAB word`` — key=count, ``TopkCommonWords.java:149``).

Scale: ``write_partitioned`` is the 100 TB layout primitive — partition
columns become directory pruning keys for every downstream scan
(e.g. ``events`` by day, ``documents`` by lang/source).

Derived layouts: every write-once ``.derived`` table (indexes, format
copies, clustered/bucketed copies) is declared once with
:func:`derived_layout` into :data:`LAYOUTS`, and one generic
:func:`ensure` owns its path, freshness and commit; warm-ups and probes
walk the table (:func:`walk_layouts`) instead of keeping lists.

Session memos: every frame shared by several queries for the lifetime
of one Spark session is declared once with :func:`session_memo` into
:data:`MEMOS`, next to the layouts it reads, and kept in one
:class:`SessionCache` — the same primitive that keeps the read plans of
layouts and tables.
"""

from __future__ import annotations

import functools
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Repo-local root for derived layouts (gitignored; rebuilt on demand).
DERIVED_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".derived",
)

#: The single commit marker of every derived layout: its definition
#: fingerprint, written after the data (see :func:`ensure`).
DERIVED_CONFIG = "_DERIVED_CONFIG"


def derived_path(sf_dir: str, leaf: str) -> str:
    """Canonical location of a derived layout: ``.derived/<sf-tag>/<leaf>``."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(DERIVED_ROOT, tag, leaf)


@dataclass(frozen=True)
class Layout:
    """One declared derived layout: written under
    ``derived_path(sf_dir, leaf)`` by ``build(spark, sf_dir, path)`` from
    the ``sources`` tables of an sf dir. ``config`` names every constant
    that changes what ``build`` writes; ``upstream`` names the layouts
    ``build`` reads."""

    leaf: str
    sources: tuple[str, ...]
    config: str
    upstream: tuple[str, ...]
    build: Callable[[SparkSession, str, str], object]

    @property
    def fingerprint(self) -> str:
        """``config`` with every upstream fingerprint folded in verbatim,
        so a definition change upstream rebuilds this layout too."""
        return self.config + "".join(
            f";{u}=[{LAYOUTS[u].fingerprint}]" for u in self.upstream
        )

    def fresh(self, sf_dir: str, path: str) -> bool:
        """The commit rule: the fingerprint file exists, is newer than
        every source parquet (the source can be regenerated while
        ``.derived`` persists), and holds this layout's fingerprint (an
        mtime cannot see a code change to the definition)."""
        marker = os.path.join(path, DERIVED_CONFIG)
        srcs = (os.path.join(sf_dir, f"{t}.parquet") for t in self.sources)
        if not derived_is_fresh(marker, *srcs):
            return False
        with open(marker) as f:
            return f.read() == self.fingerprint


#: Every declared derived layout by leaf, filled by :func:`derived_layout`.
LAYOUTS: dict[str, Layout] = {}


def ensure(spark: SparkSession, sf_dir: str, layout: Layout) -> str:
    """Build ``layout`` for ``sf_dir`` unless it is fresh; returns its path.

    A stale directory is cleared first, so no file of an older build
    survives into the new one, and the fingerprint is written last, so
    an interrupted build never looks committed."""
    path = derived_path(sf_dir, layout.leaf)
    if not layout.fresh(sf_dir, path):
        shutil.rmtree(path, ignore_errors=True)
        layout.build(spark, sf_dir, path)
        with open(os.path.join(path, DERIVED_CONFIG), "w") as f:
            f.write(layout.fingerprint)
    return path


def derived_layout(
    leaf: str,
    *,
    config: str,
    sources: tuple[str, ...] = ("documents",),
    upstream: tuple[str, ...] = (),
) -> Callable[[Callable], Callable[[SparkSession, str], str]]:
    """Declare a derived layout: record it in :data:`LAYOUTS` and turn the
    decorated ``build(spark, sf_dir, path)`` into ``ensure(spark, sf_dir)
    -> path`` under the same name (see :class:`Layout`)."""

    def deco(build):
        layout = Layout(leaf, tuple(sources), config, tuple(upstream), build)
        LAYOUTS[leaf] = layout

        @functools.wraps(build)
        def ensure_layout(spark: SparkSession, sf_dir: str) -> str:
            return ensure(spark, sf_dir, layout)

        return ensure_layout

    return deco


def _upstream_first(table: dict) -> list:
    """The entries of a declaration table, each after its ``upstream``."""
    order: dict = {}

    def visit(name: str) -> None:
        if name not in order:
            for u in table[name].upstream:
                visit(u)
            order[name] = table[name]

    for name in table:
        visit(name)
    return list(order.values())


def walk_layouts(sources: tuple[str, ...] | None = None) -> list[Layout]:
    """Every declared layout, each after its upstream layouts; with
    ``sources``, only the layouts built from those tables alone."""
    return [
        lay for lay in _upstream_first(LAYOUTS)
        if sources is None or set(lay.sources) <= set(sources)
    ]


def mtime_ns(path: str) -> int | None:
    """``st_mtime_ns`` of ``path``, or None if it does not exist."""
    try:
        return os.stat(path).st_mtime_ns
    except FileNotFoundError:
        return None


class SessionCache:
    """``(applicationId, key) -> (stamp, value)`` for objects that live
    as long as one Spark session: read plans and session memos.

    A lookup whose stamp differs from the stored one rebuilds the value,
    so a rewritten file is never served from an older plan. Every insert
    drops the entries of other applicationIds: they belong to a stopped
    SparkContext, whose plans and checkpointed RDDs are dead, and a
    session-restarting process must not keep them alive."""

    def __init__(self) -> None:
        self.entries: dict[tuple[str, object], tuple[object, object]] = {}

    def get(self, spark: SparkSession, key, stamp: Callable[[], object], build: Callable):
        """The value under ``key``, rebuilt with ``build()`` unless it was
        stored under the current ``stamp()``. A built value is stored
        under the stamp read *after* ``build`` returns, so it is keyed on
        whatever files the build itself has just (re)written."""
        app = spark.sparkContext.applicationId
        hit = self.entries.get((app, key))
        if hit is not None and hit[0] == stamp():
            return hit[1]
        value = build()
        for k in [k for k in self.entries if k[0] != app]:
            del self.entries[k]
        self.entries[(app, key)] = (stamp(), value)
        return value

    def drop(self, spark: SparkSession, key) -> bool:
        """Forget ``key`` for this session; True if it was cached."""
        app = spark.sparkContext.applicationId
        return self.entries.pop((app, key), None) is not None

    def clear(self) -> None:
        self.entries.clear()


#: Read plans of built layouts, keyed by path and stamped with the
#: commit marker's mtime. A repeated ``spark.read.parquet`` of a built
#: layout pays file listing and footer schema inference (~0.1 s of
#: driver-side cost per call, across ~40 index-reading queries); a
#: DataFrame is an immutable plan, so reusing it is always safe, and an
#: in-session rebuild moves the stamp.
LAYOUT_READS = SessionCache()


def read_derived(spark: SparkSession, path: str) -> DataFrame:
    """Read a built ``.derived`` layout with plan memoization (callers
    must have run their ``ensure_*`` first).

    Never cached under a missing commit marker: every rebuild of a
    marker-less layout would map to the same stamp and serve a stale
    file-listing plan forever."""
    marker = os.path.join(path, DERIVED_CONFIG)
    if not os.path.exists(marker):
        return spark.read.parquet(path)
    return LAYOUT_READS.get(
        spark, os.path.normpath(path), lambda: mtime_ns(marker),
        lambda: spark.read.parquet(path),
    )


@dataclass(frozen=True)
class Memo:
    """One declared session memo: the frame ``build(spark, sf_dir)``
    returns, shared by every consumer for the session's lifetime.

    ``build`` returns an already-materialized frame (its last step a
    ``localCheckpoint``, or a projection over one), so the memo outlives
    ``clearCache()``; its checkpointed blocks are MEMORY_AND_DISK, so
    the few corpus-linear memos (``kmeans_assign``, the trade edge
    lists, ``blm_doc_scores``) spill to disk rather than evict.
    ``sources`` names the tables ``build`` loads, ``layouts`` the
    written layouts it ensures and reads (``build`` calls their
    ``ensure_*`` itself), and ``upstream`` the memos it reads. ``warm``
    puts the memo in the warm-up walk (:func:`walk_memos`)."""

    kind: str
    sources: tuple[str, ...]
    layouts: tuple[str, ...]
    upstream: tuple[str, ...]
    warm: bool
    build: Callable[[SparkSession, str], DataFrame]

    def stamp(self, sf_dir: str) -> tuple:
        """What the frame was built from: the mtimes of the source
        parquets (its own and its layouts'), the mtimes of its layouts'
        commit markers, and every upstream memo's stamp folded in, as
        :attr:`Layout.fingerprint` folds in upstream fingerprints."""
        tables = (*self.sources, *(t for lay in self.layouts for t in LAYOUTS[lay].sources))
        own = (
            *(mtime_ns(os.path.join(sf_dir, f"{t}.parquet")) for t in tables),
            *(
                mtime_ns(os.path.join(derived_path(sf_dir, lay), DERIVED_CONFIG))
                for lay in self.layouts
            ),
        )
        return (own, *(MEMOS[u].stamp(sf_dir) for u in self.upstream))

    def get(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return MEMO_FRAMES.get(
            spark, (self.kind, os.path.normpath(sf_dir)),
            lambda: self.stamp(sf_dir), lambda: self.build(spark, sf_dir),
        )


#: Every declared session memo by kind, filled by :func:`session_memo`.
MEMOS: dict[str, Memo] = {}

#: The built memo frames, keyed by ``(kind, sf_dir)``.
MEMO_FRAMES = SessionCache()


def session_memo(
    kind: str,
    *,
    sources: tuple[str, ...] = (),
    layouts: tuple[str, ...] = (),
    upstream: tuple[str, ...] = (),
    warm: bool = True,
) -> Callable[[Callable], Callable[[SparkSession, str], DataFrame]]:
    """Declare a session memo: record it in :data:`MEMOS` and turn the
    decorated ``build(spark, sf_dir)`` into the memoized accessor under
    the same name (see :class:`Memo`)."""

    def deco(build):
        memo = Memo(kind, tuple(sources), tuple(layouts), tuple(upstream), warm, build)
        MEMOS[kind] = memo

        @functools.wraps(build)
        def accessor(spark: SparkSession, sf_dir: str) -> DataFrame:
            return memo.get(spark, sf_dir)

        return accessor

    return deco


def walk_memos() -> list[Memo]:
    """Every declared memo, each after its upstream memos."""
    return _upstream_first(MEMOS)


def evict_memo(spark: SparkSession, sf_dir: str, kind: str) -> bool:
    """Drop a session memo so its next consumer rebuilds it, identically
    (the eviction path for the corpus-linear memos). Returns True if a
    frame was dropped; its checkpointed blocks are freed when the RDD is
    garbage-collected (ContextCleaner)."""
    return MEMO_FRAMES.drop(spark, (kind, os.path.normpath(sf_dir)))


def write_parquet(df: DataFrame, path: str, mode: str = "error") -> None:
    """Parquet sink; default errors if the path exists (Hadoop parity)."""
    df.write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: tuple[str, ...], mode: str = "error"
) -> None:
    """Partitioned Parquet layout (directory-pruning keys at scale)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_text_kv(
    df: DataFrame, path: str, key_col: str, value_col: str, mode: str = "error"
) -> None:
    """Hadoop TextOutputFormat-style ``key TAB value`` lines.

    ``coalesce(1)`` keeps the reference's single-file shape for
    golden-comparable outputs; drop it for large results (one file per
    partition, like part-r-NNNNN).
    """
    out = df.select(
        F.concat_ws("\t", F.col(key_col).cast("string"), F.col(value_col).cast("string")).alias(
            "value"
        )
    )
    out.coalesce(1).write.mode(mode).text(path)


def write_compacted(
    df: DataFrame,
    path: str,
    target_rows_per_file: int,
    total_rows: int | None = None,
    mode: str = "error",
) -> None:
    """Small-file-safe Parquet sink: bound file count AND file size.

    The two small-file levers, composed:
    - ``repartition(ceil(n / target))`` sets the number of write tasks
      (without it, a 2000-task shuffle output writes 2000 files even
      when 10 would do — the classic metastore/namenode killer);
    - ``maxRecordsPerFile`` caps any single file so one skewed write
      task cannot emit a multi-GB file.

    ``total_rows`` avoids a count() job when the caller already knows
    the cardinality; at scale pass an estimate (row count from the
    shuffle stage, or bytes/avg-row-size).
    """
    n = total_rows if total_rows is not None else df.count()
    nfiles = max(1, -(-n // max(1, target_rows_per_file)))
    (
        df.repartition(nfiles)
        .write.option("maxRecordsPerFile", target_rows_per_file)
        .mode(mode)
        .parquet(path)
    )


def derived_is_fresh(marker: str, *sources: str) -> bool:
    """True iff ``marker`` exists and is newer than every source file.

    Guard for repo-local derived layouts (``.derived/``): the driver can
    regenerate the testdata parquet between rounds while the derived
    copies persist, and an existence-only check would then serve STALE
    data silently. mtime comparison makes re-derivation automatic.
    """
    if not os.path.exists(marker):
        return False
    m = os.path.getmtime(marker)
    return all(
        os.path.exists(s) and os.path.getmtime(s) < m for s in sources
    )
