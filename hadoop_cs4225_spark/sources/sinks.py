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


def walk_layouts(sources: tuple[str, ...] | None = None) -> list[Layout]:
    """Every declared layout, each after its upstream layouts; with
    ``sources``, only the layouts built from those tables alone."""
    order: dict[str, Layout] = {}

    def visit(leaf: str) -> None:
        if leaf not in order:
            for u in LAYOUTS[leaf].upstream:
                visit(u)
            order[leaf] = LAYOUTS[leaf]

    for leaf in LAYOUTS:
        visit(leaf)
    return [
        lay for lay in order.values()
        if sources is None or set(lay.sources) <= set(sources)
    ]


#: Memoized derived-layout read plans:
#: ``(applicationId, normpath, fingerprint mtime_ns) -> DataFrame``. The
#: twin of ``sources/tables._DF_CACHE`` for ``.derived`` layouts (guide
#: §6 / §1.2: a repeated ``spark.read.parquet`` of an already-built
#: layout pays file listing + footer schema inference — ~0.1 s of
#: driver-side fixed cost per call, multiplied across the ~40
#: index-reading queries of a suite run). A DataFrame is an immutable
#: logical plan, so reuse is always semantically safe. Keyed by the
#: commit marker's mtime so an in-session rebuild invalidates
#: automatically, and by applicationId so a fresh session never sees
#: another session's plans.
_READ_CACHE: dict[tuple[str, str, int], DataFrame] = {}


def read_derived(spark: SparkSession, path: str) -> DataFrame:
    """Read a built ``.derived`` layout with plan memoization (callers
    must have run their ``ensure_*`` first).

    ADVICE r13: never cache under a missing commit marker (every
    rebuild of a marker-less layout would map to the same key and serve
    a stale file-listing plan forever)."""
    app = spark.sparkContext.applicationId
    norm = os.path.normpath(path)
    try:
        mtime = os.stat(os.path.join(path, DERIVED_CONFIG)).st_mtime_ns
    except FileNotFoundError:
        return spark.read.parquet(path)
    key = (app, norm, mtime)
    df = _READ_CACHE.get(key)
    if df is None:
        # Evict entries from stopped SparkContexts and superseded
        # rebuilds of this same path (the tables._DF_CACHE discipline).
        for stale in [
            k
            for k in _READ_CACHE
            if k[0] != app or (k[1] == norm and k[2] != mtime)
        ]:
            del _READ_CACHE[stale]
        df = spark.read.parquet(path)
        _READ_CACHE[key] = df
    return df


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
