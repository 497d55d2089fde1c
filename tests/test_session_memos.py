"""The declared session-memo table (``sinks.MEMOS``).

A memo's stamp covers only what it declares, so a build that reads an
undeclared layout, table or memo would serve a stale frame after that
input moves. These tests hold every declaration to what its build
actually touches, and the warm-up to the table.
"""

from __future__ import annotations

import os
import sys

import pytest

from hadoop_cs4225_spark import registry
from hadoop_cs4225_spark.sources import sinks, tables
from tests.conftest import SF_SMOKE

registry.load_all()


def _declared(kind: str) -> tuple[set[str], set[str], set[str]]:
    """The layouts, tables and memos a memo's build may touch: its own
    declarations plus those of its upstream memos."""
    memo = sinks.MEMOS[kind]
    layouts, srcs, memos = set(memo.layouts), set(memo.sources), {kind}
    for u in memo.upstream:
        ul, us, um = _declared(u)
        layouts, srcs, memos = layouts | ul, srcs | us, memos | um
    return layouts, srcs, memos


@pytest.fixture
def touched(monkeypatch):
    """Record every layout ensured and every table loaded outside a
    layout build. What a layout build reads is the layout's own
    declaration (``sinks.LAYOUTS``), and it runs only when the layout is
    stale, so only the build's direct reads are recorded."""
    seen: dict[str, set[str]] = {"layouts": set(), "tables": set()}
    depth = [0]
    real_ensure = sinks.ensure

    def ensure(spark, sf_dir, layout):
        if not depth[0]:
            seen["layouts"].add(layout.leaf)
        depth[0] += 1
        try:
            return real_ensure(spark, sf_dir, layout)
        finally:
            depth[0] -= 1

    def recorder(real, name=None):
        def load(spark, sf_dir, *args):
            if not depth[0]:
                seen["tables"].add(name or args[0])
            return real(spark, sf_dir, *args)

        return load

    monkeypatch.setattr(sinks, "ensure", ensure)
    wrapped = {
        tables.load_table: recorder(tables.load_table),
        tables.load_events: recorder(tables.load_events, "events"),
    }
    for modname, mod in list(sys.modules.items()):
        if modname.startswith("hadoop_cs4225_spark") and mod is not None:
            for attr in ("load_table", "load_events"):
                fn = getattr(mod, attr, None)
                if fn in wrapped:
                    monkeypatch.setattr(mod, attr, wrapped[fn])
    return seen


@pytest.mark.parametrize("kind", sorted(sinks.MEMOS))
def test_memo_reads_what_it_declares(spark, touched, kind):
    """Built from an empty table, a memo touches exactly its declared
    closure: the layouts and tables it and its upstream memos declare,
    and it builds exactly itself and its upstream memos."""
    sinks.MEMO_FRAMES.clear()
    sinks.MEMOS[kind].get(spark, SF_SMOKE)
    built = {key[1][0] for key in sinks.MEMO_FRAMES.entries}
    layouts, srcs, memos = _declared(kind)
    assert touched["layouts"] == layouts
    assert touched["tables"] == srcs
    assert built == memos


def test_warm_walk_covers_the_warm_memos(spark):
    """The warm-up walks the table: it returns exactly the memos declared
    ``warm``, and each warmed accessor is then a hit."""
    sinks.MEMO_FRAMES.clear()
    timings = registry.warm_shared_frames(spark, SF_SMOKE)
    assert set(timings) == {m.kind for m in sinks.MEMOS.values() if m.warm}
    app = spark.sparkContext.applicationId
    norm = os.path.normpath(SF_SMOKE)
    for kind in timings:
        warmed = sinks.MEMO_FRAMES.entries[(app, (kind, norm))][1]
        assert sinks.MEMOS[kind].get(spark, SF_SMOKE) is warmed, kind
