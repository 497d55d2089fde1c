"""The benchmark's workloads.

Each workload is a fixed list of calls into the engine, run by one client
in a closed loop: one query (or one maintain call) at a time, the next
only after the previous one returned. A pass is one run over the query
list or, for the stream workload (no queries), one micro-batch. The seed
only permutes the order of the queries within a pass and, for the stream,
which documents land in which micro-batch; it never changes the total
work of a pass.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: Wall seconds of one steady pass on the reference host (4 cores).
    #: ``--seconds`` divided by this gives the number of steady passes,
    #: so every run of a workload measures the same amount of work.
    nominal_pass_s: float
    #: Passes run between the cold pass and the steady passes and left
    #: out of the steady statistics: the JIT is still compiling the hot
    #: paths while they run.
    warmup_passes: int
    #: Registered query names, run once each per pass; empty for the stream.
    queries: tuple[str, ...] = ()


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="olap_reference",
            why=(
                "The reference's word-count and top-k jobs plus TPC-H "
                "queries: one lazy plan each with no layouts, memos or "
                "streaming, so it is the control that layout, memo and "
                "iteration work must not move."
            ),
            queries=(
                "word_count",
                "topk_common_words_max",
                "q1_pricing_summary",
                "q9_product_profit",
            ),
            nominal_pass_s=2.2,
            warmup_passes=2,
        ),
        Workload(
            name="llm_index",
            why=(
                "Dedup, n-gram and winnowing queries: the cold pass writes "
                "the written indexes and session memos while it builds the "
                "queries and steady passes only read them, so it shows both "
                "sides of sources.sinks."
            ),
            queries=(
                "dedup_clusters",
                "duplicate_ngram_coverage",
                "doc_winnowing_fingerprints",
                "winnowing_dup_pairs",
            ),
            nominal_pass_s=2.0,
            warmup_passes=2,
        ),
        Workload(
            name="stream_maintain",
            why=(
                "Documents arrive in micro-batches and the token-count and "
                "shingle-postings indexes are maintained after each one, so "
                "per-batch latency shows whether maintenance is O(batch)."
            ),
            nominal_pass_s=3.0,
            warmup_passes=1,
        ),
    )
}
