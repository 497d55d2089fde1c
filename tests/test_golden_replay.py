"""Byte-exact replay of the reference's golden outputs (SURVEY.md §5).

The reference's only real test strategy is golden-file E2E: run the job
on the committed Gutenberg corpora and diff against input/answer{1,2}.txt.
These tests reproduce both goldens byte-exactly through the Spark
pipeline — locking gotchas G1 (tokenizer), G3 (min/max variants),
G4 (descending tie order), G5 (case-sensitive stopwords).
"""

from __future__ import annotations

from pathlib import Path

import pytest

from hadoop_cs4225_spark.operators.wordcount import (
    format_tsv,
    topk_common_words_text,
    word_count_text,
)

REF = Path("/root/reference/input")
#: WordCount smoke inputs, committed byte-exactly from FIXTURES.md §A.
FIXTURES = Path(__file__).resolve().parent / "fixtures"


def _needs_reference(*names: str):
    """Skip only while a reference file the replay reads is absent."""
    missing = [str(REF / n) for n in names if not (REF / n).exists()]
    return pytest.mark.skipif(
        bool(missing), reason=f"reference input not present: {', '.join(missing)}"
    )


_TOPK_INPUTS = ("task1-input1.txt", "task1-input2.txt", "stopwords.txt")


@_needs_reference(*_TOPK_INPUTS, "answer2.txt")
def test_topk_max_matches_answer2(spark):
    df = topk_common_words_text(
        spark,
        str(REF / "task1-input1.txt"),
        str(REF / "task1-input2.txt"),
        str(REF / "stopwords.txt"),
        mode="max",
    )
    got = format_tsv(df, ("score", "word"))
    expected = (REF / "answer2.txt").read_text().rstrip("\n")
    assert got == expected


@_needs_reference(*_TOPK_INPUTS, "answer1.txt")
def test_topk_min_matches_answer1(spark):
    df = topk_common_words_text(
        spark,
        str(REF / "task1-input1.txt"),
        str(REF / "task1-input2.txt"),
        str(REF / "stopwords.txt"),
        mode="min",
    )
    got = format_tsv(df, ("score", "word"))
    expected = (REF / "answer1.txt").read_text().rstrip("\n")
    assert got == expected


def test_word_count_smoke_files(spark):
    """WordCount on file01+file02 — expected counts derivable (FIXTURES.md)."""
    df = word_count_text(
        spark, [str(FIXTURES / "file01.txt"), str(FIXTURES / "file02.txt")]
    )
    got = [(r.word, r.cnt) for r in df.collect()]
    assert got == [
        ("Bye", 1),
        ("Goodbye", 1),
        ("Hadoop", 2),
        ("Hello", 2),
        ("World", 2),
    ]
