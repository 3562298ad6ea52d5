"""2-D nearest-right word search: hand-checked geometry and reference
sentinel behavior of the per-page search."""

from __future__ import annotations

from document_ai_spark.queries_spatial import (
    _levenshtein,
    next_right_in_page,
)


def _page(rows):
    """(doc_id, i, word, x_min, x_max, y_min, y_max) rows in reading
    order -> the (words, boxes) arguments of next_right_in_page."""
    return [r[2] for r in rows], [r[3:] for r in rows]


def _next_words(rows, keys, fuzzy_margin=None):
    return [w for w, _ in next_right_in_page(*_page(rows), keys,
                                             fuzzy_margin)]


def test_next_right_hand_checked():
    # key at x 10-20; right neighbor at 25-35 same line; a distractor on
    # another line (no y overlap) and a nearer-but-left box
    page = [
        (1, 0, "hello", 10, 20, 10, 34),
        (1, 1, "world", 25, 35, 12, 36),   # overlap 22 > 10 -> candidate
        (1, 2, "below", 25, 35, 60, 84),   # no y overlap
        (1, 3, "left", 0, 8, 10, 34),      # x_min not > key x_min
    ]
    assert next_right_in_page(*_page(page), ["hello"]) == [
        ("world", 15.132746)  # round(sqrt(15**2 + 2**2), 6)
    ]
    # overlap of exactly min_overlap must NOT qualify (strict >)
    page2 = [
        (1, 0, "hello", 10, 20, 0, 24),
        (1, 1, "edge", 25, 35, 14, 48),    # overlap = 10 exactly
    ]
    assert _next_words(page2, ["hello"]) == ["<EMPTY>"]
    # beyond max_distance -> <EMPTY>; absent key -> <NOT_FOUND>
    page3 = [
        (1, 0, "hello", 0, 10, 0, 24),
        (1, 1, "far", 400, 410, 0, 24),
    ]
    assert _next_words(page3, ["hello", "absent"]) == [
        "<EMPTY>", "<NOT_FOUND>"
    ]
    # two candidates at the same distance 20 (dx 20 / dx 12, dy 16): the
    # first in reading order wins, whichever box that is
    key = (1, 0, "hello", 40, 60, 0, 40)
    straight = (1, 1, "straight", 60, 80, 0, 40)
    slanted = (1, 2, "slanted", 52, 72, 16, 56)
    assert next_right_in_page(*_page([key, straight, slanted]),
                              ["hello"]) == [("straight", 20.0)]
    assert _next_words([key, slanted, straight], ["hello"]) == ["slanted"]


def test_fuzzy_first_match_wins():
    # "sow" matches both "slow" (i=0) and "row" (i=5) at distance 1; the
    # key box must be the FIRST in reading order even if the later match
    # would yield a nearer candidate
    page = [
        (1, 0, "slow", 0, 36, 0, 24),
        (1, 1, "next", 110, 146, 0, 24),
        (1, 5, "row", 550, 577, 0, 24),
        (1, 6, "wrong", 660, 705, 0, 24),
    ]
    assert _next_words(page, ["sow"], fuzzy_margin=1) == ["next"]


def test_levenshtein_matches_engines(spark):
    from pyspark.sql import functions as F

    cases = [("sow", "slow"), ("sow", "row"), ("batsh", "batch"),
             ("windoe", "window"), ("abc", "abc"), ("", "xy"),
             ("kitten", "sitting")]
    df = spark.createDataFrame(cases, ["a", "b"]).select(
        F.levenshtein("a", "b").alias("d")
    )
    got = [r.d for r in df.collect()]
    assert got == [_levenshtein(a, b) for a, b in cases]
