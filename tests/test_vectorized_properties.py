"""Property-based equivalence for the round-2 vectorized kernels: each
numpy fast path must equal a direct pure-Python transcription of its spec
on arbitrary inputs (the same strategy the frozen extraction kernel uses
in test_kernel_properties)."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from document_ai_spark.queries_ml import _simhash_batches
from document_ai_spark.queries_text import (
    _KGRAM,
    _RK_BASE,
    _RK_MOD,
    _WINDOW,
    _winnow_np,
)
from document_ai_spark.queries_spatial import next_right_in_page

_texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


def _winnow_spec(s: str) -> list[tuple[int, int]]:
    n = len(s)
    if n < _KGRAM:
        return []
    hashes = []
    for i in range(n - _KGRAM + 1):
        h = 0
        for ch in s[i : i + _KGRAM]:
            h = (h * _RK_BASE + ord(ch)) % _RK_MOD
        hashes.append(h)
    out, last = [], -1
    for w in range(len(hashes) - _WINDOW + 1):
        m = min(range(_WINDOW), key=lambda j: (hashes[w + j], j)) + w
        if m != last:
            out.append((m, hashes[m]))
            last = m
    return out


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_winnow_vectorized_equals_spec(s):
    pos, fp = _winnow_np(s)
    assert list(zip(pos.tolist(), fp.tolist())) == _winnow_spec(s)


def _simhash_spec(text: str) -> int:
    acc = np.zeros(64, dtype=np.int64)
    for tok in (text or "").split():
        h = np.uint64(
            int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        )
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits == np.uint64(1), 1, -1)
    sh = int(
        ((acc > 0).astype(np.uint64)
         << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
    )
    return sh - (1 << 64) if sh >= (1 << 63) else sh


def _simhash_nibble_form(text: str) -> int:
    """The DuckDB oracle's math, transcribed: md5 hex nibbles + bit
    votes."""
    acc = [0] * 64
    for tok in text.split():
        if not tok:
            continue
        hx = hashlib.md5(tok.encode()).hexdigest()[:16]
        for i in range(64):
            v = int(hx[15 - i // 4], 16)
            acc[i] += ((v >> (i % 4)) & 1) * 2 - 1
    val = sum(1 << i for i in range(63) if acc[i] > 0)
    return val - (1 << 63) if acc[63] > 0 else val


@settings(max_examples=200, deadline=None)
@given(_texts)
def test_simhash_nibble_math_equals_spec(s):
    # whitespace-normalized first: the engines split on \s+ after trim
    s = " ".join(s.split())
    assert _simhash_nibble_form(s) == _simhash_spec(s)
    # and the Spark side's Arrow stage (digest bytes, unpackbits votes)
    [out] = _simhash_batches([
        pa.record_batch([pa.array([1]), pa.array([s])], ["doc_id", "text"])
    ])
    assert out.column(1).to_pylist() == [_simhash_spec(s)]


_boxes = st.lists(
    st.tuples(
        st.integers(0, 500), st.integers(1, 80),   # x_min, width
        st.integers(0, 300), st.integers(5, 40),   # y_min, height
        st.sampled_from(["alpha", "beta", "key", "gamma", "kay", "delta"]),
    ),
    min_size=1, max_size=25,
)


def _next_right_spec(boxes, key, min_overlap=10, max_dist=200.0):
    """Direct transcription of the reference loop
    (document_parsing.py:132-198)."""
    key_box = None
    for b in boxes:
        if b[4].lower() == key:
            key_box = b
            break
    if key_box is None:
        return "<NOT_FOUND>"
    best, best_d = None, float("inf")
    for b in boxes:
        overlap = max(
            0,
            min(key_box[3], b[3]) - max(key_box[2], b[2]) - min_overlap,
        )
        if overlap and b[0] > key_box[0]:
            d = round(
                (
                    ((key_box[0] + key_box[1]) / 2 - (b[0] + b[1]) / 2) ** 2
                    + ((key_box[2] + key_box[3]) / 2
                       - (b[2] + b[3]) / 2) ** 2
                ) ** 0.5,
                6,
            )
            if d < min(best_d, max_dist):
                best, best_d = b[4], d
    return best if best is not None else "<EMPTY>"


@settings(max_examples=300, deadline=None)
@given(_boxes)
def test_spatial_kernel_equals_reference_loop(raw):
    words = [w for *_, w in raw]
    boxes = [(x, x + wd, y, y + h) for x, wd, y, h, _ in raw]
    [(got, _)] = next_right_in_page(words, boxes, ["key"])
    expected = _next_right_spec(
        [(x, x + wd, y, y + h, w) for (x, wd, y, h, w) in raw], "key"
    )
    assert got == expected
