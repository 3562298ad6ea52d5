from __future__ import annotations

import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from document_ai_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_dir(tmp_path_factory):
    """Deterministic 200-doc corpus + goldens, generated once per session."""
    from document_ai_spark.datagen import write_corpus

    out = str(tmp_path_factory.mktemp("corpus"))
    stats = write_corpus(out, n_docs=200, seed=42)
    assert stats["n_goldens_checked"] > 0
    return out


def _fluent(rng: random.Random) -> str:
    words = ["the", "quick", "brown", "foxes", "jump", "over", "lazy",
             "dogs", "while", "reading", "in", "a", "sunny", "garden",
             "of", "that", "house", "and", "be", "to"]
    return " ".join(rng.choice(words) for _ in range(120)) + "."


def _junk(rng: random.Random) -> str:
    frags = ["$$$", "1999", "CLICK", "88x31", "@@", "buy4now",
             "%%%", "0x1F", "ZZZZ", "!!!"]
    return " ".join(rng.choice(frags) for _ in range(40))


@pytest.fixture(scope="session")
def clf_corpora(spark):
    """Planted (fluent, junk) doc tables, 150 rows each, for the quality
    classifier and the `clf` curation rule."""
    rng = random.Random(11)
    pos = spark.createDataFrame(
        [(i, _fluent(rng)) for i in range(150)], ["doc_id", "text"]
    )
    neg = spark.createDataFrame(
        [(i, _junk(rng)) for i in range(150)], ["doc_id", "text"]
    )
    return pos, neg
