"""The generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _all(seed: int):
    posts, comments = gen.reddit_records(seed, 300, 4)
    return posts, comments, gen.documents(seed, 300), gen.embeddings(seed, 60)


def test_same_seed_same_content():
    assert _all(7) == _all(7)


def test_different_seed_different_content():
    a, b = _all(7), _all(8)
    for x, y in zip(a, b):
        assert x != y


def test_planted_duplicates_present():
    docs = gen.documents(3, 500)
    norm = [" ".join(d["text"].lower().split()) for d in docs]
    assert len(set(norm)) < len(norm)  # exact copies up to case/whitespace
    ids = [d["doc_id"] for d in docs]
    assert ids == list(range(500))


def test_embedding_groups_are_tight():
    vecs = gen.embeddings(5, 12)

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return dot / (na * nb)

    same = cos(vecs[0]["embedding"], vecs[5]["embedding"])
    other = cos(vecs[0]["embedding"], vecs[6]["embedding"])
    assert same > 0.8 > other
