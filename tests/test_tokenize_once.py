"""Tokenize once: every sliding-window text operator reads its token
(or normalized-text) array from a column staged in an earlier
projection, never from the tokenizer expression itself.

Spark shares no subexpression across a lambda boundary, so a window
lambda that closes over ``split(lower(text), ...)`` re-runs the split
of the whole document once per window (O(words^2) per document).
Two families of checks:

- plan shape: in the optimized plan, no ``lambdafunction`` body
  holds the heavy expression (``split(``, ``regexp_replace(``, the
  padded ``concat(``), and a ``Project`` outside the lambdas does;
- parity: the staged form returns exactly what the old single
  expression returned, on the edge inputs, under ANSI on and off.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

EDGE_DOCS = [
    None,
    "",
    "   ",
    "\t\n",
    "\t alpha beta gamma delta \n",
    "\nalpha beta gamma delta",
    "one",
    "one two",
    "a b a b a b a b",
    "x y z x y z x y z",
    "Ünïcödé ÇAFÉ naïve 日本語 テキスト crème brûlée",
    "İstanbul ΣΊΣΥΦΟΣ straße",
    "nbsp stays inside a token",
    "a  b\tc\nd e f g",
]

HEAVY = ("split(", "regexp_replace(")


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _lambda_bodies(text: str):
    """The argument text of every ``lambdafunction(...)`` in ``text``."""
    start = text.find("lambdafunction(")
    while start >= 0:
        i = start + len("lambdafunction")
        depth = 0
        for j in range(i, len(text)):
            depth += {"(": 1, ")": -1}.get(text[j], 0)
            if depth == 0:
                break
        yield text[i : j + 1]
        start = text.find("lambdafunction(", start + 1)


def assert_staged(df, heavy=HEAVY, staging=("Project",)):
    """No ``lambdafunction`` body in the optimized plan holds any of
    ``heavy``, and a ``staging`` node outside the lambdas does: the
    heavy expression runs once per row, in its own projection below
    the windows."""
    plan = df._jdf.queryExecution().optimizedPlan()
    texts = [(n.nodeName(), n.simpleString(100000)) for n in _nodes(plan)]
    bodies = [b for _, t in texts for b in _lambda_bodies(t)]
    assert bodies, "no lambda in the plan"
    for b in bodies:
        for h in heavy:
            assert h not in b, f"{h} inside a lambda body:\n{b}"
    assert any(
        name in staging and any(h in t for h in heavy) for name, t in texts
    ), f"no {staging} node stages {heavy}"


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        list(enumerate(EDGE_DOCS)), "doc_id long, text string"
    )


def _old_shingles(text: str, n: int):
    """The single-expression form every site used before staging."""
    toks = F.array_remove(F.split(F.lower(F.col(text)), r"\s+"), "")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", saved)


# -- parity -----------------------------------------------------------


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_shingle_frame_matches_single_expression(spark, docs, ansi, n):
    from reddit_etl_spark.operators.dedup import shingle_frame

    old = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", _old_shingles("text", n).alias("s"))
        .collect()
    }
    new = {
        r["doc_id"]: r["__grams"]
        for r in shingle_frame(docs, "text", n, "doc_id").collect()
    }
    assert new == old
    assert new[0] == [""] and new[1] == [""] and new[2] == [""]  # NULL, '', ws
    exploded = sorted(
        tuple(r)
        for r in shingle_frame(docs, "text", n, "doc_id", explode=True).collect()
    )
    assert exploded == sorted((d, g) for d, gs in old.items() for g in gs)


def test_shingle_arrays_match_single_expression(spark, docs, ansi):
    from reddit_etl_spark.operators.dedup import shingle_arrays

    old = {
        r["doc_id"]: r["h"]
        for r in docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(_old_shingles("text", 3), lambda s: F.xxhash64(s))
            ).alias("h"),
        ).collect()
    }
    new = {
        r["doc_id"]: r["__arr"]
        for r in shingle_arrays(
            docs, "doc_id", "text", 3, materialize=False
        ).collect()
    }
    assert new == old


def test_chunk_documents_match_single_expression(spark, docs, ansi):
    from reddit_etl_spark.operators.text import chunk_documents

    size, overlap = 3, 1
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.greatest(
        F.lit(1),
        (F.size(toks) - F.lit(overlap) + F.lit(size - overlap) - 1).cast("long")
        / F.lit(size - overlap),
    ).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.array_join(F.slice(toks, i * (size - overlap) + 1, size), " "),
    )
    old = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk_text")
        ).collect()
    )
    new = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"])
        for r in chunk_documents(docs, "doc_id", "text", size, overlap).collect()
    )
    assert new == old


def test_char_entropy_counts_every_character(spark, docs, ansi):
    from reddit_etl_spark.operators.text import char_entropy

    got = {r["doc_id"]: r for r in char_entropy(docs, "doc_id", "text").collect()}
    want = docs.select(
        "doc_id",
        F.length(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("n"),
    ).collect()
    for r in want:
        if r["n"]:
            assert got[r["doc_id"]]["n_chars"] == r["n"]
        else:
            assert r["doc_id"] not in got


# -- plan shape -------------------------------------------------------


def test_shingle_arrays_plan_tokenizes_once(docs):
    from reddit_etl_spark.operators.dedup import (
        shingle_arrays,
        shingle_frame,
        shingles_col,
    )

    assert_staged(shingle_arrays(docs, "doc_id", "text", 3, materialize=False))
    assert_staged(shingle_frame(docs, "text", 3, "doc_id"))
    assert_staged(shingle_frame(docs, "text", 3, "doc_id", explode=True))
    # the ad-hoc composition is the single expression this file guards
    # against: the split lands inside the lambda node
    with pytest.raises(AssertionError):
        assert_staged(docs.select(shingles_col("text", 3)))


def test_curation_plans_tokenize_once(docs):
    from reddit_etl_spark.operators import curation as C

    bench = docs.filter(F.col("doc_id") % 3 == 0)
    assert_staged(C.decontaminate(docs, bench, "doc_id", "text", n=3))
    assert_staged(C.boilerplate_grams(docs, "doc_id", "text", n=3, min_docs=2))
    assert_staged(C.boilerplate_fraction(docs, "doc_id", "text", n=3, min_docs=2))
    # the Bloom variant collects its benchmark side at build time; the
    # corpus side is the plan it returns
    assert_staged(C.decontaminate_bloom(docs, bench, "doc_id", "text", n=3))


def test_sentence_decontaminate_plan_tokenizes_once(spark, docs, tmp_path):
    from reddit_etl_spark.harness import registry

    docs.write.parquet(str(tmp_path / "documents.parquet"))
    assert_staged(
        registry()["sentence_decontaminate"].builder(spark, str(tmp_path))
    )


def test_text_plans_stage_before_the_lambda(docs):
    from reddit_etl_spark.operators import text as T

    assert_staged(T.chunk_documents(docs, "doc_id", "text", 3, 1))
    assert_staged(T.char_entropy(docs, "doc_id", "text"))
    assert_staged(T.winnowing_fingerprints(docs, "doc_id", "text", k=4, window=3))


def test_session_transitions_pads_once(spark):
    import datetime as dt

    from reddit_etl_spark.operators.sessions import session_transitions

    t0 = dt.datetime(2025, 9, 1)
    ev = spark.createDataFrame(
        [("u", t0 + dt.timedelta(minutes=i), "ab"[i % 2]) for i in range(5)],
        "user string, ts timestamp, et string",
    )
    out = session_transitions(ev, ["user"], "ts", "et")
    assert_staged(out, heavy=("concat(",), staging=("Project", "Aggregate"))
    got = {(r["from_type"], r["to_type"]): r["n_transitions"] for r in out.collect()}
    assert got == {
        ("__START__", "a"): 1, ("a", "b"): 2, ("b", "a"): 2, ("a", "__END__"): 1,
    }
