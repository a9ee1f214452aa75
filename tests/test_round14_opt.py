"""Focused tests for the round-14 OPTIMIZATION changes — every entry
pins an internals change to its unchanged-results contract:

- shingles_col tokenization is whitespace-equivalent to the ORIGINAL
  normalize_text_col path for edge-padded ('\\t'/'\\n'), interior-run,
  all-whitespace, empty and NULL texts (advisor r13 high finding:
  the r13 trim+split form leaked '' edge tokens for non-space
  edge whitespace);
- deming_regression's floor-micros snap equals half-up rounding for
  positive inputs INCLUDING values exactly on a .5-micro boundary
  (the r12/r13 driver red-row class), and matches a plain-Python
  reference end to end.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _ref_shingles(text, n=3):
    """Plain-Python reference of the ORIGINAL (pre-r13) path:
    lowercase, collapse \\s+ runs, trim, split on ' ', sliding
    n-windows with the short-doc single-shingle branch."""
    if text is None:
        # the engine chain degenerates NULL to [''] in every variant
        # (split(NULL)=NULL, greatest(NULL-2,1)=1, concat_ws skips
        # NULL args) — pinned here so a refactor cannot change it
        return [""]
    import re

    norm = re.sub(r"\s+", " ", text.lower()).strip()
    toks = norm.split(" ")  # '' -> ['']
    k = len(toks)
    hi = max(k - (n - 1), 1)
    out = []
    for i in range(1, hi + 1):
        out.append(" ".join(toks[i - 1 : i - 1 + n]))
    seen = []
    for s in out:
        if s not in seen:
            seen.append(s)
    return seen


def test_shingles_edge_whitespace_equivalence(spark):
    from reddit_etl_spark.operators.dedup import shingles_col

    docs = [
        "hello world foo bar\n",
        "\thello world foo bar",
        "\n \t hello   world\tfoo bar \r\n",
        "hello world foo bar",
        "   ",
        "\t\n",
        "",
        None,
        "one",
        "one two",
        "a  b\tc\nd e f g",
        " leading space",
        "trailing space ",
    ]
    df = spark.createDataFrame([(d,) for d in docs], "t string")
    got = df.select(shingles_col("t", 3).alias("s")).collect()
    for d, row in zip(docs, got):
        assert row["s"] == _ref_shingles(d, 3), repr(d)


def test_shingles_trailing_newline_shares_shingles(spark):
    # a doc and its trailing-newline copy MUST produce identical
    # shingle sets (they already share fingerprint_col / content keys)
    from reddit_etl_spark.operators.dedup import shingles_col

    df = spark.createDataFrame(
        [("x", "alpha beta gamma delta"), ("y", "alpha beta gamma delta\n")],
        "id string, t string",
    )
    rows = df.select(shingles_col("t", 3).alias("s")).collect()
    assert rows[0]["s"] == rows[1]["s"]
    assert "" not in rows[0]["s"][0].split(" ")


def _brute_jaccard_pairs(docs, n=3, threshold=0.5):
    sets = {d: frozenset(_ref_shingles(t, n)) for d, t in docs}
    out = []
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = len(sets[a] & sets[b])
            u = len(sets[a]) + len(sets[b]) - c
            j = c / u if u else 0.0
            if j >= threshold:
                out.append((a, b, round(j, 6)))
    return sorted(out)


def test_ngram_jaccard_size_filter(spark):
    """The round-14 size-compatibility join prefilter is lossless:
    final pairs equal a brute-force Python reference."""
    import reddit_etl_spark.operators.dedup as dd

    docs = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta\n"),  # exact dup + edge ws
        (3, "alpha beta gamma delta epsilon eta"),     # near dup
        (4, "one two"),                                # short doc
        (5, "one two"),                                # short dup
        (6, "completely different words here now ok"),
        (7, ""),                                       # empty
        (8, "x " * 30 + "alpha beta gamma"),           # size-incompatible overlap
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dd.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    )
    assert got == _brute_jaccard_pairs(docs)


def test_hoeffding_sweep_kernel_brute_force():
    """All seven dominance/marginal stats from the Fenwick sweep match
    a brute-force O(C²) reference on a random weighted grid."""
    import numpy as np
    import pyarrow as pa

    from reddit_etl_spark.operators.relational import (
        _hoeffding_dominance_sweep,
    )

    rng = np.random.RandomState(11)
    x = rng.randint(0, 30, 600).astype("int64")
    y = rng.randint(0, 30, 600).astype("int64")
    xy = np.unique(np.stack([x, y], 1), axis=0)
    x, y = xy[:, 0].copy(), xy[:, 1].copy()
    f = rng.randint(1, 50, len(x)).astype("int64")
    b = pa.RecordBatch.from_arrays(
        [pa.array(x), pa.array(y), pa.array(f)], names=["__x", "__y", "__f"]
    )
    out = list(_hoeffding_dominance_sweep(iter([b])))[0]
    cols = {n: out.column(i).to_numpy() for i, n in enumerate(out.schema.names)}
    for i in range(len(x)):
        exp = (
            int(f[(x < x[i]) & (y < y[i])].sum()),
            int(f[(x == x[i]) & (y < y[i])].sum()),
            int(f[(x < x[i]) & (y == y[i])].sum()),
            int(f[x < x[i]].sum()),
            int(f[x == x[i]].sum()),
            int(f[y < y[i]].sum()),
            int(f[y == y[i]].sum()),
        )
        got = tuple(
            int(cols[k][i])
            for k in (
                "__ltlt", "__eqlt", "__lteq", "__ltx", "__eqx", "__lty",
                "__eqy",
            )
        )
        assert got == exp, i


def test_hoeffding_sweep_kernel_empty():
    from reddit_etl_spark.operators.relational import (
        _hoeffding_dominance_sweep,
    )

    assert list(_hoeffding_dominance_sweep(iter([]))) == []


def test_auto_default_matches_explicit_single(spark):
    """The promoted lane='auto' default must produce bit-identical
    results to the old 'single' default at sub-cut-over sizes (it
    resolves to the same plan)."""
    from reddit_etl_spark.operators.relational import (
        mann_whitney_u,
        wasserstein_distance,
    )

    rows = [(float(i % 37) / 3.0, "a" if i % 3 else "b") for i in range(500)]
    df = spark.createDataFrame(rows, "v double, c string")
    auto = mann_whitney_u(df, "v", "c", "a", "b").collect()
    single = mann_whitney_u(df, "v", "c", "a", "b", lane="single").collect()
    assert auto == single
    auto = wasserstein_distance(df, "v", "c", "a").collect()
    single = wasserstein_distance(df, "v", "c", "a", lane="single").collect()
    assert auto == single


def test_deming_floor_micros_on_exact_boundary(spark):
    """Inputs exactly on a .5-micro boundary must snap half-up (the
    IEEE floor(x*1e6+0.5) form) — bit-identical in any engine, unlike
    ROUND(double) whose tie rule is engine/version-variant."""
    from reddit_etl_spark.operators.relational import deming_regression

    # find a double exactly on a k+.5 micro boundary (the testdata's
    # price quotients land there by construction; for the fixture we
    # search the (k+.5)/1e6 grid for one whose IEEE round-trip is
    # exact)
    xb = next(
        x
        for k in range(2_058_825_937, 2_058_926_937)
        for x in [(k + 0.5) / 1e6]
        if (x * 1e6) - math.floor(x * 1e6) == 0.5
    )
    assert (xb * 1e6) - math.floor(xb * 1e6) == 0.5  # exact boundary
    df = spark.createDataFrame(
        [(xb, xb), (10.0, 20.0), (20.0, 40.0), (30.0, 61.0)],
        "x double, y double",
    )
    out = deming_regression(df, "x", "y").collect()[0]
    assert out["n"] == 4
    # the snap itself: floor((k + 0.5) + 0.5) = k + 1 (ties snap UP)
    snapped = df.select(
        F.floor(F.col("x") * 1000000.0 + F.lit(0.5)).alias("m")
    ).collect()
    assert snapped[0]["m"] == math.floor(xb * 1e6) + 1


def test_deming_matches_python_reference(spark):
    from reddit_etl_spark.operators.relational import deming_regression

    data = [(1.0, 2.1), (2.0, 3.9), (3.0, 6.2), (4.0, 7.8), (5.5, 11.2)]
    df = spark.createDataFrame(data, "x double, y double")
    out = deming_regression(df, "x", "y").collect()[0]

    xs = [int(math.floor(x * 1e6 + 0.5)) for x, _ in data]
    ys = [int(math.floor(y * 1e6 + 0.5)) for _, y in data]
    n = float(len(xs))
    dx = float(str(sum(xs))) / 1e6
    dy = float(str(sum(ys))) / 1e6
    dxx = float(str(sum(v * v for v in xs))) / 1e12
    dyy = float(str(sum(v * v for v in ys))) / 1e12
    dxy = float(str(sum(a * b for a, b in zip(xs, ys)))) / 1e12
    sxx = dxx / n - (dx / n) * (dx / n)
    syy = dyy / n - (dy / n) * (dy / n)
    sxy = dxy / n - (dx / n) * (dy / n)
    beta = (syy - sxx + math.sqrt((syy - sxx) ** 2 + 4 * sxy * sxy)) / (
        2 * sxy
    )
    alpha = dy / n - beta * (dx / n)
    r = sxy / math.sqrt(sxx * syy)

    def r6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert out["slope"] == r6(beta)
    assert out["intercept"] == r6(alpha)
    assert out["pearson_r"] == r6(r)
