"""Shared fixtures: one SparkSession, deterministic reddit-domain
fixture tables (FIXTURES.md §A), and a DuckDB oracle comparator.

The fixture generator pins every edge case SURVEY §5.2 calls out:
score exactly in {-1, 0, 10, 100, 1000} (bin edges + divide-by-zero),
NULL selftext, '[deleted]' authors, all-caps and question titles,
per-subreddit score ties, comment counts straddling the HAVING >= 3
boundary, and a >=14-day timestamp span around a fixed as_of.
"""

from __future__ import annotations

import datetime as dt
import math
import random

import duckdb
import pytest

from reddit_etl_spark.schemas import COMMENTS_SCHEMA, POSTS_RAW_SCHEMA
from reddit_etl_spark.session import get_spark
from reddit_etl_spark.transform import transform_posts

SUBREDDITS = ["MachineLearning", "Python", "datascience"]
AS_OF = dt.date(2025, 9, 1)
EXTRACTED_AT = dt.datetime(2025, 9, 1, 12, 0, 0)

#: scores that pin the pd.cut bin edges and the q02 tie semantics
EDGE_SCORES = [-5, -1, 0, 1, 10, 11, 100, 101, 1000, 1001]


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _make_posts_raw() -> list[tuple]:
    rng = random.Random(42)
    rows = []
    pid = 0
    for sub in SUBREDDITS:
        for i in range(40):
            pid += 1
            if i < len(EDGE_SCORES):
                score = EDGE_SCORES[i]
            elif i >= 38:
                score = 1001  # tie on the per-subreddit max (q02), with
                # the i=9 edge-score row making it a 3-way tie
            else:
                score = rng.randint(-10, 1000)  # never exceeds the tie
            # every hour and weekday represented across the corpus
            day = rng.randint(0, 16)
            created = dt.datetime(2025, 8, 15, 0, 0, 0) + dt.timedelta(
                days=day, hours=pid % 24, minutes=rng.randint(0, 59)
            )
            if i % 7 == 0:
                title = f"IS THIS THE BEST {sub.upper()} LIB?"
            elif i % 5 == 0:
                title = f"Hello, World! [{i}] what's new in {sub}?"
            else:
                title = f"post {pid} about {sub} topic {i}"
            selftext = (
                None if i % 4 == 0 else ("" if i % 4 == 1 else f"body text {pid} " * (i % 6))
            )
            author = "[deleted]" if i % 9 == 0 else f"user_{i % 12}"
            rows.append(
                (
                    f"t3_{pid:05d}",
                    title,
                    author,
                    sub,
                    score,
                    round(rng.uniform(0.0, 1.0), 2),
                    max(0, score // 3 + rng.randint(0, 20)),
                    created,
                    selftext,
                    f"https://example.com/{pid}",
                    i % 6 == 0,
                    i % 3 == 0,
                    i % 11 == 0,
                    i % 13 == 0,
                    i % 17 == 0,
                )
            )
    return rows


def _make_comments(posts: list[tuple]) -> list[tuple]:
    rng = random.Random(43)
    rows = []
    cid = 0
    for pi, p in enumerate(posts):
        post_id, sub, created = p[0], p[3], p[7]
        # 0 comments for some posts (pins LEFT-JOIN zero counts)
        n = 0 if pi % 10 == 0 else rng.randint(1, 8)
        for j in range(n):
            cid += 1
            # author mix: a long tail (counts < 3) + planted heavy
            # commenters (counts >= 3) so HAVING >= 3 cuts both ways
            if j % 7 == 3:
                author = "[deleted]"
            elif j == 0:
                author = f"heavy_{sub}"
            else:
                author = f"commenter_{rng.randint(0, 299)}"
            rows.append(
                (
                    f"t1_{cid:06d}",
                    post_id,
                    author,
                    f"comment {cid} on {sub}",
                    rng.randint(-4, 50),
                    created + dt.timedelta(minutes=5 + j),
                    f"t3_{post_id}" if j == 0 else f"t1_{cid - 1:06d}",
                    j % 5 == 0,
                    EXTRACTED_AT,
                )
            )
    return rows


@pytest.fixture(scope="session")
def posts_raw(spark):
    df = spark.createDataFrame(_make_posts_raw(), POSTS_RAW_SCHEMA)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def posts(spark, posts_raw):
    from pyspark.sql import functions as F

    df = transform_posts(posts_raw, extracted_at=F.lit(EXTRACTED_AT))
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def comments(spark):
    df = spark.createDataFrame(
        _make_comments(_make_posts_raw()), COMMENTS_SCHEMA
    )
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="session")
def oracle(posts, comments):
    """DuckDB connection with the transformed fixture tables registered
    as views — the per-test oracle for reddit-domain queries."""
    con = duckdb.connect()
    con.register("posts", posts.toPandas())
    con.register("comments", comments.toPandas())
    return con


# --- comparison helpers (canonicalization per FIXTURES.md) -----------------


def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"  # NaN from pandas NULL round-trip == SQL NULL
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon_rows(rows) -> list[tuple]:
    return sorted(tuple(canon_cell(c) for c in r) for r in rows)


def assert_df_matches_sql(df, con, sql: str, ordered: bool = False):
    """Compare a Spark DataFrame against DuckDB SQL: same column names,
    same canonicalized rows (sorted unless ordered)."""
    rel = con.execute(sql)
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()
    scols = df.columns
    srows = [tuple(r) for r in df.collect()]
    assert scols == ocols, f"columns differ: {scols} vs {ocols}"
    if ordered:
        a = [tuple(canon_cell(c) for c in r) for r in srows]
        b = [tuple(canon_cell(c) for c in r) for r in orows]
    else:
        a, b = canon_rows(srows), canon_rows(orows)
    assert len(a) == len(b), f"row count {len(a)} vs {len(b)}"
    for i, (ra, rb) in enumerate(zip(a, b)):
        assert ra == rb, f"row {i} differs:\n spark:  {ra}\n oracle: {rb}"


def jobs_in_group(spark, group: str, fn) -> int:
    """Run ``fn()`` under Spark job group ``group`` and return how many
    jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
