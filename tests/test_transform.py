"""Unit tests for the transform stage — one test per verified quirk in
SURVEY §2.3 (the silent-divergence traps ranked hardest in §7)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from reddit_etl_spark.schemas import POSTS_RAW_SCHEMA, POSTS_SCHEMA
from reddit_etl_spark.transform import (
    clean_title_col,
    engagement_rate_col,
    score_category_col,
    transform_posts,
)


def _mini(spark, **overrides):
    base = dict(
        id="t3_x",
        title="Hello, World! [2024]?",
        author="u",
        subreddit="Python",
        score=5,
        upvote_ratio=0.9,
        num_comments=3,
        created_utc=dt.datetime(2025, 9, 1, 15, 30),  # a Monday
        selftext="abc",
        url="http://x",
        is_video=False,
        is_original_content=False,
        over_18=False,
        stickied=False,
        locked=False,
    )
    base.update(overrides)
    row = tuple(base[f.name] for f in POSTS_RAW_SCHEMA.fields)
    return transform_posts(spark.createDataFrame([row], POSTS_RAW_SCHEMA))


def test_output_schema_matches_reference_ddl(spark):
    df = _mini(spark)
    assert [f.name for f in df.schema.fields] == [
        f.name for f in POSTS_SCHEMA.fields
    ]


def test_title_length_measured_before_cleaning(spark):
    # P1 then P8: length of the RAW title, cleaning afterwards
    r = _mini(spark, title="Hello, World! [2024]?").first()
    assert r.title_length == len("Hello, World! [2024]?")
    assert r.title == "Hello World 2024"  # verified reference behavior


def test_clean_title_strips_punct_and_trims(spark):
    df = spark.range(1).select(clean_title_col(F.lit("  ?!* ")).alias("t"))
    assert df.first().t == ""


def test_null_selftext_semantics(spark):
    # P2/P3: NULL selftext -> selftext_length NULL, has_selftext False,
    # selftext backfilled to '' (P9)
    r = _mini(spark, selftext=None).first()
    assert r.selftext_length is None
    assert r.has_selftext is False
    assert r.selftext == ""


def test_empty_selftext_semantics(spark):
    r = _mini(spark, selftext="").first()
    assert r.selftext_length == 0
    assert r.has_selftext is False


def test_weekday_is_monday_zero(spark):
    # P5: pandas convention Monday=0..Sunday=6 (NOT dayofweek Sunday=1)
    monday = dt.datetime(2025, 9, 1, 8, 0)  # 2025-09-01 is a Monday
    sunday = dt.datetime(2025, 8, 31, 8, 0)
    assert _mini(spark, created_utc=monday).first().day_of_week == 0
    assert _mini(spark, created_utc=sunday).first().day_of_week == 6


def test_hour_posted(spark):
    r = _mini(spark, created_utc=dt.datetime(2025, 9, 1, 23, 59)).first()
    assert r.hour_posted == 23


def test_engagement_rate_divide_by_zero_is_null(spark):
    # P6: score = -1 -> divisor 0 -> NULL (documented divergence from
    # pandas inf; reference script.py:207)
    assert _mini(spark, score=-1, num_comments=7).first().engagement_rate is None
    assert _mini(spark, score=1, num_comments=7).first().engagement_rate == 3.5


def test_score_category_right_closed_bins(spark):
    # P7: pd.cut bins (-inf,0],(0,10],(10,100],(100,1000],(1000,inf)
    expected = {
        -5: "Negative",
        0: "Negative",
        1: "Low",
        10: "Low",
        11: "Medium",
        100: "Medium",
        101: "High",
        1000: "High",
        1001: "Viral",
    }
    rows = spark.createDataFrame(
        [(s,) for s in expected], "score long"
    ).select("score", score_category_col("score").alias("cat")).collect()
    got = {r.score: r.cat for r in rows}
    assert got == expected


def test_score_category_null_passthrough(spark):
    df = spark.createDataFrame([(None,)], "score long").select(
        score_category_col("score").alias("cat")
    )
    assert df.first().cat is None


def test_empty_input_preserves_schema(spark):
    # P10: 0 rows in -> 0 rows out with the full 23-column schema
    empty = spark.createDataFrame([], POSTS_RAW_SCHEMA)
    out = transform_posts(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        f.name for f in POSTS_SCHEMA.fields
    ]


def test_transform_is_shuffle_free(spark, posts_raw):
    # Scale check: the transform must plan as a narrow projection —
    # no Exchange in the optimized plan.
    plan = transform_posts(posts_raw)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def _chained_transform(df, extracted_at):
    """The transform as a chain of ten ``withColumn`` calls, each
    reading the previous step's columns: the sequencing the
    one-projection form must reproduce."""
    return (
        df.withColumn("title_length", F.length("title").cast("long"))
        .withColumn("selftext_length", F.length("selftext").cast("long"))
        .withColumn(
            "has_selftext", F.coalesce(F.length("selftext") > 0, F.lit(False))
        )
        .withColumn("hour_posted", F.hour("created_utc").cast("long"))
        .withColumn("day_of_week", F.weekday("created_utc").cast("long"))
        .withColumn("engagement_rate", engagement_rate_col("num_comments", "score"))
        .withColumn("score_category", score_category_col("score"))
        .withColumn("title", clean_title_col("title"))
        .withColumn("selftext", F.coalesce("selftext", F.lit("")))
        .withColumn("extracted_at", extracted_at)
    )


def test_one_projection_equals_withcolumn_chain(spark, posts_raw):
    """Same schema (names, order, types) and the same rows as the
    chain, on the fixture corpus plus rows with NULL selftext, NULL
    score, NULL title and score -1."""
    extra = [
        ("t3_n1", None, "u", "Python", None, 0.5, 4,
         dt.datetime(2025, 9, 7, 23, 59), None, "http://n", False, False,
         False, False, False),
        ("t3_n2", " Q? ", "u", "Python", -1, 0.5, 2,
         dt.datetime(2025, 9, 1, 0, 0), "  ", "http://m", True, True,
         True, True, True),
    ]
    raw = posts_raw.unionByName(spark.createDataFrame(extra, POSTS_RAW_SCHEMA))
    ts = F.lit(dt.datetime(2025, 9, 1, 12, 0)).cast("timestamp")
    got, want = transform_posts(raw, ts), _chained_transform(raw, ts)
    assert got.schema == want.schema
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    assert got.count() == raw.count()
