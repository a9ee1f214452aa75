"""SQL-path / DataFrame-path equivalence: each analysis_sql query must
produce exactly the rows its queries.py builder produces (SURVEY
§2.11: every query runnable both ways)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reddit_etl_spark import queries as q
from reddit_etl_spark.analysis_sql import ANALYSIS_QUERIES
from tests.conftest import AS_OF, canon_rows


def _builder_df(name, posts, comments):
    builders = {
        "q01": lambda: q.q01_subreddit_overview(posts),
        "q02": lambda: q.q02_top_posts(posts),
        "q03": lambda: q.q03_posts_by_hour(posts),
        "q04": lambda: q.q04_posts_by_weekday(posts),
        "q05": lambda: q.q05_active_authors(posts),
        "q06": lambda: q.q06_content_types(posts),
        "q07": lambda: q.q07_engagement(posts),
        "q08": lambda: q.q08_comment_rollup(posts, comments),
        "q09": lambda: q.q09_top_commenters(posts, comments),
        "q10": lambda: q.q10_daily_trends(posts),
        "q11": lambda: q.q11_title_insights(posts),
        "q12": lambda: q.q12_correlations(posts),
        "q13": lambda: q.q13_weekly_summary(posts, as_of=F.lit(AS_OF)),
        "q14": lambda: q.q14_oc_quality(posts),
        "q15": lambda: q.q15_post_performance(posts),
    }
    return builders[name]()


@pytest.mark.parametrize("name", sorted(ANALYSIS_QUERIES))
def test_sql_matches_builder(spark, posts, comments, name):
    sql_df = spark.sql(
        ANALYSIS_QUERIES[name], posts=posts, comments=comments, as_of=AS_OF
    )
    sql_rows = canon_rows([tuple(r) for r in sql_df.collect()])
    df = _builder_df(name, posts, comments)
    df_rows = canon_rows([tuple(r) for r in df.collect()])
    assert sql_rows == df_rows
