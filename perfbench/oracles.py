"""Reference answers computed by DuckDB over the same files Spark reads.

The q01..q15 forms are the DuckDB twins of ``analysis_sql.ANALYSIS_QUERIES``
(the same forms ``tests/test_queries.py`` checks the DataFrame builders
against). Results are compared with ``tools/check_oracle.py:table_hash``,
the repository's own order-insensitive value hash; when the hashes
differ, a float-tolerant comparison decides, so summation-order noise
in the last digits of an average or a correlation is not a failure.
"""

from __future__ import annotations

import math

import duckdb

from tools.check_oracle import canon_cell, table_hash

ANALYSIS_ORACLE = {
    "q01": """
        SELECT subreddit, COUNT(*) AS total_posts, AVG(score) AS avg_score,
               AVG(num_comments) AS avg_comments, MAX(score) AS highest_score,
               MIN(score) AS lowest_score
        FROM posts GROUP BY subreddit""",
    "q02": """
        SELECT subreddit, title, author, score, num_comments, upvote_ratio,
               created_utc
        FROM posts
        WHERE score IN (SELECT MAX(score) FROM posts p2
                        WHERE p2.subreddit = posts.subreddit)""",
    "q03": """
        SELECT hour_posted, COUNT(*) AS post_count, AVG(score) AS avg_score,
               AVG(num_comments) AS avg_comments
        FROM posts GROUP BY hour_posted""",
    "q04": """
        SELECT day_of_week,
               CASE day_of_week WHEN 0 THEN 'Monday' WHEN 1 THEN 'Tuesday'
                    WHEN 2 THEN 'Wednesday' WHEN 3 THEN 'Thursday'
                    WHEN 4 THEN 'Friday' WHEN 5 THEN 'Saturday'
                    WHEN 6 THEN 'Sunday' END AS day_name,
               COUNT(*) AS post_count, AVG(score) AS avg_score
        FROM posts GROUP BY 1, 2""",
    "q05": """
        SELECT author, COUNT(*) AS post_count, AVG(score) AS avg_score,
               CAST(SUM(num_comments) AS BIGINT) AS total_comments_received
        FROM posts WHERE author <> '[deleted]'
        GROUP BY author HAVING COUNT(*) > 1
        ORDER BY post_count DESC, avg_score DESC, author LIMIT 20""",
    "q06": """
        SELECT subreddit,
               CAST(SUM(CASE WHEN is_video THEN 1 ELSE 0 END) AS BIGINT) AS video_posts,
               CAST(SUM(CASE WHEN has_selftext THEN 1 ELSE 0 END) AS BIGINT) AS text_posts,
               CAST(SUM(CASE WHEN is_original_content THEN 1 ELSE 0 END) AS BIGINT) AS oc_posts,
               CAST(SUM(CASE WHEN over_18 THEN 1 ELSE 0 END) AS BIGINT) AS nsfw_posts,
               COUNT(*) AS total_posts
        FROM posts GROUP BY subreddit""",
    "q07": """
        SELECT subreddit, score_category, COUNT(*) AS post_count,
               AVG(engagement_rate) AS avg_engagement_rate,
               AVG(upvote_ratio) AS avg_upvote_ratio
        FROM posts GROUP BY subreddit, score_category""",
    "q08": """
        SELECT p.subreddit, COUNT(c.id) AS total_comments,
               AVG(c.score) AS avg_comment_score,
               COUNT(DISTINCT c.author) AS unique_commenters
        FROM posts p LEFT JOIN comments c ON p.id = c.post_id
        GROUP BY p.subreddit""",
    "q09": """
        SELECT p.subreddit, c.author, COUNT(c.id) AS comment_count,
               AVG(c.score) AS avg_comment_score
        FROM posts p JOIN comments c ON p.id = c.post_id
        WHERE c.author <> '[deleted]'
        GROUP BY p.subreddit, c.author
        HAVING COUNT(c.id) >= 3""",
    "q10": """
        SELECT CAST(created_utc AS DATE) AS date, subreddit,
               COUNT(*) AS daily_posts, AVG(score) AS avg_daily_score,
               MAX(score) AS max_daily_score
        FROM posts GROUP BY 1, 2""",
    "q11": """
        SELECT subreddit, AVG(title_length) AS avg_title_length,
               AVG(CASE WHEN title LIKE '%?%' THEN 1 ELSE 0 END) AS question_rate,
               AVG(CASE WHEN upper(title) = title THEN 1 ELSE 0 END) AS all_caps_rate
        FROM posts GROUP BY subreddit""",
    "q12": """
        SELECT subreddit,
               corr(title_length, score) AS title_length_score_corr,
               corr(selftext_length, score) AS selftext_length_score_corr,
               corr(hour_posted, score) AS hour_score_corr
        FROM posts WHERE score > 0 GROUP BY subreddit""",
    "q13": """
        SELECT subreddit, COUNT(*) AS posts_this_week,
               AVG(score) AS avg_score, stddev_samp(score) AS score_std_dev,
               AVG(num_comments) AS avg_comments,
               COUNT(DISTINCT author) AS unique_authors
        FROM posts
        WHERE created_utc >= CAST(DATE '{as_of}' - 7 AS TIMESTAMP)
        GROUP BY subreddit""",
    "q14": """
        SELECT subreddit,
               AVG(CASE WHEN is_original_content THEN score END) AS avg_oc_score,
               AVG(CASE WHEN NOT is_original_content THEN score END) AS avg_non_oc_score,
               CAST(SUM(CASE WHEN is_original_content THEN 1 ELSE 0 END) AS DOUBLE)
                   * 100.0 / COUNT(*) AS oc_percentage
        FROM posts GROUP BY subreddit""",
    "q15": """
        SELECT *,
               CASE WHEN score >= 1000 THEN 'Viral'
                    WHEN score >= 100 THEN 'Popular'
                    WHEN score >= 10 THEN 'Good'
                    ELSE 'Low' END AS performance_tier,
               RANK() OVER (PARTITION BY subreddit ORDER BY score DESC)
                   AS rank_in_subreddit
        FROM posts""",
}

#: the daily stats upsert, recomputed from the loaded posts
STATS_ORACLE = """
    SELECT subreddit, CAST(created_utc AS DATE) AS date,
           COUNT(*) AS total_posts, AVG(score) AS avg_score,
           AVG(num_comments) AS avg_comments, MAX(score) AS top_post_score
    FROM posts GROUP BY 1, 2"""


def lake_view(con: duckdb.DuckDBPyConnection, name: str, path: str) -> None:
    """Register a Spark-written parquet directory (hive partitions
    included) as a DuckDB view."""
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet("
        f"'{path}/**/*.parquet', hive_partitioning = true)"
    )


class Answer:
    """One reference result: column names, rows and their hash."""

    def __init__(self, cols: list[str], rows: list[tuple]):
        self.cols = cols
        self.rows = rows
        self.hash = table_hash(rows, cols)

    @classmethod
    def of(cls, con: duckdb.DuckDBPyConnection, sql: str) -> "Answer":
        rel = con.execute(sql)
        return cls([d[0] for d in rel.description], rel.fetchall())

    def matches(self, cols: list[str], rows: list[tuple]) -> bool:
        if sorted(cols) != sorted(self.cols):
            return False
        if table_hash(rows, cols) == self.hash:
            return True
        return _close(_by_name(rows, cols), _by_name(self.rows, self.cols))


def _by_name(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows]


def _coarse(v):
    return f"{v:.6g}" if isinstance(v, float) else canon_cell(v)


def _close(a: list[tuple], b: list[tuple]) -> bool:
    if len(a) != len(b):
        return False
    key = lambda r: tuple(_coarse(v) for v in r)  # noqa: E731
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
                        or (math.isnan(x) and math.isnan(y))):
                    return False
            elif canon_cell(x) != canon_cell(y):
                return False
    return True
