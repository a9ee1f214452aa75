"""The 15-query surface as Spark SQL strings — the reference's ad-hoc
``analysis.sql`` path (SURVEY §3.3), dialect-ported from SQLite.

Every query is the SQL twin of the DataFrame builder in
``queries.py`` (equivalence proven in tests/test_analysis_sql.py).
Each text is a ``str.format`` template: ``{posts}`` and ``{comments}``
stand for the tables and ``{as_of}`` for q13's anchor date. They are
bound by PySpark's DataFrame-argument form of ``spark.sql``, as
``Engine.analysis`` does::

    spark.sql(ANALYSIS_QUERIES["q08"], posts=posts, comments=comments)

which registers each frame under a unique view name for that one call
and drops it afterwards, so no session view names a table. Pass
``as_of`` as a ``datetime.date``: the formatter quotes a ``str`` as a
SQL string literal.

Dialect notes vs the SQLite original (/root/reference/analysis.sql):
- STDDEV -> stddev_samp, CORR -> corr (both built-in here; absent in
  stock SQLite — SURVEY A10/A11).
- DATE('now','-7 days') -> date_sub(:as_of, 7) with an explicit
  anchor parameter (determinism, SURVEY P16).
- q05 is commented out and syntactically broken in the reference
  (trailing comma, analysis.sql:72); implemented here per its evident
  intent with a deterministic tiebreak.
"""

from __future__ import annotations

ANALYSIS_QUERIES: dict[str, str] = {
    # analysis.sql:5-15
    "q01": """
        SELECT subreddit,
               COUNT(*)          AS total_posts,
               AVG(score)        AS avg_score,
               AVG(num_comments) AS avg_comments,
               MAX(score)        AS highest_score,
               MIN(score)        AS lowest_score
        FROM {posts} posts
        GROUP BY subreddit
        ORDER BY total_posts DESC
    """,
    # analysis.sql:17-32 — correlated argmax, ties kept
    "q02": """
        SELECT subreddit, title, author, score, num_comments,
               upvote_ratio, created_utc
        FROM {posts} posts
        WHERE score IN (SELECT MAX(score) FROM {posts} p2
                        WHERE p2.subreddit = posts.subreddit)
        ORDER BY score DESC
    """,
    # analysis.sql:34-42
    "q03": """
        SELECT hour_posted,
               COUNT(*)          AS post_count,
               AVG(score)        AS avg_score,
               AVG(num_comments) AS avg_comments
        FROM {posts} posts
        GROUP BY hour_posted
        ORDER BY hour_posted
    """,
    # analysis.sql:44-60 — Monday=0 decode
    "q04": """
        SELECT day_of_week,
               CASE day_of_week
                    WHEN 0 THEN 'Monday' WHEN 1 THEN 'Tuesday'
                    WHEN 2 THEN 'Wednesday' WHEN 3 THEN 'Thursday'
                    WHEN 4 THEN 'Friday' WHEN 5 THEN 'Saturday'
                    WHEN 6 THEN 'Sunday' END AS day_name,
               COUNT(*)   AS post_count,
               AVG(score) AS avg_score
        FROM {posts} posts
        GROUP BY day_of_week
        ORDER BY day_of_week
    """,
    # analysis.sql:62-73 (intent; reference version commented + broken)
    "q05": """
        SELECT author,
               COUNT(*)          AS post_count,
               AVG(score)        AS avg_score,
               SUM(num_comments) AS total_comments_received
        FROM {posts} posts
        WHERE author <> '[deleted]'
        GROUP BY author
        HAVING COUNT(*) > 1
        ORDER BY post_count DESC, avg_score DESC, author
        LIMIT 20
    """,
    # analysis.sql:75-84
    "q06": """
        SELECT subreddit,
               SUM(CASE WHEN is_video THEN 1 ELSE 0 END)            AS video_posts,
               SUM(CASE WHEN has_selftext THEN 1 ELSE 0 END)        AS text_posts,
               SUM(CASE WHEN is_original_content THEN 1 ELSE 0 END) AS oc_posts,
               SUM(CASE WHEN over_18 THEN 1 ELSE 0 END)             AS nsfw_posts,
               COUNT(*)                                             AS total_posts
        FROM {posts} posts
        GROUP BY subreddit
    """,
    # analysis.sql:86-95
    "q07": """
        SELECT subreddit, score_category,
               COUNT(*)             AS post_count,
               AVG(engagement_rate) AS avg_engagement_rate,
               AVG(upvote_ratio)    AS avg_upvote_ratio
        FROM {posts} posts
        GROUP BY subreddit, score_category
        ORDER BY subreddit, score_category
    """,
    # analysis.sql:97-105
    "q08": """
        SELECT p.subreddit,
               COUNT(c.id)              AS total_comments,
               AVG(c.score)             AS avg_comment_score,
               COUNT(DISTINCT c.author) AS unique_commenters
        FROM {posts} p LEFT JOIN {comments} c ON p.id = c.post_id
        GROUP BY p.subreddit
    """,
    # analysis.sql:107-118 — the golden example.csv query
    "q09": """
        SELECT p.subreddit, c.author,
               COUNT(c.id) AS comment_count,
               AVG(c.score) AS avg_comment_score
        FROM {posts} p JOIN {comments} c ON p.id = c.post_id
        WHERE c.author <> '[deleted]'
        GROUP BY p.subreddit, c.author
        HAVING COUNT(c.id) >= 3
        ORDER BY p.subreddit, comment_count DESC
    """,
    # analysis.sql:120-129
    "q10": """
        SELECT to_date(created_utc) AS date, subreddit,
               COUNT(*)   AS daily_posts,
               AVG(score) AS avg_daily_score,
               MAX(score) AS max_daily_score
        FROM {posts} posts
        GROUP BY 1, 2
        ORDER BY date DESC, subreddit
    """,
    # analysis.sql:131-138
    "q11": """
        SELECT subreddit,
               AVG(title_length) AS avg_title_length,
               AVG(CASE WHEN title LIKE '%?%' THEN 1 ELSE 0 END)    AS question_rate,
               AVG(CASE WHEN upper(title) = title THEN 1 ELSE 0 END) AS all_caps_rate
        FROM {posts} posts
        GROUP BY subreddit
    """,
    # analysis.sql:140-148
    "q12": """
        SELECT subreddit,
               corr(title_length, score)    AS title_length_score_corr,
               corr(selftext_length, score) AS selftext_length_score_corr,
               corr(hour_posted, score)     AS hour_score_corr
        FROM {posts} posts
        WHERE score > 0
        GROUP BY subreddit
    """,
    # analysis.sql:150-161 — {as_of} bound by Engine.analysis()
    "q13": """
        SELECT subreddit,
               COUNT(*)               AS posts_this_week,
               AVG(score)             AS avg_score,
               stddev_samp(score)     AS score_std_dev,
               AVG(num_comments)      AS avg_comments,
               COUNT(DISTINCT author) AS unique_authors
        FROM {posts} posts
        WHERE created_utc >= CAST(date_sub(DATE'{as_of}', 7) AS TIMESTAMP)
        GROUP BY subreddit
        ORDER BY avg_score DESC
    """,
    # analysis.sql:163-170
    "q14": """
        SELECT subreddit,
               AVG(CASE WHEN is_original_content THEN score END)     AS avg_oc_score,
               AVG(CASE WHEN NOT is_original_content THEN score END) AS avg_non_oc_score,
               SUM(CASE WHEN is_original_content THEN 1 ELSE 0 END) * 100.0D
                   / COUNT(*) AS oc_percentage
        FROM {posts} posts
        GROUP BY subreddit
    """,
    # analysis.sql:172-183 — the view body
    "q15": """
        SELECT *,
               CASE WHEN score >= 1000 THEN 'Viral'
                    WHEN score >= 100 THEN 'Popular'
                    WHEN score >= 10 THEN 'Good'
                    ELSE 'Low' END AS performance_tier,
               RANK() OVER (PARTITION BY subreddit ORDER BY score DESC)
                   AS rank_in_subreddit
        FROM {posts} posts
    """,
}
