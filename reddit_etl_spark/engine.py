"""Engine facade — the switch-over API for a reference user.

The reference exposes three entry points (SURVEY §3): the ETL
pipeline, the embedded stats SQL, and the ad-hoc ``analysis.sql``
corpus. ``Engine`` packages the Spark-native equivalents behind one
object::

    eng = Engine(spark, posts_path="/lake/posts", comments_path="/lake/comments")
    eng.q09().show()                      # DataFrame builder path
    eng.analysis("q09").show()            # the analysis.sql port
    eng.sql("SELECT * FROM post_performance WHERE rank_in_subreddit = 1")
    eng.refresh_stats(stats_path, as_of)  # the keyed upsert

Tables load lazily from the lakehouse paths. They are read in the
pipeline's declared schemas (``POSTS_SCHEMA``, ``COMMENTS_SCHEMA``)
instead of inferring one from the files, which costs a Spark job per
table; a partition column (posts' ``subreddit``) comes last, as an
inferred read would put it. The declared schema wins
over the files: a declared column missing from a file (a lake written
before the column was added) reads as NULL rather than failing, and a
column found only in the files is not read.

A small lake is read as one partition. When a table's size, from the
file index the read lists, is at most both the session's
``spark.sql.autoBroadcastJoinThreshold`` and
``spark.sql.adaptive.coalescePartitions.minPartitionSize``, ``posts``
and ``comments`` return the read ``coalesce(1)``. The frame then
reports ``SinglePartition``, which satisfies every clustered and
ordered distribution, so the plans of the aggregates, windows, sorts
and joins over the views have no Exchange, and AQE runs no extra job
per shuffle; at the reference's scale (tens to thousands of posts) a
shuffle is only scheduling latency. Filters, partition pruning and
column pruning still reach the scan: the optimizer pushes them through
the ``Repartition``. The bounds are Spark's own: the broadcast
threshold is its limit for "small enough to ship whole to one task"
(``-1`` turns off both broadcasts and this path), and the minimum
partition size is the smallest partition AQE coalesces a shuffle into
(1 MB by default), so AQE would put a shuffle of that little data in
one partition anyway. Above it the one task reads the files in series and
loses to the parallel scan: a lake of daily pipeline batches is ~20 KB
per file, and the one-partition path tied at ~0.9 MB and lost from
~2.8 MB on (SCALING.md, "Small lakes read as one partition"). The
decision is made once per ``Engine``, when a table's files are first
listed (the first use of ``posts`` or ``comments``); a lake that grows
past the bound afterwards keeps one partition until a new ``Engine``
is built.

``analysis`` binds this ``Engine``'s own frames into the query text
for that one call (PySpark's DataFrame-argument ``spark.sql``, see
``analysis_sql``) and leaves no session view behind, so Engines over
one session, on one thread or several, each read their own lake.
``sql`` runs the user's text, which names the session views ``posts``,
``comments`` and ``post_performance``: it registers them over this
``Engine``'s tables and analyzes the statement under one process-wide
lock. Classic ``spark.sql`` analyzes eagerly, so the frame it returns
keeps this ``Engine``'s tables even after another ``Engine`` registers
its own; the views themselves stay in the session until replaced.
"""

from __future__ import annotations

import datetime as _dt
import functools
import threading

from pyspark.sql import Column, DataFrame, SparkSession

from . import queries as q
from .analysis_sql import ANALYSIS_QUERIES
from .schemas import COMMENTS_SCHEMA, POSTS_SCHEMA
from .sources.reddit import comments_df
from .stats import daily_subreddit_stats, write_subreddit_stats

#: held from registering the session views until ``sql`` has analyzed
#: its statement against them
_SQL_LOCK = threading.Lock()


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        posts_path: str,
        comments_path: str | None = None,
    ):
        self.spark = spark
        self._posts_path = posts_path
        self._comments_path = comments_path

    @functools.cached_property
    def posts(self) -> DataFrame:
        return self._read(POSTS_SCHEMA, self._posts_path)

    @functools.cached_property
    def comments(self) -> DataFrame:
        if self._comments_path is None:
            raise ValueError("Engine built without a comments_path")
        return self._read(COMMENTS_SCHEMA, self._comments_path)

    def _read(self, schema, path: str) -> DataFrame:
        """The table in its declared schema, as one partition when its
        size is at most the broadcast threshold and AQE's minimum
        partition size. The size is the optimized plan's statistics,
        taken from the file index the read just listed: no job runs."""
        df = self.spark.read.schema(schema).parquet(path)
        conf = self.spark._jsparkSession.sessionState().conf()
        min_partition = conf.getConf(
            self.spark._jvm.org.apache.spark.sql.internal.SQLConf
            .COALESCE_PARTITIONS_MIN_PARTITION_SIZE()
        )
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        small = size <= min(conf.autoBroadcastJoinThreshold(), min_partition)
        return df.coalesce(1) if small else df

    def _comments_or_empty(self) -> DataFrame:
        if self._comments_path is None:
            return comments_df(self.spark, [])
        return self.comments

    # --- the ad-hoc SQL path (SURVEY §3.3) ----------------------------
    def sql(self, statement: str) -> DataFrame:
        posts, comments = self.posts, self._comments_or_empty()
        with _SQL_LOCK:
            q.register_views(posts, comments)
            return self.spark.sql(statement)

    def analysis(self, name: str, as_of=None) -> DataFrame:
        """Run one of the ported analysis.sql queries (q01..q15).
        ``as_of`` is validated as a calendar date before it is spliced
        into the DATE literal — arbitrary strings never reach the SQL
        text."""
        stmt = ANALYSIS_QUERIES[name]
        binds = {"posts": self.posts}
        if "{comments}" in stmt:
            binds["comments"] = self._comments_or_empty()
        if "{as_of}" in stmt:
            if as_of is None:
                raise ValueError(f"{name} needs an explicit as_of date")
            binds["as_of"] = (
                as_of
                if isinstance(as_of, _dt.date)
                else _dt.date.fromisoformat(str(as_of))
            )
        return self.spark.sql(stmt, **binds)

    # --- the stats path (SURVEY §3.2) ---------------------------------
    def refresh_stats(
        self, stats_path: str, as_of: Column | None = None,
        subreddit: str | None = None,
    ) -> None:
        stats = daily_subreddit_stats(self.posts, as_of=as_of, subreddit=subreddit)
        write_subreddit_stats(
            stats, stats_path,
            subreddits=None if subreddit is None else (subreddit,),
        )

    # --- DataFrame builders (SURVEY §2.11) ----------------------------
    def q01(self):
        return q.q01_subreddit_overview(self.posts)

    def q02(self):
        return q.q02_top_posts(self.posts)

    def q03(self):
        return q.q03_posts_by_hour(self.posts)

    def q04(self):
        return q.q04_posts_by_weekday(self.posts)

    def q05(self, limit: int = 20):
        return q.q05_active_authors(self.posts, limit)

    def q06(self):
        return q.q06_content_types(self.posts)

    def q07(self):
        return q.q07_engagement(self.posts)

    def q08(self):
        return q.q08_comment_rollup(self.posts, self.comments)

    def q09(self):
        return q.q09_top_commenters(self.posts, self.comments)

    def q10(self):
        return q.q10_daily_trends(self.posts)

    def q11(self):
        return q.q11_title_insights(self.posts)

    def q12(self):
        return q.q12_correlations(self.posts)

    def q13(self, as_of: Column | None = None):
        return q.q13_weekly_summary(self.posts, as_of)

    def q14(self):
        return q.q14_oc_quality(self.posts)

    def q15(self):
        return q.q15_post_performance(self.posts)

    # --- data quality (operators/dq.py over the reddit tables) --------
    def data_quality(self) -> DataFrame:
        """The standing expectations a production run of this pipeline
        asserts before publishing: key integrity on both tables, the
        transform's own invariants (upvote_ratio is a ratio, sentinel
        authors notwithstanding non-null), and the posts<-comments FK.
        Row-level checks fuse into one scan per table (dq.dq_report);
        returns the combined (check, violations, total) report."""
        from .operators import dq

        posts_report = dq.dq_report(
            self.posts,
            [
                dq.not_null("id"),
                dq.not_null("subreddit"),
                dq.unique(["id"]),
                dq.accepted_range("upvote_ratio", 0.0, 1.0),
            ],
        )
        comments_report = dq.dq_report(
            self.comments,
            [
                dq.not_null("id"),
                dq.unique(["id"]),
                dq.referential("post_id", self.posts, "id"),
            ],
        )
        return posts_report.unionByName(comments_report)
