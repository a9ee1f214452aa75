"""Pipeline orchestrator — the reference's ``run_pipeline`` control
flow (script.py:288-326) on Spark storage.

Stage order, empty-input short-circuits, the top-10-posts comment
fetch, and per-stage error containment all mirror the reference
(SURVEY §3.1):

    extract -> [empty guard] -> transform -> load posts
    -> top-10 by score -> fetch+load comments -> stats upsert

Per-batch Spark budget: three jobs per subreddit batch — the posts
write, the comments write and the stats upsert. Everything else is
derived on the driver from the records it already holds: posts loaded
is the record count (the transform is row-preserving), the top-N posts
come from a ``heapq`` over the records in the order
``score DESC NULLS LAST, id ASC``, and the stats row count is an
``Observation`` filled in by the upsert itself. The batch frames are
one-partition LocalRelations (sources/reddit.py), so re-reading them
for the stats aggregate costs no extra job and no cache. That budget
holds once the stats table has rows too: the upsert names the batch's
subreddit, so it reads only that subreddit's stored file and merges it
with the batch in one task, with no shuffle (stats.py).

Divergences (documented): ties on the top-N score break by ascending
id (the reference's pandas ``nlargest`` keeps listing order), and the
stats upsert merges the batch into the stored rows of its subreddit
and overwrites that subreddit's partition (one file) instead of SQLite
INSERT OR REPLACE (same last-writer-wins semantics, stats.py).
"""

from __future__ import annotations

import heapq
import logging
from collections.abc import Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, Observation, SparkSession
from pyspark.sql import functions as F

from .sinks.writers import append_parquet
from .sources.reddit import RedditSource, comments_df, posts_df
from .stats import daily_subreddit_stats, write_subreddit_stats
from .transform import transform_posts

log = logging.getLogger(__name__)


@dataclass
class PipelineResult:
    subreddit: str
    posts_loaded: int = 0
    comments_loaded: int = 0
    stats_rows: int = 0
    errors: list[str] = field(default_factory=list)


def run_pipeline(
    spark: SparkSession,
    source: RedditSource,
    subreddits: Sequence[str],
    posts_path: str,
    comments_path: str,
    stats_path: str,
    posts_limit: int = 50,
    sort_type: str = "hot",
    top_n_for_comments: int = 10,
    comments_limit: int = 20,
    as_of: Column | None = None,
) -> list[PipelineResult]:
    """E→T→L for each subreddit + comments for its top posts + daily
    stats upsert. Errors are contained per subreddit (the reference's
    main() logs and moves on, script.py:351-353)."""
    results = []
    for sub in subreddits:
        res = PipelineResult(subreddit=sub)
        results.append(res)
        try:
            _run_one(
                spark, source, sub, res,
                posts_path, comments_path, stats_path,
                posts_limit, sort_type, top_n_for_comments, comments_limit,
                as_of,
            )
        except Exception as e:  # noqa: BLE001 - reference behavior
            log.exception("pipeline failed for r/%s", sub)
            res.errors.append(str(e))
    return results


def _run_one(
    spark: SparkSession,
    source: RedditSource,
    sub: str,
    res: PipelineResult,
    posts_path: str,
    comments_path: str,
    stats_path: str,
    posts_limit: int,
    sort_type: str,
    top_n: int,
    comments_limit: int,
    as_of: Column | None,
) -> None:
    records = source.fetch_posts(sub, limit=posts_limit, sort_type=sort_type)
    if not records:  # empty guard (script.py:296-298)
        log.warning("no posts extracted for r/%s", sub)
        return

    # transform_posts is row-preserving, so the guard above also stands
    # for the reference's post-transform guard (script.py:303-305)
    transformed = transform_posts(posts_df(spark, records))
    append_parquet(transformed, posts_path, partition_by=("subreddit",))
    res.posts_loaded = len(records)

    # comments for the top-N posts by score (script.py:311-315)
    comment_records = []
    for pid in top_post_ids(records, top_n):
        comment_records.extend(source.fetch_comments(pid, limit=comments_limit))
    if comment_records:
        cdf = comments_df(spark, comment_records)
        append_parquet(cdf, comments_path, partition_by=())
        res.comments_loaded = len(comment_records)

    # daily stats upsert (script.py:320, :259-286); the row count rides
    # on the upsert's own job
    stats = daily_subreddit_stats(transformed, as_of=as_of, subreddit=sub)
    written = Observation()
    stats = stats.observe(written, F.count(F.lit(1)).alias("rows"))
    write_subreddit_stats(stats, stats_path, subreddits=(sub,))
    res.stats_rows = written.get["rows"]


def top_post_ids(records: Sequence[dict[str, Any]], n: int) -> list[str]:
    """Ids of the ``n`` top records in ``ORDER BY score DESC NULLS
    LAST, id ASC`` order (the nlargest analogue). Python orders str by
    code point, which is the order of Spark's UTF-8 byte comparison."""

    def key(r: dict[str, Any]) -> tuple:
        score = r.get("score")
        return (score is None, -score if score is not None else 0, r["id"])

    return [r["id"] for r in heapq.nsmallest(n, records, key=key)]
