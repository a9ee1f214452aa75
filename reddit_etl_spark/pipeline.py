"""Pipeline orchestrator — the reference's ``run_pipeline`` control
flow (script.py:288-326) on Spark storage.

Stage order, empty-input short-circuits, the top-10-posts comment
fetch, and per-stage error containment all mirror the reference
(SURVEY §3.1); the three loads overlap:

    extract -> [empty guard] -> transform -> start: load posts,
                                                    stats upsert
    -> top-10 by score -> fetch comments -> start: load comments
    -> join the three loads

Per-batch Spark budget: three jobs per subreddit batch — the posts
write, the stats upsert and the comments write — overlapped. None of
them reads another's output: all three read only the batch's lifted
frames, so each runs on its own ``InheritableThread`` and the batch
waits for the slowest instead of their sum. The threads inherit the
caller's local properties (job group, description, scheduler pool),
so the batch's jobs stay in the caller's job group. The posts write
and the upsert start as soon as the transform is built; the comments
write starts once the top posts' comments are fetched, so a slow
fetch (a rate-limited API) overlaps the first two loads too.
Everything else is derived on the driver from the records it already
holds: posts loaded is the record count (the transform is
row-preserving), the top-N posts come from a ``heapq`` over the
records in the order ``score DESC NULLS LAST, id ASC``, and the stats
row count is an ``Observation`` filled in by the upsert itself. The
batch frames are one-partition LocalRelations (sources/reddit.py), so
re-reading them for the stats aggregate costs no extra job and no
cache. That budget holds once the stats table has rows too: the
upsert names the batch's subreddit, so it reads only that subreddit's
stored file and merges it with the batch in one task, with no shuffle
(stats.py).

Failure contract (the reference's log-and-continue per load,
script.py:238-239; DIVERGENCES D11): each load commits or fails on
its own. Every failure is logged and goes into
``PipelineResult.errors``; ``posts_loaded``, ``comments_loaded`` and
``stats_rows`` are set only for the loads that committed, so each
equals what its load wrote to the lake. The stats come from the
batch, not from the posts table: a failed posts load can leave stats
for posts the lake does not hold, and re-running the batch repairs it
(the upsert is idempotent). ``_run_one`` joins every load it started
before it returns or raises.

Overlap stops at the batch boundary: batches run one after another.
Two appends to one table path share the ``FileOutputCommitter``'s
``_temporary/0`` directory under that path, and the first commit
deletes it; within one batch the three loads write three different
paths (``run_pipeline`` refuses a path shared by two of them). The
stats upsert is one writer at a time as well (stats.py).

Divergences (documented): ties on the top-N score break by ascending
id (the reference's pandas ``nlargest`` keeps listing order), and the
stats upsert merges the batch into the stored rows of its subreddit
and overwrites that subreddit's partition (one file) instead of SQLite
INSERT OR REPLACE (same last-writer-wins semantics, stats.py).
"""

from __future__ import annotations

import heapq
import logging
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession
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
    main() logs and moves on, script.py:351-353) and, within a batch,
    per load (module docstring)."""
    paths = (posts_path, comments_path, stats_path)
    if len({_qualified(spark, p) for p in paths}) < 3:
        raise ValueError(
            "posts, comments and stats need three different paths: a "
            "batch writes them concurrently"
        )
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


def _qualified(spark: SparkSession, path: str) -> str:
    """``path`` as Hadoop resolves it: with its file system's scheme
    and authority, against the working directory when relative, and
    without ``.``, ``..`` or a trailing slash. Two spellings of one
    directory compare equal; nothing is read."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(p).toString()


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
    posts = _Load(spark, f"posts load of r/{sub}", append_parquet,
                  transformed, posts_path, ("subreddit",))
    stats = _Load(spark, f"stats upsert of r/{sub}", _upsert_stats,
                  transformed, stats_path, sub, as_of)
    comments = None
    try:
        # comments for the top-N posts by score (script.py:311-315)
        comment_records = []
        for pid in top_post_ids(records, top_n):
            comment_records.extend(
                source.fetch_comments(pid, limit=comments_limit))
        if comment_records:
            comments = _Load(
                spark, f"comments load of r/{sub}", append_parquet,
                comments_df(spark, comment_records), comments_path,
            )
    finally:
        if posts.committed(res):
            res.posts_loaded = len(records)
        if stats.committed(res):
            res.stats_rows = stats.value
        if comments is not None and comments.committed(res):
            res.comments_loaded = len(comment_records)


def _upsert_stats(
    transformed: DataFrame, stats_path: str, sub: str, as_of: Column | None
) -> int:
    """The daily stats upsert (script.py:320, :259-286). Returns the
    rows written, counted by an ``Observation`` on the upsert's own
    job. It is read only once the upsert has returned:
    ``Observation.get`` waits for the observed frame's first action,
    which a failed upsert may never run."""
    stats = daily_subreddit_stats(transformed, as_of=as_of, subreddit=sub)
    written = Observation()
    stats = stats.observe(written, F.count(F.lit(1)).alias("rows"))
    write_subreddit_stats(stats, stats_path, subreddits=(sub,))
    return written.get["rows"]


class _Load(InheritableThread):
    """``load(*args)`` on its own thread, started at once. The thread
    inherits the caller's local properties (job group, description,
    scheduler pool), so its jobs count as the caller's."""

    def __init__(self, spark: SparkSession, name: str,
                 load: Callable[..., Any], *args: Any):
        super().__init__(self._call, args=(load, args), session=spark,
                         name=name)
        self.value: Any = None
        self.error: Exception | None = None
        self.start()

    def _call(self, load: Callable[..., Any], args: tuple) -> None:
        try:
            self.value = load(*args)
        except Exception as e:  # noqa: BLE001 - reported by committed()
            self.error = e

    def committed(self, res: PipelineResult) -> bool:
        """Wait for the load; a failure is logged and goes into
        ``res.errors``."""
        self.join()
        if self.error is not None:
            log.error("%s failed", self.name, exc_info=self.error)
            res.errors.append(f"{self.name}: {self.error}")
        return self.error is None


def top_post_ids(records: Sequence[dict[str, Any]], n: int) -> list[str]:
    """Ids of the ``n`` top records in ``ORDER BY score DESC NULLS
    LAST, id ASC`` order (the nlargest analogue). Python orders str by
    code point, which is the order of Spark's UTF-8 byte comparison."""

    def key(r: dict[str, Any]) -> tuple:
        score = r.get("score")
        return (score is None, -score if score is not None else 0, r["id"])

    return [r["id"] for r in heapq.nsmallest(n, records, key=key)]
