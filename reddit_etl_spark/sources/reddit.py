"""Reddit ingestion connector (SURVEY §2.1 S1–S5).

The reference extracts with PRAW on the driver (script.py:112-185):
a listing scan per subreddit with a sort-mode dispatch (hot/new/top,
``top`` carrying time_filter='day', script.py:121-128), a 15-field
projection with the '[deleted]' author sentinel and epoch->datetime
conversion (script.py:131-147), and a flattened comment-tree scan
(replace_more(0) + .list()[:limit], script.py:163-167).

Spark-native shape: the connector is an interface returning plain row
dicts; ``posts_df``/``comments_df`` lift them into DataFrames under
the explicit schemas. Network fetch stays driver-side (the listing API
is inherently sequential per subreddit) and rate limiting lives INSIDE
the connector (S5), not in query code.

The lift goes through Arrow: the records become one ``pyarrow.Table``
under ``to_arrow_schema`` of the explicit schema, and
``createDataFrame(table, schema)`` turns it into a JVM-only
``LocalRelation``. The list path (``createDataFrame(list, schema)``)
would instead pickle the rows into a ``PythonRDD``, so every scan of
the batch would start one Python worker per partition. The lifted
frame is a single partition (``coalesce(1)``): the rows already sit in
one process and a batch is capped by the listing limit, so splitting
it would only write one small file per core into the lake, which every
later query then has to open.

The lift keeps the list path's contract: a naive datetime is
driver-local time and an aware one is converted to UTC (both exactly
as ``TimestampType.toInternal``), a ``None`` in a non-nullable field
raises ``ValueError``, extra dict keys are ignored and missing keys
become NULL. A posts batch also carries its extraction instant as a
column (``posts_df``).

PRAW itself is optional — import-gated, since the engine's query
surface must work without network or credentials. ``MockRedditSource``
serves fixtures through the identical interface for tests.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Iterable, Sequence
from typing import Any, Protocol

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType, TimestampType

from ..schemas import COMMENTS_SCHEMA, POSTS_RAW_SCHEMA

SORT_TYPES = ("hot", "new", "top")


class RedditSource(Protocol):
    """Connector interface: both PRAW and the mock implement this."""

    def fetch_posts(
        self, subreddit: str, limit: int = 100, sort_type: str = "hot"
    ) -> list[dict[str, Any]]: ...

    def fetch_comments(
        self, post_id: str, limit: int = 50
    ) -> list[dict[str, Any]]: ...


class RateLimiter:
    """Token-bucket pacing (S5): the reference sleeps 0.1 s per post
    and 1 s per comment batch (script.py:150,317); here the budget is
    a rate, enforced at the connector boundary."""

    def __init__(self, per_second: float, clock=time.monotonic, sleep=time.sleep):
        self.min_interval = 1.0 / per_second if per_second > 0 else 0.0
        self._clock = clock
        self._sleep = sleep
        self._last = None

    def acquire(self) -> None:
        if self.min_interval <= 0:
            return
        now = self._clock()
        if self._last is not None:
            wait = self._last + self.min_interval - now
            if wait > 0:
                self._sleep(wait)
                now = self._clock()
        self._last = now


def _post_record(p: Any) -> dict[str, Any]:
    """The 15-field projection + sentinels (S4, script.py:131-147)."""
    return {
        "id": p.id,
        "title": p.title,
        "author": str(p.author) if p.author else "[deleted]",
        "subreddit": str(p.subreddit),
        "score": int(p.score),
        "upvote_ratio": float(p.upvote_ratio),
        "num_comments": int(p.num_comments),
        "created_utc": dt.datetime.fromtimestamp(p.created_utc, dt.timezone.utc),
        "selftext": p.selftext if p.selftext else None,
        "url": p.url,
        "is_video": bool(p.is_video),
        "is_original_content": bool(p.is_original_content),
        "over_18": bool(p.over_18),
        "stickied": bool(p.stickied),
        "locked": bool(p.locked),
    }


def _comment_record(c: Any, post_id: str) -> dict[str, Any]:
    """9-field comment projection (script.py:170-180)."""
    return {
        "id": c.id,
        "post_id": post_id,
        "author": str(c.author) if c.author else "[deleted]",
        "body": c.body,
        "score": int(c.score),
        "created_utc": dt.datetime.fromtimestamp(c.created_utc, dt.timezone.utc),
        "parent_id": str(c.parent_id),
        "is_submitter": bool(c.is_submitter),
        "extracted_at": dt.datetime.now(dt.timezone.utc),
    }


class PrawRedditSource:
    """Live connector. Requires the optional ``praw`` dependency and
    API credentials; everything else in the engine runs without it.

    The epoch->timestamp conversion is pinned to UTC (the reference's
    naive ``datetime.fromtimestamp`` is host-timezone dependent —
    script.py:139 — a documented divergence)."""

    def __init__(
        self,
        client_id: str,
        client_secret: str,
        user_agent: str,
        posts_per_second: float = 10.0,
    ):
        try:
            import praw  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover - env without praw
            raise ImportError(
                "PrawRedditSource requires the 'praw' package; use "
                "MockRedditSource for offline runs"
            ) from e
        self._reddit = praw.Reddit(
            client_id=client_id, client_secret=client_secret, user_agent=user_agent
        )
        self._limiter = RateLimiter(posts_per_second)

    def fetch_posts(
        self, subreddit: str, limit: int = 100, sort_type: str = "hot"
    ) -> list[dict[str, Any]]:
        if sort_type not in SORT_TYPES:
            raise ValueError(f"sort_type must be one of {SORT_TYPES}")
        sub = self._reddit.subreddit(subreddit)
        # sort dispatch (S2, script.py:121-128); top is top-of-day
        if sort_type == "hot":
            listing = sub.hot(limit=limit)
        elif sort_type == "new":
            listing = sub.new(limit=limit)
        else:
            listing = sub.top(time_filter="day", limit=limit)
        out = []
        for p in listing:
            self._limiter.acquire()
            out.append(_post_record(p))
        return out

    def fetch_comments(self, post_id: str, limit: int = 50) -> list[dict[str, Any]]:
        self._limiter.acquire()
        submission = self._reddit.submission(id=post_id)
        submission.comments.replace_more(limit=0)  # flatten (S3)
        return [
            _comment_record(c, post_id)
            for c in submission.comments.list()[:limit]
        ]


class MockRedditSource:
    """Offline connector with the identical interface — serves
    pre-built row dicts (the §5.2 no-network smoke path)."""

    def __init__(
        self,
        posts: Sequence[dict[str, Any]],
        comments: Iterable[dict[str, Any]] = (),
    ):
        self._posts = list(posts)
        self._comments: dict[str, list[dict[str, Any]]] = {}
        for c in comments:
            self._comments.setdefault(c["post_id"], []).append(c)
        self.post_calls = 0
        self.comment_calls = 0

    def fetch_posts(
        self, subreddit: str, limit: int = 100, sort_type: str = "hot"
    ) -> list[dict[str, Any]]:
        if sort_type not in SORT_TYPES:
            raise ValueError(f"sort_type must be one of {SORT_TYPES}")
        self.post_calls += 1
        rows = [p for p in self._posts if p["subreddit"] == subreddit]
        if sort_type == "new":
            rows = sorted(rows, key=lambda r: r["created_utc"], reverse=True)
        elif sort_type == "top":
            rows = sorted(rows, key=lambda r: r["score"], reverse=True)
        return rows[:limit]

    def fetch_comments(self, post_id: str, limit: int = 50) -> list[dict[str, Any]]:
        self.comment_calls += 1
        return self._comments.get(post_id, [])[:limit]


def _lift(
    spark: SparkSession, records: Sequence[dict[str, Any]], schema: StructType
) -> DataFrame:
    """Records -> a one-partition LocalRelation under ``schema``.

    Timestamps are handed to Arrow as epoch microseconds computed by
    ``TimestampType.toInternal`` itself, so aware, naive and ``None``
    values land exactly where the list path puts them (pyarrow would
    read a naive datetime as UTC rather than driver-local time)."""
    columns = {}
    for f in schema.fields:
        values = [r.get(f.name) for r in records]
        if not f.nullable and None in values:
            raise ValueError(
                f"field {f.name}: this field is not nullable, but got None"
            )
        if isinstance(f.dataType, TimestampType):
            values = [f.dataType.toInternal(v) for v in values]
        columns[f.name] = values
    table = pa.Table.from_pydict(columns, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema).coalesce(1)


#: a lifted posts batch: the 15 connector fields, then the batch's
#: extraction instant (never NULL, as ``current_timestamp()`` is not)
_POSTS_BATCH_SCHEMA = StructType(
    POSTS_RAW_SCHEMA.fields
    + [StructField("extracted_at", TimestampType(), False)]
)


def posts_df(spark: SparkSession, records: Sequence[dict[str, Any]]) -> DataFrame:
    """Lift raw post records into the explicit 15-column schema —
    never inferred (SURVEY §1.2) — plus ``extracted_at``, one UTC
    instant for the whole batch, taken here.

    The instant travels as data, as comment records carry theirs, so
    ``transform_posts`` reads it as a column: a per-batch literal (what
    ``current_timestamp()`` folds into) would be inlined into the
    transform's generated code, and every batch would compile that
    class again."""
    now = dt.datetime.now(dt.timezone.utc)
    stamped = [{**r, "extracted_at": now} for r in records]
    return _lift(spark, stamped, _POSTS_BATCH_SCHEMA)


def comments_df(spark: SparkSession, records: Sequence[dict[str, Any]]) -> DataFrame:
    return _lift(spark, records, COMMENTS_SCHEMA)
