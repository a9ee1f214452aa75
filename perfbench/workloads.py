"""The two benchmark workloads, each driving the package as a library.

A workload has ``setup(seed, directory)``, which generates its inputs
and computes what it needs to check outputs (all outside any timed
window), and ``run_pass(tracer, directory)``, which runs one
closed-loop pass from a single client and returns the timed operations
with their output checks filled in. ``TIMED_PASSES`` is how many
passes a run times at least.

- ``etl``: ``pipeline.run_pipeline`` once per subreddit batch (extract
  through a benchmark-side indexed ``RedditSource``, transform, load,
  comments for the top posts, stats upsert) into a fresh lake per pass,
  then ``Engine.analysis`` for six of q01..q15 over that lake, each
  forced with ``collect()``.
- ``curation``: the harness registry builders that read only the
  ``documents`` and ``embeddings`` tables, over seeded tables with
  planted duplicate clusters.
"""

from __future__ import annotations

import os
from collections import defaultdict

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

import gen
from oracles import ANALYSIS_ORACLE, STATS_ORACLE, Answer, lake_view
from reddit_etl_spark import pipeline
from reddit_etl_spark.engine import Engine
from reddit_etl_spark.harness import _REGISTRY
from reddit_etl_spark.harness.queries_01_core import _EXACT_TOPK_CACHE
from reddit_etl_spark.schemas import COMMENTS_SCHEMA, POSTS_RAW_SCHEMA

POSTS_ARROW = to_arrow_schema(POSTS_RAW_SCHEMA)
COMMENTS_ARROW = to_arrow_schema(COMMENTS_SCHEMA)
DOCS_ARROW = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMB_ARROW = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])


def arrow_table(records: list[dict], schema: pa.Schema) -> pa.Table:
    return pa.Table.from_pylist(records, schema=schema)


def dir_stats(path: str) -> dict[str, int]:
    """Bytes and count of the data files under ``path`` (names that
    start with '.' or '_' are Spark bookkeeping, not table data)."""
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(base, n))
                files += 1
    return {"bytes": size, "files": files}


def data_dirs(path: str) -> set[str]:
    """Directories under ``path`` that hold data files: the partitions
    of a partitioned table."""
    return {base for base, _, names in os.walk(path)
            if any(not n.startswith((".", "_")) for n in names)}


def _run(tracer, name: str, span_build: str, span_action: str, build):
    """Time one operation: ``build()`` returns a DataFrame, which is
    then collected. Returns (op, columns, rows); an exception marks
    the op failed instead of stopping the run."""
    df = rows = None
    with tracer.op(name) as op:
        try:
            with tracer.span(span_build):
                df = build()
            with tracer.span(span_action):
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            op.ok, op.error = False, repr(e)[:300]
    return op, (df.columns if op.ok else []), rows


class IndexedSource:
    """``RedditSource`` over generated records, indexed once so a fetch
    costs a dict lookup and a slice: ``sources`` time then measures
    ``posts_df``/``comments_df``, not a mock's rescans."""

    def __init__(self, posts: list[dict], comments: list[dict]):
        self.posts: dict[str, list[dict]] = defaultdict(list)
        for p in posts:
            self.posts[p["subreddit"]].append(p)
        self.comments: dict[str, list[dict]] = defaultdict(list)
        for c in comments:
            self.comments[c["post_id"]].append(c)

    def fetch_posts(self, subreddit: str, limit: int = 100, sort_type: str = "hot"):
        if sort_type != "hot":
            raise ValueError("the benchmark source serves 'hot' listings only")
        return self.posts[subreddit][:limit]

    def fetch_comments(self, post_id: str, limit: int = 50):
        return self.comments[post_id][:limit]


class Etl:
    """The reference's daily job, then its analysis surface: each pass
    loads a fresh lake through ``run_pipeline`` (one batch per
    subreddit) and runs ``Engine.analysis`` for ``QUERIES`` over that lake."""

    name = "etl"
    #: timed passes per run: after the cold warm-up pass, the time
    #: budget of a full benchmark session (48 runs in 57 minutes)
    #: leaves room for one
    TIMED_PASSES = 1
    SUBREDDITS = gen.SUBREDDITS[:1]
    N_POSTS = 200
    COMMENTS_PER_POST = 20
    POSTS_LIMIT, TOP_N, COMMENTS_LIMIT = 100, 10, 20
    #: six of the fifteen analysis queries, one of each plan shape:
    #: grouped aggregate, per-group max, the two posts-comments joins,
    #: a date-filtered distinct count and a rank window. All fifteen
    #: made a run too long for the time budget above (each query
    #: adds ~2 s of cold and timed work to a run); the other nine are
    #: grouped aggregates like q01.
    QUERIES = ["q01", "q02", "q08", "q09", "q13", "q15"]

    def __init__(self, spark):
        self.spark = spark

    def setup(self, seed: int, d: str) -> dict:
        posts, comments = gen.reddit_records(
            seed, self.N_POSTS, self.COMMENTS_PER_POST,
            subreddits=self.SUBREDDITS)
        self.source = IndexedSource(posts, comments)
        self.as_of = gen.END.date()
        # expected per-batch counts and row ids, straight from the generator
        self.want, self.want_ids = {}, {}
        fetched_posts, fetched_comments = [], []
        for sub in self.SUBREDDITS:
            batch = self.source.fetch_posts(sub, self.POSTS_LIMIT)
            top = sorted(batch, key=lambda p: (-p["score"], p["id"]))[: self.TOP_N]
            cs = [c for p in top
                  for c in self.source.fetch_comments(p["id"], self.COMMENTS_LIMIT)]
            self.want[sub] = (len(batch), len(cs))
            self.want_ids[sub] = (sorted(p["id"] for p in batch),
                                  sorted(c["id"] for c in cs))
            fetched_posts += batch
            fetched_comments += cs
        return {
            "input_bytes": arrow_table(fetched_posts, POSTS_ARROW).nbytes
            + arrow_table(fetched_comments, COMMENTS_ARROW).nbytes,
        }

    def run_pass(self, tracer, d: str) -> list:
        paths = {t: f"{d}/{t}" for t in ("posts", "comments", "stats")}
        ops = []
        for sub in self.SUBREDDITS:
            with tracer.op(f"batch:{sub}") as op:
                try:
                    (res,) = pipeline.run_pipeline(
                        self.spark, self.source, [sub],
                        paths["posts"], paths["comments"], paths["stats"],
                        posts_limit=self.POSTS_LIMIT,
                        top_n_for_comments=self.TOP_N,
                        comments_limit=self.COMMENTS_LIMIT,
                    )
                except Exception as e:  # noqa: BLE001 - counted as failed
                    op.ok, op.error = False, repr(e)[:300]
            if op.ok:
                got = (res.posts_loaded, res.comments_loaded)
                if res.errors or got != self.want[sub]:
                    op.ok = False
                    op.error = f"loaded {got}, want {self.want[sub]} {res.errors}"
            ops.append(op)
        engine = Engine(self.spark, paths["posts"], paths["comments"])
        results = [
            _run(tracer, q, "engine.build", "engine.action",
                 lambda: engine.analysis(q, as_of=self.as_of))
            for q in self.QUERIES
        ]
        self._check(paths, ops, results)
        self.lake = sum(dir_stats(p)["bytes"] for p in paths.values())
        return ops + [op for op, _, _ in results]

    def _check(self, paths: dict, batches: list, results: list) -> None:
        """Read back with DuckDB: each batch's rows in the posts and
        comments tables must be exactly the generator's (ids compared
        as multisets, so dropped, duplicated or misrouted rows fail),
        the stats table must equal a DuckDB aggregate of the loaded
        posts, subreddit by subreddit, and every query must match its
        DuckDB twin over the same lake."""
        con = duckdb.connect()
        for t, p in paths.items():
            lake_view(con, t, p)
        for op in batches:
            sub = op.name.removeprefix("batch:")
            got = tuple(
                [r[0] for r in con.execute(sql, [sub]).fetchall()]
                for sql in (
                    "SELECT id FROM posts WHERE subreddit = ? ORDER BY id",
                    "SELECT c.id FROM comments c JOIN posts p "
                    "ON c.post_id = p.id WHERE p.subreddit = ? ORDER BY c.id",
                ))
            if op.ok and got != tuple(self.want_ids[sub]):
                op.ok, op.error = False, (
                    f"lake holds {len(got[0])} posts, {len(got[1])} comments "
                    f"of r/{sub}, want the generator's {self.want[sub]}")
        want = Answer.of(con, STATS_ORACLE)
        got = Answer.of(con, "SELECT subreddit, date, total_posts, avg_score, "
                             "avg_comments, top_post_score FROM stats")
        for op in batches:
            sub = op.name.removeprefix("batch:")
            w = [r for r in want.rows if r[0] == sub]
            g = [r for r in got.rows if r[0] == sub]
            if op.ok and not (w and Answer(want.cols, w).matches(got.cols, g)):
                op.ok, op.error = False, "stats table differs from DuckDB"
        for op, cols, rows in results:
            sql = ANALYSIS_ORACLE[op.name].format(as_of=self.as_of.isoformat())
            if op.ok and not Answer.of(con, sql).matches(cols, rows):
                op.ok, op.error = False, "result differs from DuckDB"
        con.close()


class Curation:
    name = "curation"
    #: timed passes per run, as for Etl
    TIMED_PASSES = 1
    N_DOCS = 1_000
    N_VECS = 600
    BUILDERS = [
        "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
        "text_profile", "curation_pipeline", "similarity_topk",
    ]

    def __init__(self, spark):
        self.spark = spark

    def setup(self, seed: int, d: str) -> dict:
        """The two tables are written as single parquet files by
        pyarrow, the way the testdata tables are; loading them through
        Spark's writer would add a second cold write path to every run
        without exercising anything the etl workload does not."""
        os.makedirs(d, exist_ok=True)
        tables = {
            "documents": arrow_table(gen.documents(seed, self.N_DOCS), DOCS_ARROW),
            "embeddings": arrow_table(gen.embeddings(seed, self.N_VECS), EMB_ARROW),
        }
        con = duckdb.connect()
        for name, table in tables.items():
            pq.write_table(table, f"{d}/{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{d}/{name}.parquet'")
        self.dir = d
        self.want = {b: Answer.of(con, _REGISTRY[b].oracle) for b in self.BUILDERS}
        con.close()
        return {
            "input_bytes": sum(t.nbytes for t in tables.values()),
            "lake_bytes": sum(os.path.getsize(f"{d}/{n}.parquet") for n in tables),
        }

    def run_pass(self, tracer, d: str) -> list:
        # similarity_topk's builder memoizes its result frame per
        # (application, directory); drop it so every pass computes the
        # top-k. The harness's metadata memos (schemas, row counts, lane
        # choices) stay warm, as they do for any repeated caller.
        while _EXACT_TOPK_CACHE:
            _EXACT_TOPK_CACHE.popitem()[1].unpersist()
        ops = []
        for b in self.BUILDERS:
            op, cols, rows = _run(
                tracer, b, "operators.build", "operators.run",
                lambda: _REGISTRY[b].builder(self.spark, self.dir))
            op.rows = len(rows or ())
            if op.ok and not self.want[b].matches(cols, rows):
                op.ok, op.error = False, "result differs from its registry oracle"
            ops.append(op)
        return ops


WORKLOADS = {w.name: w for w in (Etl, Curation)}
#: curation builders whose largest join is the dedup candidate join,
#: the denominator of ``operators.pair_yield``
PAIR_LANES = ("dedup_ngram_jaccard", "dedup_minhash_lsh")
