"""Wall time of a daily pipeline batch into a lake that already holds
rows (SCALING.md, "Overlapped loads").

One process: a session at local[<nproc>] from ``get_spark``; a first
``run_pipeline`` batch (all dates) fills a fresh lake; then each batch
loads the same subreddit again with ``as_of`` set to one of seven
days the batch has posts on, so its stats upsert merges a one-row
batch into the subreddit's stored file while the posts and comments
appends add files. ``--warmup`` batches are untimed, ``--timed`` are
timed; the input is perfbench's ``etl``
batch for ``--seed`` (100 posts, comments of the top 10, 20 each).
Prints one JSON line: the timed walls and their median, in seconds.

    python tools/steady_state_batch.py --seed 1 --warmup 3 --timed 15

Compare code versions by running it from each checkout, alternating,
one process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402  (perfbench's seeded generator)
from pyspark.sql import functions as F  # noqa: E402

from reddit_etl_spark.pipeline import run_pipeline  # noqa: E402
from reddit_etl_spark.session import get_spark  # noqa: E402
from reddit_etl_spark.sources.reddit import MockRedditSource  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--warmup", type=int, default=3)
    p.add_argument("--timed", type=int, default=15)
    args = p.parse_args(argv)

    sub = gen.SUBREDDITS[0]
    posts, comments = gen.reddit_records(args.seed, 200, 20, subreddits=[sub])
    source = MockRedditSource(posts, comments)
    nproc = len(os.sched_getaffinity(0))
    spark = get_spark("steady-state-batch", master=f"local[{nproc}]",
                      shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as d:
        paths = [os.path.join(d, t) for t in ("posts", "comments", "stats")]

        def batch(as_of) -> float:
            t = time.perf_counter()
            (res,) = run_pipeline(spark, source, [sub], *paths,
                                  posts_limit=100, top_n_for_comments=10,
                                  comments_limit=20, as_of=as_of)
            took = time.perf_counter() - t
            if res.errors or res.posts_loaded != 100:
                raise RuntimeError(f"batch failed: {res}")
            return took

        batch(None)  # the lake's first rows: every date
        # seven dates the batch has posts on: each upsert merges one row
        days = sorted({p["created_utc"].date()
                       for p in source.fetch_posts(sub, 100)})[-7:]
        walls = [batch(F.lit(days[i % len(days)]))
                 for i in range(args.warmup + args.timed)][args.warmup:]
    spark.stop()
    print(json.dumps({"walls_s": [round(w, 4) for w in walls],
                      "median_s": round(statistics.median(walls), 4)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
