"""Daily subreddit stats — the reference's embedded-SQL aggregate +
upsert path (script.py:259-286) re-expressed as a DataFrame plan +
partition-overwrite upsert.

The reference SQL (script.py:264-276):

    INSERT OR REPLACE INTO subreddit_stats
    SELECT subreddit, DATE(created_utc), COUNT(*), AVG(score),
           AVG(num_comments), MAX(score)
    FROM posts
    WHERE subreddit = ? AND DATE(created_utc) = DATE('now')
    GROUP BY subreddit, DATE(created_utc)

``DATE('now')`` is nondeterministic; the engine takes an injectable
``as_of`` (SURVEY P13) and defaults to current_date() only when the
caller does not care about reproducibility.

Table layout: partitioned by ``subreddit`` only, with ``date`` a data
column, so one upsert writes one file per subreddit it touches. The
key is still (subreddit, date); the upsert merges the batch into the
stored rows of each touched subreddit and overwrites those subreddit
partitions (``write_subreddit_stats``). A (subreddit, date) directory
per key would cost a directory, a file and its own commit rename per
row, which on a local filesystem means a forked ``chmod`` per file and
per directory (SCALING.md, "Stats upsert: one file per subreddit").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schemas import SUBREDDIT_STATS_SCHEMA
from .sinks.writers import path_has_data, upsert_partitioned

STATS_KEYS = ("subreddit", "date")
#: the directory axis of the stats table: one partition per subreddit
STATS_PARTITION = ("subreddit",)
_BATCH = "__from_batch"


def daily_subreddit_stats(
    posts: DataFrame,
    as_of: Column | None = None,
    subreddit: str | None = None,
) -> DataFrame:
    """The stats aggregate (A15). ``as_of=None`` -> all dates (useful
    for backfill); a date Column restricts to that day, mirroring the
    reference's DATE('now') filter. ``subreddit=None`` computes every
    subreddit in one pass — the reference loops per subreddit
    (script.py:339-353), a driver-side loop Spark does not need."""
    df = posts
    if subreddit is not None:
        df = df.filter(F.col("subreddit") == subreddit)
    df = df.withColumn("date", F.to_date("created_utc"))
    if as_of is not None:
        df = df.filter(F.col("date") == as_of)
    return df.groupBy("subreddit", "date").agg(
        F.count("*").alias("total_posts"),
        F.avg("score").alias("avg_score"),
        F.avg("num_comments").alias("avg_comments"),
        F.max("score").alias("top_post_score"),
    )


def write_subreddit_stats(
    stats: DataFrame, path: str, subreddits: Sequence[str] | None = None
) -> None:
    """Upsert on the composite PK (subreddit, date) (K3): each batch
    row replaces the stored row with its key, the touched subreddits'
    other dates are kept, other subreddits are not rewritten, and
    re-writing a batch changes nothing.

    Into a fresh table (every ``run_pipeline`` batch into a new lake)
    the batch is written directly: one job, a dynamic overwrite on
    ``subreddit``. Into a table with rows, one plan: the stored rows
    are unioned with the batch's, tagged; a row survives if its key has
    no batch row or it is the batch row, and only subreddits the batch
    touches survive; the same overwrite then swaps in exactly those
    partitions. ``stats`` is referenced once, so a nondeterministic
    batch (``limit``, sampling) replaces the key it writes. Reading and
    overwriting one path in one job is safe: new files go to a staging
    directory and replace the old partitions at job commit.

    ``subreddits``, when the caller knows them (``run_pipeline`` writes
    one subreddit per batch), lists every subreddit the batch may hold:
    only those partition directories are read, so the upsert's cost
    does not grow with the number of subreddits in the table, and the
    merge runs in one task with no shuffle. A batch row of another
    subreddit fails the job before anything is committed. Without
    them the whole table is read and the merge shuffles by subreddit.
    Even pruned, the merge costs about twice the old layout's blind
    write of a one-date batch, since it reads and rewrites the
    subreddit's stored file (SCALING.md, "Stats upsert: one file per
    subreddit").

    Files: the merge puts each subreddit in one task, so each touched
    subreddit becomes one file. A fresh write gives one file per
    subreddit when the batch is clustered by subreddit (a pipeline
    batch is one partition), else one per task holding its rows until
    the next upsert of that subreddit.

    One writer at a time: two upserts that touch the same subreddit at
    once each merge the rows they read, and the later commit replaces
    the subreddit with its merge, dropping the other's dates. The
    commit deletes each touched subreddit directory and then renames
    the staged one into place, so a crash between the two loses that
    subreddit's history (the staged files stay under
    ``.spark-staging-*``). An upsert therefore refuses to start while a
    ``.spark-staging-*`` directory is present under ``path`` (raises
    ``RuntimeError``): that is either a write in progress or an
    interrupted commit whose staged files must be moved into place or
    removed first. The check narrows the race; it does not close it.

    Raises ``ValueError`` on a table written in the old
    ``subreddit=/date=`` layout rather than mixing the two."""
    spark = stats.sparkSession
    cols = SUBREDDIT_STATS_SCHEMA.fieldNames()
    batch = stats.select(*cols)
    if subreddits is not None:
        subreddits = list(dict.fromkeys(subreddits))
        batch = batch.where(
            F.when(F.col("subreddit").isin(subreddits), True).otherwise(
                F.raise_error(F.lit(
                    f"stats batch holds a subreddit outside {subreddits!r}"
                ))
            )
        )
    stored = _stored_rows(spark, path, subreddits)
    if stored is None:
        upsert_partitioned(batch, path, STATS_PARTITION)
        return
    rows = stored.withColumn(_BATCH, F.lit(0)).unionByName(
        batch.withColumn(_BATCH, F.lit(1))
    )
    if subreddits is not None:
        # a few subreddits' rows: one partition satisfies the windows'
        # clustering, so the plan has no Exchange (and no extra job)
        rows = rows.coalesce(1)
    # a row survives if its key has no batch row or it is the batch
    # row, and its subreddit is touched by the batch (one expression:
    # each DataFrame call is one more analysis on the driver)
    merged = (
        rows.selectExpr(
            *cols,
            f"{_BATCH} = max({_BATCH}) OVER (PARTITION BY {', '.join(STATS_KEYS)})"
            f" AND max({_BATCH}) OVER (PARTITION BY {', '.join(STATS_PARTITION)}) = 1"
            " AS __keep",
        )
        .where("__keep")
        .select(*cols)
    )
    upsert_partitioned(merged, path, STATS_PARTITION)


def _stored_rows(
    spark, path: str, subreddits: list[str] | None
) -> DataFrame | None:
    """The stored rows to merge the batch with: the whole table, or
    only the partitions of ``subreddits``; None when there are none.
    Lists through the Hadoop FileSystem API (no Spark job). Refuses a
    path with a ``.spark-staging-*`` directory (see
    ``write_subreddit_stats``) and the old layout, whose ``date=``
    directories would otherwise be read as a second partition column
    next to the new files."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.globStatus(jvm.org.apache.hadoop.fs.Path(jpath, ".spark-staging-*")):
        raise RuntimeError(
            f"stats table {path!r} holds a .spark-staging-* directory: "
            "another write is in progress, or one was interrupted during "
            "its commit. The stats table takes one writer at a time; "
            "after an interrupted commit, move the staged subreddit "
            "directories into place (or remove them) before upserting."
        )
    if not path_has_data(spark, path):
        return None
    # this check keeps a table in one layout, so one partition tells which
    first = next(
        (s.getPath() for s in fs.listStatus(jpath)
         if s.isDirectory() and not s.getPath().getName().startswith(("_", "."))),
        None,
    )
    if first is not None and any(
        s.getPath().getName().startswith("date=") for s in fs.listStatus(first)
    ):
        raise ValueError(
            f"stats table {path!r} uses the old subreddit=/date= layout; "
            "the stats table is now partitioned by subreddit only, with "
            "date a data column. Rewrite it (read it and write it "
            "partitioned by subreddit) or use a new path."
        )
    reader = spark.read.schema(SUBREDDIT_STATS_SCHEMA)
    if subreddits is None:
        return reader.parquet(path)
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    parts = [
        part for part in (
            jvm.org.apache.hadoop.fs.Path(jpath, f"subreddit={escape(s)}")
            for s in subreddits
        )
        if fs.exists(part)
    ]
    if not parts:
        return None
    return reader.option("basePath", path).parquet(*(p.toString() for p in parts))
