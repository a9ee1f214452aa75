"""Streaming stats — the reference's daily ``subreddit_stats`` upsert
(script.py:259-286) recast as Structured Streaming, per SURVEY §2.9:
watermarked tumbling-window aggregation feeding a foreachBatch keyed
upsert. Batch and stream share the same aggregate expressions, so the
two paths are provably equivalent (tests/test_pipeline.py proves it on
identical input).

Scale notes: the state store holds one row per (key, open window) —
watermark bounds it; the foreachBatch upsert is the batch path's
``stats.write_subreddit_stats``, so the stream and the batch write one
table layout (partitioned by subreddit) and each micro-batch reads and
rewrites only the subreddits it contains. The table takes one writer
at a time, so a running stream and a batch upsert (``run_pipeline``,
``Engine.refresh_stats``) must not write the same path at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..stats import write_subreddit_stats


def windowed_event_rollup(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window event rollup — the streaming twin of the batch
    ``events_windowed`` harness query (identical aggregate exprs).
    Works on both static and streaming DataFrames; on a stream the
    watermark bounds state and admits late data up to ``watermark``."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(ts_col, window).getField("start").alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("event_count"),
            F.sum("value").alias("total_value"),
            F.avg("value").alias("avg_value"),
        )
    )


def daily_stats_agg(posts: DataFrame, watermark: str = "1 day") -> DataFrame:
    """1-day tumbling window per subreddit — streaming form of
    stats.daily_subreddit_stats (same aggregates, window start ==
    DATE(created_utc) for UTC-aligned days)."""
    df = posts
    if df.isStreaming:
        df = df.withWatermark("created_utc", watermark)
    return (
        df.groupBy(
            F.col("subreddit"),
            F.window("created_utc", "1 day").getField("start").cast("date").alias("date"),
        )
        .agg(
            F.count("*").alias("total_posts"),
            F.avg("score").alias("avg_score"),
            F.avg("num_comments").alias("avg_comments"),
            F.max("score").alias("top_post_score"),
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    within: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key
    arriving within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps state only until the
    watermark passes each key's first-seen time + ``within`` — bounded
    state, unlike plain dropDuplicates on a stream (which grows
    forever). The batch twin is ``operators.dedup.exact_dedup`` /
    ``dropDuplicates``; parity on replayed input is tested."""
    return stream.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_click_attribution(
    impressions: DataFrame,
    clicks: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    attribution_window: str = "30 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each click to
    the impression(s) it followed within ``attribution_window`` — the
    streaming twin of the batch as-of/interval join family
    (operators/asof.py, operators/rangejoin.py).

    State-bound by construction: BOTH sides carry a watermark and the
    join condition bounds click.ts to [imp.ts, imp.ts + window], so
    Spark evicts impression state once the click watermark passes
    imp.ts + window and click state once it can no longer match — the
    state store holds O(events within the horizon), not the stream
    history. Works identically on static frames (the batch-parity
    test replays the same input both ways).

    Columns: (user, imp_ts, click_ts, imp_value, click_value).

    ``how='left_outer'`` additionally emits every UNMATCHED impression
    (click columns NULL) once the click watermark passes its match
    horizon — the "impressions that never converted" stream, which an
    inner join can only produce with a separate batch reconciliation.
    Spark requires the time bound + both watermarks for exactly this
    reason: the NULL row can only be emitted when no future click can
    match, so output lags the watermark by the attribution window
    (correctness over latency, the streaming outer-join contract).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"how must be inner/left_outer, got {how!r}")
    imp = impressions.select(
        F.col(user_col).alias("user"),
        F.col(ts_col).alias("imp_ts"),
        F.col("value").alias("imp_value"),
    )
    clk = clicks.select(
        F.col(user_col).alias("click_user"),
        F.col(ts_col).alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    if imp.isStreaming:
        imp = imp.withWatermark("imp_ts", watermark)
    if clk.isStreaming:
        clk = clk.withWatermark("click_ts", watermark)
    cond = (
        (imp["user"] == clk["click_user"])
        & (clk["click_ts"] >= imp["imp_ts"])
        & (
            clk["click_ts"]
            <= imp["imp_ts"] + F.expr(f"INTERVAL {attribution_window}")
        )
    )
    return imp.join(clk, cond, how).select(
        "user", "imp_ts", "click_ts", "imp_value", "click_value"
    )


def stream_daily_subreddit_stats(
    posts_stream: DataFrame,
    stats_path: str,
    checkpoint_path: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuously maintain the stats table from a posts stream.

    Update-mode windowed agg -> foreachBatch keyed upsert on
    (subreddit, date) through ``stats.write_subreddit_stats``: each
    micro-batch re-emits the windows it touched and the upsert
    replaces exactly those rows, rewriting the subreddits they belong
    to — INSERT OR REPLACE, continuously. ``available_now=True`` drains
    the currently-available input then stops (the batch-parity mode
    used in tests and backfills)."""
    agg = daily_stats_agg(posts_stream)

    def upsert_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # one evaluation of the stateful aggregate per micro-batch: its
        # rows (one per (subreddit, date) the batch updated) come to the
        # driver, and the upsert writes them from a local relation, so
        # an emptiness check and the write do not each re-run it
        rows = batch_df.toArrow()
        if rows.num_rows == 0:
            return
        batch = batch_df.sparkSession.createDataFrame(rows, batch_df.schema)
        subreddits = set(rows.column("subreddit").to_pylist())
        write_subreddit_stats(
            batch.coalesce(1), stats_path,
            subreddits=None if None in subreddits else sorted(subreddits),
        )

    writer = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(upsert_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_incremental_dedup(
    batch_stream: DataFrame,
    id_col: str,
    content_cols: list,
    keys_path: str,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Streaming corpus ingestion with exact dedup against ALL history:
    each micro-batch runs ``incremental_exact_dedup`` against the
    persisted content-key index, appends the novel rows to ``out_path``
    and the novel keys to ``keys_path``.

    This is the unbounded-state dedup ``dropDuplicatesWithinWatermark``
    cannot do: the state lives in an append-only parquet key index
    (24 bytes/doc) instead of the state store, so "have we EVER seen
    this content" stays answerable at 100 TB — the index for a
    billion-doc corpus is ~24 GB, a cheap hash-join probe side.
    foreachBatch is at-least-once, so the writes are made IDEMPOTENT
    under micro-batch replay: each batch overwrites its own
    ``batch=<id>`` subdirectory (plain-parquet partition dirs) instead
    of appending to a shared one — a retried batch rewrites the same
    files rather than duplicating rows. Readers of ``out_path`` /
    ``keys_path`` see an extra ``batch`` partition column.

    Path-scheme-agnostic: the empty-index probe goes through the
    Hadoop FileSystem API (``sinks.writers.path_has_data``), so
    ``keys_path``/``out_path`` may be any URI Spark can read — file:/,
    hdfs:/, s3a:/ — not just local paths."""
    from ..operators.dedup import (
        CONTENT_KEY_VERSION,
        content_key_col,
        incremental_exact_dedup,
    )
    from ..sinks.writers import path_has_data

    import hashlib

    # batch ids restart at 0 for every new checkpoint (query
    # incarnation), so the subdir key carries a checkpoint-derived
    # prefix: a RETRY of the same (checkpoint, batch) overwrites its
    # own directory, while a new query incarnation writes new ones
    qid = hashlib.md5(checkpoint_path.encode()).hexdigest()[:8]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        bkey = f"{qid}-{batch_id}"
        spark = batch_df.sparkSession
        seen = (
            spark.read.parquet(keys_path)
            if path_has_data(spark, keys_path)
            else None
        )
        if seen is not None:
            # the version stamp is the docstring-mandated guard made
            # REAL: a key index hashed under a different format would
            # not error — it would silently stop matching known
            # content and re-admit every historical duplicate — so a
            # missing stamp (pre-versioning index) or a mismatched one
            # refuses loudly with the rebuild instruction
            if "key_version" not in seen.columns:
                raise ValueError(
                    f"content-key index at {keys_path} has no "
                    "key_version column (written before format "
                    f"v{CONTENT_KEY_VERSION} stamping): its keys are "
                    "not comparable to the current format and would "
                    "silently re-admit known duplicates. Rebuild the "
                    "index from the corpus (or migrate it) before "
                    "resuming."
                )
            mm = seen.agg(
                F.min("key_version").alias("lo"),
                F.max("key_version").alias("hi"),
            ).first()
            if mm["lo"] != CONTENT_KEY_VERSION or mm["hi"] != CONTENT_KEY_VERSION:
                raise ValueError(
                    f"content-key index at {keys_path} holds format "
                    f"version(s) {mm['lo']}..{mm['hi']} but this build "
                    f"writes v{CONTENT_KEY_VERSION}: rebuild the index "
                    "— mixed formats silently re-admit duplicates."
                )
            # a replayed batch's own keys must not mask it as 'seen';
            # drop the partition column before the index union/probe
            seen = seen.filter(F.col("batch") != bkey).select("h64", "h128")
        survivors, _ = incremental_exact_dedup(
            batch_df, seen, id_col, content_cols
        )
        novel = batch_df.join(survivors, id_col, "left_semi").localCheckpoint()
        novel.write.mode("overwrite").parquet(f"{out_path}/batch={bkey}")
        (
            novel.select(content_key_col(content_cols).alias("__ck"))
            .select(
                F.col("__ck.h64").alias("h64"),
                F.col("__ck.h128").alias("h128"),
                F.lit(CONTENT_KEY_VERSION).alias("key_version"),
            )
            .write.mode("overwrite")
            .parquet(f"{keys_path}/batch={bkey}")
        )

    writer = (
        batch_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_zscore_anomalies(
    rollup: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window: int = 7,
    threshold: float = 3.0,
    watermark: str = "1 day",
) -> DataFrame:
    """Stateful streaming twin of ``relational.rolling_zscore``: each
    arriving (key, period, value) row is scored against the TRAILING
    ``window`` periods held in per-key state (current row excluded),
    then pushed into the state ring. Same rounding discipline as the
    batch operator (mean and stddev_samp rounded to 6 BEFORE z, z
    rounded before the threshold), so a key fed in period order
    produces bit-identical scores to the batch window — proven in
    tests on the same input.

    State is O(keys x window) — two short arrays per key, no timeout
    (an anomaly baseline should survive quiet periods, unlike a
    session). Rows arriving out of period order WITHIN a micro-batch
    are sorted before folding; order is only guaranteed across batches
    up to the watermark, the same contract every trailing-window
    stream has.
    """
    from collections.abc import Iterator as _Iter

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("period", TimestampType()),
            StructField("value", DoubleType()),
            StructField("zscore", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("periods", ArrayType(LongType())),
            StructField("values", ArrayType(DoubleType())),
        ]
    )

    def fold(
        key: tuple,
        pdfs: _Iter[pd.DataFrame],
        state: GroupState,
    ) -> _Iter[pd.DataFrame]:
        (k,) = key
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values(ts_col, kind="mergesort")
        if state.exists:
            periods, values = state.get
            periods, values = list(periods), list(values)
        else:
            periods, values = [], []
        out_p, out_v, out_z, out_f = [], [], [], []
        import math

        for t, v in zip(
            (rows[ts_col].astype("int64") // 1_000_000).tolist(),
            rows[value_col].astype("float64").tolist(),
        ):
            # a NULL reading (NaN after the float cast) is no reading:
            # it gets an unscored output row and is NOT pushed into
            # state — one NaN would otherwise poison the trailing
            # window's mean/std for the next `window` periods,
            # suppressing real anomalies. (Batch parity nuance: the
            # batch ROWS frame counts a null row as a window SLOT
            # while skipping it in avg/stddev; the stream instead
            # keeps the last `window` VALID readings — identical on
            # null-free input, slightly longer lookback around nulls.)
            if math.isnan(v):
                out_p.append(pd.Timestamp(t, unit="ms"))
                out_v.append(None)
                out_z.append(None)
                out_f.append(False)
                continue
            z = None
            n = len(values)
            if n >= 2:
                s = pd.Series(values)
                m = round(float(s.mean()), 6)
                sd = round(float(s.std(ddof=1)), 6)
                if sd > 0:
                    z = round((v - m) / sd, 6)
            out_p.append(pd.Timestamp(t, unit="ms"))
            out_v.append(v)
            out_z.append(z)
            out_f.append(bool(z is not None and abs(z) > threshold))
            periods.append(int(t))
            values.append(float(v))
            if len(values) > window:
                periods, values = periods[-window:], values[-window:]
        state.update((periods, values))
        yield pd.DataFrame(
            {
                "key": [k] * len(out_p),
                "period": out_p,
                "value": out_v,
                "zscore": out_z,
                "is_anomaly": out_f,
            }
        )

    return (
        rollup.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_hll_distinct_rollup(
    events_stream: DataFrame,
    group_cols: list,
    value_col: str,
    state_path: str,
    checkpoint_path: str,
    lg_k: int = 12,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuously maintain a per-group DISTINCT-COUNT rollup from a
    stream, as mergeable HLL sketches — the 100 TB pattern where the
    raw stream is never re-scannable: each micro-batch folds into a
    KB-sized sketch per group, and any later coarsening
    (day -> week -> all-time) re-aggregates sketches, not events.

    Each micro-batch computes per-group batch sketches
    (``hll_sketch_agg``), unions them with the persisted state via
    ``hll_union_agg`` (register-wise max — ASSOCIATIVE and
    COMMUTATIVE, so the final state is independent of how the stream
    was chopped into batches; the batch/stream equivalence test pins
    this), and commits the merged state as a new VERSION of a
    snapshot-versioned table (``sinks/versioned.py``): the publish is
    an atomic manifest rename with no delete-then-move crash window,
    a crash mid-commit leaves the prior version fully readable, and
    history stays auditable until ``vacuum``. First-batch detection
    is EXPLICIT (no versions committed yet) — a genuine read failure
    raises instead of being mistaken for "no state" and silently
    resetting the accumulated counts to one batch's worth.

    State size per version: O(groups) x ~2^lg_k bytes, independent of
    stream volume. Read the rollup with
    ``sinks.versioned.read_versioned(spark, state_path)``.
    """
    from ..operators.sketch import hll_merge_rollup, hll_rollup
    from ..sinks.versioned import read_versioned, versions, write_versioned

    def fold_batch(batch_df: DataFrame, _batch_id: int) -> None:
        # one scan of the micro-batch: its per-group sketches (~2^lg_k
        # bytes per group) come to the driver and the merge reads them
        # from a local relation, so an emptiness check and the fold do
        # not each scan the input; an empty batch has no groups
        spark = batch_df.sparkSession
        batch_sk = hll_rollup(batch_df, group_cols, value_col, lg_k=lg_k).select(
            *group_cols, "hll_sketch"
        )
        sketches = batch_sk.toArrow()
        if sketches.num_rows == 0:
            return
        both = spark.createDataFrame(sketches, batch_sk.schema)
        if versions(state_path):
            prior = read_versioned(spark, state_path).select(
                *group_cols, "hll_sketch"
            )
            both = both.unionByName(prior)
        merged = hll_merge_rollup(both, group_cols)
        write_versioned(merged, state_path, mode="overwrite")

    writer = (
        events_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(fold_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _mg_fold_batch(
    spark,
    batch_df: DataFrame,
    value_col: str,
    capacity: int,
    state_path: str,
    bkey: str,
) -> None:
    """One heavy-hitters state fold (module-level so replay semantics
    are unit-testable): merge the batch's distributed MG summary into
    the persisted counters and commit a new state version stamped
    with ``bkey``.

    Replay-idempotent under at-least-once foreachBatch: if the LATEST
    committed version already carries this ``bkey`` (state written,
    then the driver died before the streaming checkpoint recorded the
    batch), the fold rebases on the PREDECESSOR version instead of
    double-counting — counter sums, unlike the HLL rollup's
    register-max, are not naturally idempotent. The recommit yields
    the same counters the lost commit held.
    """
    from ..operators.sketch import mg_partition_summaries
    from ..sinks.versioned import read_versioned, versions, write_versioned

    # the batch's summary first: it is the fold's one scan of the
    # micro-batch, and a batch with no (non-NULL) values leaves the
    # state as it is, so nothing is committed for it
    batch_rows = (
        mg_partition_summaries(batch_df, value_col, capacity)
        .groupBy(value_col)
        .agg(F.sum("est_count").alias("est_count"))
        .collect()
    )
    if not batch_rows:
        return
    vs = versions(state_path)
    prior_rows: list = []
    if vs:
        latest = read_versioned(spark, state_path)
        latest_rows = latest.collect()  # <= capacity rows + stamp col
        if latest_rows and latest_rows[0]["last_batch"] == bkey:
            # replay: rebase on the version BEFORE the duplicate commit
            if len(vs) > 1:
                prior_rows = read_versioned(
                    spark, state_path, version=vs[-2]
                ).collect()
        else:
            prior_rows = latest_rows
    # merge + trim in plain Python: both inputs are bounded (state <=
    # capacity, batch summary <= partitions x capacity), so ONE
    # evaluation replaces the previous re-executed-per-action plan
    counters: dict = {}
    for r in prior_rows:
        counters[r[value_col]] = counters.get(r[value_col], 0) + r["est_count"]
    for r in batch_rows:
        counters[r[value_col]] = counters.get(r[value_col], 0) + r["est_count"]
    if len(counters) > capacity:
        cut = sorted(counters.values(), reverse=True)[capacity]
        counters = {v: c - cut for v, c in counters.items() if c - cut > 0}
    out = spark.createDataFrame(
        [(v, int(c), bkey) for v, c in sorted(counters.items())],
        f"`{value_col}` string, est_count long, last_batch string",
    )
    write_versioned(out, state_path, mode="overwrite")


def stream_heavy_hitters(
    events_stream: DataFrame,
    value_col: str,
    state_path: str,
    checkpoint_path: str,
    capacity: int = 50,
    available_now: bool = False,
) -> StreamingQuery:
    """Continuously maintain a Misra-Gries heavy-hitters summary over
    an unbounded stream: state is AT MOST ``capacity`` counters no
    matter how many distinct values flow by — the "top talkers /
    trending terms forever" shape where exact streaming GROUP BY state
    grows without bound.

    Each micro-batch reduces distributively to its own MG summary
    (``sketch.mg_partition_summaries`` + counter-sum, <= partitions x
    capacity rows, never the raw stream), then merges with the
    persisted summary by the mergeable-summaries rule (sum shared
    counters, subtract the (capacity+1)-th largest, keep positive —
    Agarwal et al., PODS 2012). The total error keeps the standard MG
    bound over the WHOLE stream (est <= true <= est + N/(capacity+1),
    N = events so far), so every value with frequency above
    N/(capacity+1) is guaranteed present — pinned by the test against
    exact whole-stream counts. State publishes as a snapshot-versioned
    table stamped with a checkpoint-derived batch key, making replays
    of the same micro-batch IDEMPOTENT (see :func:`_mg_fold_batch`);
    read with ``sinks.versioned.read_versioned``.
    """
    import hashlib

    qid = hashlib.md5(checkpoint_path.encode()).hexdigest()[:8]

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        _mg_fold_batch(
            batch_df.sparkSession, batch_df, value_col, capacity,
            state_path, f"{qid}-{batch_id}",
        )

    writer = (
        events_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(fold_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_cusum(
    rollup: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    target: float,
    h: float,
    k: float = 0.0,
    scale: int = 1_000_000,
    watermark: str = "1 day",
) -> DataFrame:
    """Stateful streaming twin of ``series.cusum_changepoints`` with a
    FIXED reference level: Page's recursion S+ = max(0, S+ + (x - mu
    - k)) IS the incremental form, so per-key state is two exact
    BIGINTs — the O(1)-state drift monitor that runs forever on a
    live metric stream (the batch twin's global-mean target needs the
    whole series; a stream pins mu to a known baseline, which is also
    the textbook deployment).

    Same integer discipline as the batch operator (deltas FLOOR-
    quantized to ``scale``-ths before any arithmetic), so a key fed
    in period order produces bit-identical s_hi/s_lo to
    ``cusum_changepoints(..., target_col=<mu>)`` — proven in tests.
    Rows out of period order WITHIN a micro-batch are sorted before
    folding (the trailing-stream contract); NULL readings get an
    unscored row and do not move the state.

    Output rows: (key, period, value, s_hi, s_lo, alarm_hi,
    alarm_lo), one per input row, append mode.
    """
    from collections.abc import Iterator as _Iter

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("period", TimestampType()),
            StructField("value", DoubleType()),
            StructField("s_hi", DoubleType()),
            StructField("s_lo", DoubleType()),
            StructField("alarm_hi", BooleanType()),
            StructField("alarm_lo", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("shi", LongType()), StructField("slo", LongType())]
    )
    k_int = int(k * scale)
    h_int = int(h * scale)

    def fold(
        key: tuple,
        pdfs: _Iter[pd.DataFrame],
        state: GroupState,
    ) -> _Iter[pd.DataFrame]:
        import math

        (kname,) = key
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks).sort_values(ts_col, kind="mergesort")
        shi, slo = state.get if state.exists else (0, 0)
        out = {c: [] for c in ("period", "value", "s_hi", "s_lo",
                               "alarm_hi", "alarm_lo")}
        for t, v in zip(
            (rows[ts_col].astype("int64") // 1_000_000).tolist(),
            rows[value_col].astype("float64").tolist(),
        ):
            out["period"].append(pd.Timestamp(t, unit="ms"))
            if math.isnan(v):
                out["value"].append(None)
                out["s_hi"].append(None)
                out["s_lo"].append(None)
                out["alarm_hi"].append(False)
                out["alarm_lo"].append(False)
                continue
            d = math.floor((v - target) * scale)
            shi = max(0, shi + d - k_int)
            slo = max(0, slo - d - k_int)
            out["value"].append(v)
            out["s_hi"].append(round(shi / scale, 6))
            out["s_lo"].append(round(slo / scale, 6))
            out["alarm_hi"].append(shi > h_int)
            out["alarm_lo"].append(slo > h_int)
        state.update((int(shi), int(slo)))
        yield pd.DataFrame({"key": [kname] * len(out["period"]), **out})

    return (
        rollup.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_bootstrap_ci(
    stream: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    replicates: int = 64,
    alpha: float = 0.1,
    salt: str = "boot",
) -> DataFrame:
    """Stateful streaming twin of
    ``resample.poisson_bootstrap_ci``: the deterministic Poisson
    bootstrap is STREAMING-NATIVE because its replicate cells are
    additive — each row contributes hash-derived weights that never
    depend on other rows — so per-group state is exactly the B
    (numerator, denominator) cells plus the point-estimate moments:
    O(groups x B), independent of stream volume, mergeable across
    micro-batches by plain addition (the property the batch
    operator's partitioning-invariance test already pins).

    Each micro-batch folds its rows into the cells and emits a
    SNAPSHOT row per touched group with the same columns the batch
    operator returns — feed the full history through and the final
    snapshot is bit-identical to ``poisson_bootstrap_ci`` on the
    batch table (arrival order is unobservable: addition commutes).
    The latest snapshot per group is the one with the max n_rows.

    Exactness plumbing mirrors the batch/JVM path digit for digit:
    the ADMISSION RULE is the batch operator's verbatim (rows with a
    NULL id or a value that does not TRY_CAST into DECIMAL(18,6) —
    NULL/NaN/Inf/out-of-range — are excluded BEFORE the stateful
    fold, which also re-guards defensively so a stray non-finite
    value can never crash the long-running query), values quantize
    through ``Decimal(str(v)).quantize(1e-6, HALF_UP)`` (= Spark's
    double->DECIMAL(18,6) cast), weights come from the same md5_60
    'id:b:salt' derivation, numerators accumulate as exact Python
    ints (no 2^63 ceiling — the state serializes them as strings),
    and every mean performs the same single correctly-rounded
    decimal->double conversion before one double division. Group
    keys AND ids must render identically to Spark's CAST(x AS
    STRING) — ints and strings do (filtering NULL ids upstream also
    keeps Arrow from floating an integer id column).

    Throughput note: the per-row Python md5 x B loop makes this the
    MONITOR path (dashboards over rollup-grade streams); bulk
    recomputation belongs to the batch operator's JVM/codegen path.

    Output rows (append, one per touched group per micro-batch):
    (group, n_rows, point_mean, n_replicates, ci_lo, ci_hi).
    """
    import hashlib
    import math
    from collections.abc import Iterator as _Iter
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.resample import (
        _POISSON1_THRESHOLDS,
        _UNIFORM_SPAN,
    )

    if replicates < 4:
        raise ValueError("replicates must be >= 4")
    if not (0 < alpha < 1):
        raise ValueError("alpha must be in (0, 1)")
    B = int(replicates)

    out_schema = StructType(
        [
            StructField("group", StringType()),
            StructField("n_rows", LongType()),
            StructField("point_mean", DoubleType()),
            StructField("n_replicates", LongType()),
            StructField("ci_lo", DoubleType()),
            StructField("ci_hi", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("count", LongType()),
            StructField("sum_units", StringType()),
            StructField("nums", ArrayType(StringType())),
            StructField("dens", ArrayType(LongType())),
        ]
    )
    Q6 = Decimal("0.000001")

    def _weight(rid: str, b: int) -> int:
        h = hashlib.md5(f"{rid}:{b}:{salt}".encode()).hexdigest()
        u = int(h[:15], 16) % _UNIFORM_SPAN
        for k, t in enumerate(_POISSON1_THRESHOLDS):
            if u < t:
                return k
        return 5

    def _units(v: float) -> int:
        # Spark's double -> DECIMAL(18,6) cast: shortest-repr decimal
        # of the double, HALF_UP at 6 places
        return int(
            (Decimal(str(v)) * 1_000_000).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    def _mean6(units: int, den: int) -> float:
        # one correctly-rounded decimal->double conversion, one double
        # division, one HALF_UP round6 — the JVM path digit for digit
        x = float(Decimal(units).scaleb(-6)) / float(den)
        return float(
            Decimal(repr(x)).quantize(Q6, rounding=ROUND_HALF_UP)
        )

    def fold(
        key: tuple,
        pdfs: _Iter[pd.DataFrame],
        state: GroupState,
    ) -> _Iter[pd.DataFrame]:
        (g,) = key
        chunks = [c for c in pdfs if len(c)]
        if not chunks:
            return
        rows = pd.concat(chunks)
        if state.exists:
            count, sum_s, nums_s, dens = state.get
            total_units = int(sum_s)
            nums = [int(s) for s in nums_s]
            dens = list(dens)
        else:
            count, total_units = 0, 0
            nums, dens = [0] * B, [0] * B
        for rid, v in zip(
            rows[id_col].tolist(), rows[value_col].tolist()
        ):
            # defensive re-guard of the upstream admission filter: a
            # non-finite or out-of-DECIMAL(18,6)-range value must
            # never raise inside the stateful fold (it would kill
            # the whole long-running query)
            if (
                v is None
                or rid is None
                or (isinstance(v, float) and not math.isfinite(v))
                or abs(float(v)) >= 1e12
            ):
                continue
            xu = _units(float(v))
            count += 1
            total_units += xu
            srid = str(rid)
            for b in range(B):
                w = _weight(srid, b)
                if w:
                    nums[b] += w * xu
                    dens[b] += w
        state.update(
            (
                int(count),
                str(total_units),
                [str(n) for n in nums],
                [int(d) for d in dens],
            )
        )
        if count == 0:
            return
        means = sorted(
            (_mean6(nums[b], dens[b]), b)
            for b in range(B)
            if dens[b] > 0
        )
        m = len(means)
        point = _mean6(total_units, count)
        lo = hi = None
        if m:
            lo_rank = int(math.floor(m * (alpha / 2.0))) + 1
            hi_rank = m - int(math.floor(m * (alpha / 2.0)))
            lo = means[lo_rank - 1][0]
            hi = means[hi_rank - 1][0]
        yield pd.DataFrame(
            {
                "group": [g],
                "n_rows": [count],
                "point_mean": [point],
                # batch emits NULL (left-join miss), not 0, when every
                # replicate drew total weight 0
                "n_replicates": [m if m else None],
                "ci_lo": [lo],
                "ci_hi": [hi],
            }
        )

    return (
        stream.filter(
            F.col(id_col).isNotNull()
            & F.expr(
                f"try_cast({value_col} AS DECIMAL(18,6)) IS NOT NULL"
            )
        )
        .select(
            F.col(group_col).cast("string").alias("__g"),
            F.col(id_col).alias(id_col),
            F.col(value_col).alias(value_col),
        )
        .groupBy("__g")
        .applyInPandasWithState(
            fold,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
