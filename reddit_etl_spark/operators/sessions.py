"""Sessionization — gap-based event sessions, batch and streaming.

A session groups consecutive events of one key with no gap exceeding
``gap``; the classic operator relational engines lack natively.

- Batch: pure window functions — lag -> new-session flag -> running
  sum = session id. Two narrow window passes over ONE shuffle on the
  key (both windows share the partitioning). Exact, SQL-expressible,
  DuckDB-oracle-checked.
- Streaming: ``applyInPandasWithState`` keeps an open-session record
  per key (GroupState with event-time timeout), emitting sessions as
  the watermark closes them — the custom-stateful-operator pattern
  for operators Structured Streaming's built-in session window
  (``F.session_window``) can't express (e.g. per-session custom
  payloads); both forms are provided.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap: str = "30 minutes",
    split: str = "none",
    split_buckets: int = 64,
) -> DataFrame:
    """Assign a ``session_id`` (0-based per key) to every event.

    One shuffle: both windows partition on ``key_cols`` and order by
    ``ts_col``, so Catalyst plans a single exchange + sort reused by
    the lag and the running sum.

    ``split='auto'`` is the whale-key escape hatch (the same shape as
    ``asof_join(split='auto')``): windows don't AQE-split, so one bot
    user holding half the events serializes into a single task.
    ``'auto'`` range-buckets each key's timeline into ``split_buckets``
    slices, sessionizes per (key, bucket) in parallel, then stitches
    boundary-crossing sessions back together on the per-(key, bucket)
    SUMMARY frame (≤ ``split_buckets`` rows per key: first/last event
    time + local session count). A session chain spanning any number
    of buckets merges correctly — bucket b merges into b-1 exactly
    when its first event is within ``gap`` of b-1's last event, and
    the running renumbering offset telescopes through merge chains.
    Results are identical to ``split='none'`` up to ties between
    events sharing one exact timestamp. Costs one extra (small)
    shuffle: the summary join-back reuses the events' (key, bucket)
    partitioning; only the summaries move.

    NOTE: ``split='auto'`` runs ONE eager min/max aggregate over the
    timestamps at call time to derive the bucket width."""
    if split not in ("none", "auto"):
        raise ValueError(f"split must be none/auto, got {split!r}")
    if split == "auto":
        out = _sessionize_split(df, key_cols, ts_col, gap, split_buckets)
        if out is not None:
            return out
        # degenerate time range (empty / single instant): fall through
    w = Window.partitionBy(*key_cols).orderBy(ts_col)
    gap_expr = F.expr(f"INTERVAL {gap}")
    prev = F.lag(ts_col).over(w)
    is_new = F.when(
        prev.isNull() | (F.col(ts_col) > prev + gap_expr), 1
    ).otherwise(0)
    return df.withColumn(
        "session_id",
        (F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - 1).cast("long"),
    )


def _sessionize_split(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap: str,
    split_buckets: int,
) -> DataFrame | None:
    """Bucketed sessionization (see :func:`sessionize`). Returns None
    when the time range is degenerate and bucketing cannot split."""
    if split_buckets < 2:
        raise ValueError(f"split_buckets must be >= 2, got {split_buckets}")
    keys = list(key_cols)
    lo, hi = df.agg(
        F.min(F.col(ts_col).cast("double")),
        F.max(F.col(ts_col).cast("double")),
    ).first()
    if lo is None or hi is None or hi <= lo:
        return None
    width = (hi - lo) / split_buckets
    bucket = F.least(
        F.lit(split_buckets - 1),
        F.floor((F.col(ts_col).cast("double") - F.lit(lo)) / F.lit(width)),
    ).cast("int")
    gap_expr = F.expr(f"INTERVAL {gap}")

    ev = df.withColumn("__b", bucket)
    w = Window.partitionBy(*keys, "__b").orderBy(ts_col)
    prev = F.lag(ts_col).over(w)
    is_new = F.when(
        prev.isNull() | (F.col(ts_col) > prev + gap_expr), 1
    ).otherwise(0)
    ev = ev.withColumn(
        "__ls",
        (F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - 1).cast("long"),
    )

    # per-(key, bucket) summary: map-side-combined aggregate, then a
    # per-key window over <= split_buckets rows — the stitch is cheap
    summ = ev.groupBy(*keys, "__b").agg(
        F.min(ts_col).alias("__first"),
        F.max(ts_col).alias("__last"),
        (F.max("__ls") + 1).alias("__n"),
    )
    wk = Window.partitionBy(*keys).orderBy("__b")
    prev_last = F.lag("__last").over(wk)
    merged = F.when(
        prev_last.isNotNull() & (F.col("__first") <= prev_last + gap_expr), 1
    ).otherwise(0)
    summ = summ.withColumn("__m", merged)
    # sessions numbered before this bucket, net of merges; a bucket
    # that merges starts at the PREVIOUS bucket's last session id
    prior = F.coalesce(
        F.sum(F.col("__n") - F.col("__m")).over(
            wk.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    offsets = summ.select(
        *keys, "__b", (prior - F.col("__m")).alias("__off")
    )
    # merge-join hint: the events side is ALREADY hash-partitioned on
    # (keys, __b) by the window, so a sort-merge join reuses that
    # exchange and only the small offsets frame shuffles — and the
    # output keeps the skew-split (key, bucket) partitioning. Left to
    # its own stats AQE can pick broadcast-EVENTS at toy scale (both
    # sides tiny), which re-partitions the output by OFFSETS' per-key
    # layout and silently re-serializes the whale key.
    return (
        ev.join(offsets.hint("merge"), [*keys, "__b"])
        .withColumn("session_id", (F.col("__off") + F.col("__ls")).cast("long"))
        .select(*df.columns, "session_id")
    )


def session_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap: str = "30 minutes",
    value_col: str | None = None,
    split: str = "none",
    split_buckets: int = 64,
) -> DataFrame:
    """Collapse events into one row per session: bounds, event count,
    optional value sum. groupBy reuses the sessionize partitioning
    (plain path); ``split='auto'`` forwards to the skew-split
    sessionizer — the groupBy on (key, session_id) then spreads a
    whale key's sessions across the cluster too."""
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("event_count"),
    ]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("total_value"))
    return (
        sessionize(df, key_cols, ts_col, gap, split, split_buckets)
        .groupBy(*key_cols, "session_id")
        .agg(*aggs)
    )


_STREAM_SESSION_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("event_count", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STREAM_STATE_SCHEMA = StructType(
    [
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def streaming_session_stats(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    gap_ms: int = 30 * 60 * 1000,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming sessionization via applyInPandasWithState.

    State per key = the open session (start, end, count, sum). Each
    micro-batch folds its (sorted) events into the open session,
    EMITS every session closed by a gap, and keeps the last session
    open with an event-time timeout of ``gap_ms`` — when the
    watermark passes end+gap with no new events, the timeout fires
    and the final session flushes. State is O(keys), independent of
    event volume.
    """

    def fold(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.hasTimedOut:
            start_ms, end_ms, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [k],
                    "session_start": [pd.Timestamp(start_ms, unit="ms")],
                    "session_end": [pd.Timestamp(end_ms, unit="ms")],
                    "event_count": [n],
                    "total_value": [total],
                }
            )
            return

        chunks = list(pdfs)
        rows = (
            pd.concat(chunks).sort_values(ts_col, kind="mergesort")
            if chunks
            else pd.DataFrame(columns=[ts_col, value_col])
        )
        ts_ms = (rows[ts_col].astype("int64") // 1_000_000).to_numpy()
        vals = rows[value_col].to_numpy()
        if len(ts_ms) == 0:
            # empty non-timeout delivery: keep state + timeout as-is
            if state.exists:
                start_ms, end_ms, n, total = state.get
                state.update((start_ms, end_ms, n, total))
                state.setTimeoutTimestamp(end_ms + gap_ms)
            return

        if state.exists:
            start_ms, end_ms, n, total = state.get
        else:
            start_ms = end_ms = int(ts_ms[0])
            n, total = 0, 0.0

        closed = []
        # Late events older than the open session's start (possible
        # when watermark > gap) may still belong to it: a sorted run
        # 85, 92 against an open start of 100 with gap 10 chains
        # (85->92 is 7, 92->100 is 8), so batch-sort semantics merge
        # all three. Walk the pre-start prefix BACKWARD and keep the
        # maximal suffix that chains into the open session (each
        # successive pair within gap_ms, the last within gap_ms of
        # start_ms); only the genuinely disconnected head closes as
        # its own earlier session(s). (An even-later batch could in
        # principle adjoin those; that residual is bounded by the
        # watermark and accepted.)
        if state.exists and n > 0:
            pre = 0
            while pre < len(ts_ms) and int(ts_ms[pre]) < start_ms:
                pre += 1
            cut = pre
            nxt = start_ms
            for j in range(pre - 1, -1, -1):
                if nxt - int(ts_ms[j]) <= gap_ms:
                    cut = j
                    nxt = int(ts_ms[j])
                else:
                    break
            late = [
                (int(ts_ms[i]), float(vals[i])) for i in range(cut)
            ]
            if late:
                ls = le = late[0][0]
                ln, lt = 0, 0.0
                for t, v in late:
                    if ln > 0 and t - le > gap_ms:
                        closed.append((ls, le, ln, lt))
                        ls, ln, lt = t, 0, 0.0
                    le = max(le, t) if ln > 0 else t
                    ln += 1
                    lt += v
                closed.append((ls, le, ln, lt))
                ts_ms = ts_ms[cut:]
                vals = vals[cut:]

        for t, v in zip(ts_ms, vals):
            t = int(t)
            if n > 0 and t - end_ms > gap_ms:
                closed.append((start_ms, end_ms, n, total))
                start_ms, n, total = t, 0, 0.0
            elif n == 0:
                start_ms = t
            else:
                # a late-but-within-watermark event can predate the
                # open session's start (carried in state from an
                # earlier batch): the session must extend BACKWARD so
                # its bounds cover every event it counts — the batch
                # window path sorts globally and would report this
                # earlier start
                start_ms = min(start_ms, t)
            end_ms = max(end_ms, t) if n > 0 else t
            n += 1
            total += float(v)

        state.update((start_ms, end_ms, n, total))
        state.setTimeoutTimestamp(end_ms + gap_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "key": [k] * len(closed),
                    "session_start": [
                        pd.Timestamp(c[0], unit="ms") for c in closed
                    ],
                    "session_end": [pd.Timestamp(c[1], unit="ms") for c in closed],
                    "event_count": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            fold,
            outputStructType=_STREAM_SESSION_SCHEMA,
            stateStructType=_STREAM_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def event_pattern_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    alphabet: "dict[str, str]",
    pattern: str,
    tiebreak_col: str | None = None,
    other_char: str = "o",
) -> DataFrame:
    """MATCH_RECOGNIZE-lite complex-event processing: per key, the
    event stream collapses to a character sequence (one char per event
    via ``alphabet``, ``other_char`` for unmapped types) and ``pattern``
    — a regex over that alphabet — is counted non-overlapping,
    left-to-right. "view, then a click, then a purchase, with anything
    between but no intervening purchase" is just ``v[^p]*?c[^p]*?p``;
    new behavioral patterns are a regex change, not an operator
    rewrite (the funnel operator stays the right tool for fixed-step
    conversion rates with time bounds).

    Determinism: events sort by (ts, tiebreak, char) — pass a unique
    ``tiebreak_col`` (an event id) so simultaneous events order
    identically on every engine/partitioning. Lazy quantifiers make
    the non-overlapping match set unique, so counts are engine-
    portable (Java regex and RE2 agree on this fragment — verified
    cross-engine in the harness oracle).

    Scale: ONE shuffle on the key; per-key memory is the key's event
    count (the same bound every per-entity sequence analysis has —
    cap or window whale keys upstream, e.g. sessionize first and
    match within sessions).

    Output: key + (n_events BIGINT, n_matches BIGINT).
    """
    ch = None
    for t, c in alphabet.items():
        if len(c) != 1:
            raise ValueError(f"alphabet chars must be length 1, got {c!r}")
        ch = (
            F.when(F.col(type_col) == t, c)
            if ch is None
            else ch.when(F.col(type_col) == t, c)
        )
    ch = F.lit(other_char) if ch is None else ch.otherwise(other_char)
    parts = [F.col(ts_col)]
    if tiebreak_col is not None:
        parts.append(F.col(tiebreak_col))
    parts.append(ch.alias("__ch"))
    seqs = (
        df.select(F.col(key_col), F.struct(*parts).alias("__s"))
        .groupBy(key_col)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("__s")), lambda x: x["__ch"]
                ),
            ).alias("__seq")
        )
    )
    return seqs.select(
        key_col,
        F.length("__seq").cast("long").alias("n_events"),
        F.regexp_count("__seq", F.lit(pattern)).cast("long").alias("n_matches"),
    )


def session_journeys(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    type_col: str,
    gap: str = "30 minutes",
    top_k: int = 20,
    tie_col: str | None = None,
) -> DataFrame:
    """Journey mining: the most common within-session event-type
    SEQUENCES ("view>click>purchase") — the product-analytics readout
    CEP counting (:func:`event_pattern_counts`) answers for KNOWN
    patterns and this answers for DISCOVERY (what paths actually
    happen, ranked).

    Sessionizes on ``gap`` (sharing the one key shuffle), folds each
    session's ordered types into a '>'-joined path via
    sort_array(collect_list(struct)) — per-session memory, no
    corpus-wide state — then one map-side-combined count per distinct
    journey and a TakeOrderedAndProject top-``top_k`` (count desc,
    journey asc: fully deterministic). ``tie_col`` (e.g. a unique
    event id) breaks same-timestamp ordering inside a session; pass
    it whenever timestamps can collide.

    Returns (journey, n_sessions, n_users).
    """
    keys = list(key_cols)
    sess = sessionize(df, keys, ts_col, gap=gap)
    order_fields = [F.col(ts_col).alias("__t")]
    if tie_col is not None:
        order_fields.append(F.col(tie_col).alias("__tb"))
    step = F.struct(*order_fields, F.col(type_col).alias("__et"))
    per = sess.groupBy(*keys, "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(step)), lambda x: x["__et"]
            ),
            ">",
        ).alias("journey")
    )
    return (
        per.groupBy("journey")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.count_distinct(*[F.col(k) for k in keys])
            .cast("long")
            .alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "journey")
        .limit(top_k)
    )


def session_transitions(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    type_col: str,
    gap: str = "30 minutes",
    tie_col: str | None = None,
    start_state: str = "__START__",
    end_state: str = "__END__",
) -> DataFrame:
    """First-order Markov transition matrix over within-session event
    types, with virtual entry/exit states: every session contributes
    ``start_state -> first``, each adjacent pair, and
    ``last -> end_state`` — so entry points, drop-off rates, and
    step-to-step probabilities all fall out of one readout
    (:func:`session_journeys` ranks whole paths; this factorizes
    them).

    Returns (from_type, to_type, n_transitions BIGINT, p DOUBLE):
    ``p`` = n / total outgoing transitions of ``from_type``, rounded
    to 6 (exact long/long division — engine-portable). Rows ordered
    (from_type, to_type).

    Plan: sessionize's one key shuffle, a per-session
    sort_array(collect_list) fold (per-session memory only), then
    adjacent pairs via a zero-shuffle higher-order transform over the
    padded type array, one map-side-combined count, and a window over
    the TYPE-pair matrix — at most (|types|+1)^2 rows, broadcast-
    scale regardless of corpus size. ``tie_col`` breaks
    same-timestamp ordering; pass a unique id whenever timestamps can
    collide (the oracle does).
    """
    keys = list(key_cols)
    sess = sessionize(df, keys, ts_col, gap=gap)
    order_fields = [F.col(ts_col).alias("__t")]
    if tie_col is not None:
        order_fields.append(F.col(tie_col).alias("__tb"))
    step = F.struct(*order_fields, F.col(type_col).alias("__et"))
    types = F.transform(
        F.array_sort(F.collect_list(step)), lambda x: x["__et"]
    )
    per = sess.groupBy(*keys, "session_id").agg(types.alias("__types"))
    padded = F.col("__padded")
    # padded array as its own column: the pair lambda reads it twice per
    # element, and an inlined concat would rebuild it per element
    pairs = per.select(
        F.concat(
            F.array(F.lit(start_state)),
            F.col("__types"),
            F.array(F.lit(end_state)),
        ).alias("__padded")
    ).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(padded) - 2),
                lambda i: F.struct(
                    F.element_at(padded, i + 1).alias("from_type"),
                    F.element_at(padded, i + 2).alias("to_type"),
                ),
            )
        ).alias("__tr")
    ).select("__tr.from_type", "__tr.to_type")
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n_transitions")
    )
    out_tot = Window.partitionBy("from_type")
    return (
        cnt.withColumn(
            "p",
            F.round(
                F.col("n_transitions") / F.sum("n_transitions").over(out_tot),
                6,
            ),
        )
        .orderBy("from_type", "to_type")
    )


def funnel_conversion(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    within: str | None = None,
) -> DataFrame:
    """Ordered funnel analysis: how many users complete step 1, then
    step 2 STRICTLY AFTER their step-1 time, then step 3 after that —
    the product-analytics readout that factors the session family's
    raw sequences (journeys rank paths, transitions factor hops; the
    funnel measures a CHOSEN path's attrition). ``within`` optionally
    bounds each hop (e.g. ``'1 day'``: step k+1 must land in
    (t_k, t_k + interval]) — the windowed funnel every growth
    dashboard actually uses.

    Semantics: per user, t_1 = MIN ts of step 1; t_{k+1} = MIN ts of
    step k+1 with ts > t_k (and <= t_k + within). MIN makes the
    definition order-free and engine-exact (micro-second timestamps
    compare identically); a user counts toward step k iff t_k exists.

    Plan at scale: one user-keyed aggregate per step over the
    type-filtered fact — k-1 joins all keyed on the SAME user column,
    so every exchange co-partitions; each step frame is
    localCheckpoint'd (lazily) before fanning into both the next hop
    and the counts union, so the union's k branches reuse each
    step's computed aggregate instead of re-running the whole chain
    per branch (Spark does not deduplicate common subplans across
    union legs). The conversion readout is a k-row frame with a lag
    window. Steps are a bounded parameter.

    Returns per step: (step_idx BIGINT, step, n_users BIGINT,
    conv_from_prev, conv_from_first) — conversions round-6, NULL for
    the first step's conv_from_prev; steps with zero users still
    appear (n_users = 0).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs >= 2 steps")
    base = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__ty"),
    )
    frames = []
    cur = (
        base.filter(F.col("__ty") == steps[0])
        .groupBy("__u")
        .agg(F.min("__ts").alias("__t"))
        .localCheckpoint(eager=False)
    )
    frames.append(cur)
    for step in steps[1:]:
        nxt = base.filter(F.col("__ty") == step).join(
            cur.select("__u", F.col("__t").alias("__prev")), "__u"
        )
        cond = F.col("__ts") > F.col("__prev")
        if within is not None:
            cond = cond & (
                F.col("__ts") <= F.expr(f"__prev + INTERVAL {within}")
            )
        cur = (
            nxt.filter(cond)
            .groupBy("__u")
            .agg(F.min("__ts").alias("__t"))
            .localCheckpoint(eager=False)
        )
        frames.append(cur)
    counts = None
    for i, fr in enumerate(frames):
        c = fr.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i + 1).cast("long").alias("step_idx"),
            F.lit(steps[i]).alias("step"),
            "n_users",
        )
        counts = c if counts is None else counts.unionByName(c)
    w = Window.orderBy("step_idx")
    return (
        counts.select(
            "step_idx",
            "step",
            "n_users",
            F.when(
                F.lag("n_users").over(w) > 0,
                F.round(
                    F.col("n_users") / F.lag("n_users").over(w), 6
                ),
            ).alias("conv_from_prev"),
            F.when(
                F.first("n_users").over(w) > 0,
                F.round(
                    F.col("n_users") / F.first("n_users").over(w), 6
                ),
            ).alias("conv_from_first"),
        )
        .orderBy("step_idx")
    )


def sequence_ngrams(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    type_col: str,
    n: int = 3,
    tie_col: str | None = None,
) -> DataFrame:
    """Frequent ordered event-type n-grams across each key's full
    event history: every contiguous length-``n`` type sequence, with
    total occurrences and the number of distinct keys exhibiting it —
    the order-sensitive mining rung between
    :func:`session_transitions` (first-order Markov pairs) and
    :func:`session_journeys` (whole paths): trigrams catch second-
    order structure ("view->click->purchase") that the pair matrix
    factorizes away and full paths drown in sparsity.

    Plan: ONE sort shuffle — ``lead`` windows over the (key, ts[,
    tie]) order produce the n-gram rows directly, with no
    collect_list array, so a whale key with 10^7 events costs 10^7
    ROWS, never a 10^7-element in-memory array (the journeys/
    transitions fold would OOM there; this is the 100 TB-safe shape).
    Then one map-side-combined count over (t1..tn) — output
    cardinality is |types|^n, broadcast-scale for any real type
    vocabulary. Pass ``tie_col`` (a unique id) whenever timestamps
    can collide, or the order is engine-dependent.
    """
    keys = list(key_cols)
    order_cols = [F.col(ts_col)]
    if tie_col is not None:
        order_cols.append(F.col(tie_col))
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    grams = df.select(
        *keys,
        F.col(type_col).alias("t1"),
        *[
            F.lead(type_col, k).over(w).alias(f"t{k + 1}")
            for k in range(1, n)
        ],
    ).filter(F.col(f"t{n}").isNotNull())
    gram_cols = [f"t{k + 1}" for k in range(n)]
    return (
        grams.groupBy(*gram_cols)
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct(*keys).cast("long").alias("n_keys"),
        )
        .orderBy(*gram_cols)
    )
