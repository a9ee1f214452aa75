"""Sessionization tests: batch semantics, plan shape, and the
streaming applyInPandasWithState twin's parity with batch."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from reddit_etl_spark.operators.sessions import (
    session_stats,
    sessionize,
    streaming_session_stats,
)
from reddit_etl_spark.plans.inspect import count_exchanges


@pytest.fixture(scope="module")
def events(spark):
    base = dt.datetime(2025, 9, 1, 10, 0)
    rows = [
        # user a: two sessions (gap 45 min > 30)
        ("a", base, 1.0),
        ("a", base + dt.timedelta(minutes=10), 2.0),
        ("a", base + dt.timedelta(minutes=55), 4.0),
        ("a", base + dt.timedelta(minutes=60), 8.0),
        # user b: one session, single event
        ("b", base + dt.timedelta(minutes=5), 16.0),
    ]
    return spark.createDataFrame(rows, "user string, ts timestamp, value double")


def test_sessionize_assigns_gap_sessions(events):
    base = dt.datetime(2025, 9, 1, 10, 0)
    got = {
        (r.user, r.ts): r.session_id
        for r in sessionize(events, ["user"], "ts").collect()
    }
    assert got[("a", base)] == 0
    assert got[("a", base + dt.timedelta(minutes=10))] == 0
    assert got[("a", base + dt.timedelta(minutes=55))] == 1
    assert got[("a", base + dt.timedelta(minutes=60))] == 1
    assert got[("b", base + dt.timedelta(minutes=5))] == 0


def test_session_stats_rollup(events):
    rows = {
        (r.user, r.session_id): (r.event_count, r.total_value)
        for r in session_stats(
            events, ["user"], "ts", value_col="value"
        ).collect()
    }
    assert rows[("a", 0)] == (2, 3.0)
    assert rows[("a", 1)] == (2, 12.0)
    assert rows[("b", 0)] == (1, 16.0)


def test_sessionize_single_shuffle(events):
    # lag + running sum + rollup must share ONE exchange on the key
    df = session_stats(events, ["user"], "ts", value_col="value")
    assert count_exchanges(df) == 1


# ---------------------------------------------------------------------------
# split='auto' — the whale-key escape hatch (closes the last
# "windows don't AQE-split" gap documented in SCALING.md)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_events(spark):
    """One whale key holds ~50% of events. Timeline alternates dense
    runs (sessions spanning many buckets when split_buckets=8) and
    long gaps, so bucket-boundary merges AND non-merges both occur;
    all timestamps unique per key so both paths are deterministic."""
    base = dt.datetime(2025, 9, 1, 0, 0)
    rows = []
    t = 0
    for i in range(400):
        # every 40 events, jump by 2 hours (> gap) -> new session
        t += 7200 if i % 40 == 0 else 60  # 1-min spacing inside runs
        rows.append(("whale", base + dt.timedelta(seconds=t), float(i)))
    for k in range(20):
        for i in range(10):
            rows.append(
                (f"k{k:02d}",
                 base + dt.timedelta(seconds=4000 * i + 17 * k + 3),
                 float(i)),
            )
    return spark.createDataFrame(rows, "user string, ts timestamp, value double")


def test_sessionize_split_path_equality(skewed_events):
    """split='auto' session ids must be byte-identical to the plain
    single-window path — including sessions that span multiple time
    buckets and merge chains through consecutive buckets."""
    plain = sessionize(skewed_events, ["user"], "ts", gap="30 minutes").collect()
    split = sessionize(
        skewed_events, ["user"], "ts", gap="30 minutes",
        split="auto", split_buckets=8,
    ).collect()
    key = lambda r: (r.user, r.ts)
    assert sorted(split, key=key) == sorted(plain, key=key)
    # sanity: the whale key really has multi-bucket sessions (a 40-min
    # run at 8 buckets over ~13 days is within one bucket; the run
    # STRUCTURE still must survive) and >1 session
    ids = {r.session_id for r in plain if r.user == "whale"}
    assert len(ids) == 10  # 400 events / 40 per session


def test_sessionize_split_merges_across_buckets(spark):
    """A key whose events tick steadily across the WHOLE timeline is
    one single session — every bucket boundary must merge, however
    many buckets the chain crosses."""
    base = dt.datetime(2025, 9, 1, 0, 0)
    rows = [
        ("u", base + dt.timedelta(minutes=10 * i), float(i)) for i in range(100)
    ]
    # second key adds range spread so 'u' spans many buckets
    rows += [("v", base + dt.timedelta(minutes=7 * i + 3), 0.0) for i in range(10)]
    df = spark.createDataFrame(rows, "user string, ts timestamp, value double")
    out = sessionize(
        df, ["user"], "ts", gap="30 minutes", split="auto", split_buckets=16
    )
    ids = {r.session_id for r in out.collect() if r.user == "u"}
    assert ids == {0}


def test_sessionize_split_stats_and_degenerate(spark, skewed_events):
    """session_stats forwards split; degenerate single-instant input
    falls back to the plain path."""
    a = {
        (r.user, r.session_id): (r.event_count, r.total_value)
        for r in session_stats(
            skewed_events, ["user"], "ts", value_col="value"
        ).collect()
    }
    b = {
        (r.user, r.session_id): (r.event_count, r.total_value)
        for r in session_stats(
            skewed_events, ["user"], "ts", value_col="value",
            split="auto", split_buckets=8,
        ).collect()
    }
    assert a == b
    one = spark.createDataFrame(
        [("x", dt.datetime(2025, 9, 1), 1.0)],
        "user string, ts timestamp, value double",
    )
    r = sessionize(one, ["user"], "ts", split="auto").first()
    assert r.session_id == 0
    with pytest.raises(ValueError, match="split"):
        sessionize(one, ["user"], "ts", split="bogus")


def test_sessionize_split_spreads_whale_key(skewed_events, spark):
    """The whale key's rows must land in >= 2 partitions after the
    (key, bucket) window — the plain path pins them to one task."""
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        def spread(df):
            per_part = df.rdd.glom().map(
                lambda rows: sum(1 for r in rows if r.user == "whale")
            ).collect()
            return sum(1 for n in per_part if n > 0)

        split = sessionize(
            skewed_events, ["user"], "ts", split="auto", split_buckets=8
        )
        assert spread(split) >= 2, "whale key serialized into one task"
        plain = sessionize(skewed_events, ["user"], "ts")
        assert spread(plain) == 1
    finally:
        spark.conf.set(coalesce_key, prev)


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Replay a fixed event log through the stateful streaming
    sessionizer; closed sessions must equal the batch rollup."""
    base = dt.datetime(2025, 9, 1, 10, 0)
    rows = []
    for u in ("u1", "u2", "u3"):
        t = base
        for s in range(3):  # 3 sessions per user
            for i in range(4):
                rows.append((u, t, float(s * 10 + i)))
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=90)  # close the session
    # a final far-future event per user pushes the watermark past every
    # real session's timeout so all of them flush
    flush_at = base + dt.timedelta(days=30)
    for u in ("u1", "u2", "u3"):
        rows.append((u, flush_at, 0.0))

    events = spark.createDataFrame(
        rows, "key string, ts timestamp, value double"
    )
    src = str(tmp_path / "events_in")
    events.write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    out = streaming_session_stats(
        stream, "key", "ts", "value", gap_ms=30 * 60 * 1000, watermark="0 seconds"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # second pass with no new data lets event-time timeouts fire is not
    # needed: availableNow drains and finalizes via the flush events
    got = {
        (r.key, r.session_start): (r.event_count, r.total_value)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }

    batch = session_stats(
        events, ["key"], "ts", gap="30 minutes", value_col="value"
    ).collect()
    want = {
        (r.key, r.session_start): (r.event_count, r.total_value)
        for r in batch
        if r.session_start != flush_at  # the flush sentinel stays open
    }
    assert want  # 9 real sessions
    for k, v in want.items():
        assert got.get(k) == v, f"session {k}: {got.get(k)} != {v}"


# ---------------------------------------------------------------------------
# event_pattern_counts — regex CEP
# ---------------------------------------------------------------------------


def _pattern(spark, rows, pattern, **kw):
    from reddit_etl_spark.operators.sessions import event_pattern_counts

    df = spark.createDataFrame(rows, "k string, ts timestamp, et string, i long")
    return {
        r["k"]: (r["n_events"], r["n_matches"])
        for r in event_pattern_counts(
            df, "k", "ts", "et",
            {"view": "v", "click": "c", "purchase": "p"},
            pattern, tiebreak_col="i", **kw
        ).collect()
    }


def test_pattern_counts_basic_and_non_overlapping(spark):
    import datetime as dt

    base = dt.datetime(2025, 1, 1)
    seq = ["view", "click", "purchase", "view", "click", "purchase"]
    rows = [
        ("u", base + dt.timedelta(minutes=i), et, i) for i, et in enumerate(seq)
    ]
    got = _pattern(spark, rows, "v[^p]*?c[^p]*?p")
    assert got["u"] == (6, 2)  # two non-overlapping funnels


def test_pattern_counts_intervening_purchase_blocks(spark):
    import datetime as dt

    base = dt.datetime(2025, 1, 1)
    # view, PURCHASE, click, purchase: the [^p]* guard rejects the
    # view->click leg that crosses a purchase
    seq = ["view", "purchase", "click", "purchase"]
    rows = [
        ("u", base + dt.timedelta(minutes=i), et, i) for i, et in enumerate(seq)
    ]
    assert _pattern(spark, rows, "v[^p]*?c[^p]*?p")["u"] == (4, 0)
    # without the guard the subsequence matches
    assert _pattern(spark, rows, "v.*?c.*?p")["u"] == (4, 1)


def test_pattern_counts_simultaneous_events_use_tiebreak(spark):
    import datetime as dt

    t = dt.datetime(2025, 1, 1)
    # same timestamp: order is (ts, i) -> view(i=1) before click(i=2)
    rows = [("u", t, "click", 2), ("u", t, "view", 1), ("u", t, "purchase", 3)]
    assert _pattern(spark, rows, "vcp")["u"] == (3, 1)


def test_pattern_counts_unmapped_types_become_other(spark):
    import datetime as dt

    t = dt.datetime(2025, 1, 1)
    rows = [("u", t, "error", 1), ("u", t, "view", 2)]
    assert _pattern(spark, rows, "ov")["u"] == (2, 1)


def test_pattern_counts_rejects_bad_alphabet(spark):
    from reddit_etl_spark.operators.sessions import event_pattern_counts

    df = spark.createDataFrame([], "k string, ts timestamp, et string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="length 1"):
        event_pattern_counts(df, "k", "ts", "et", {"view": "vv"}, "v")


def test_streaming_sessions_absorb_late_events_correctly(spark, tmp_path):
    """Late-but-valid events (watermark > gap) must extend the open
    session BACKWARD when within a gap of its start, and form their
    own closed session when older than that."""
    base = dt.datetime(2025, 3, 1, 12, 0)
    batch1 = [("u", base + dt.timedelta(minutes=m), 1.0) for m in (0, 5)]
    batch2 = [
        # 10 minutes before the open session's start: within gap=30m,
        # must extend it backward
        ("u", base - dt.timedelta(minutes=10), 1.0),
        # 2 hours earlier: its own (immediately closed) session
        ("u", base - dt.timedelta(minutes=120), 7.0),
        # flush sentinel far in the future
        ("u", base + dt.timedelta(days=30), 0.0),
    ]
    schema = "key string, ts timestamp, value double"
    src = str(tmp_path / "late_in")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_session_stats(
        stream, "key", "ts", "value",
        gap_ms=30 * 60 * 1000, watermark="0 seconds",
    )
    q = (
        out.writeStream.format("memory").queryName("late_sess")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r.session_start: (r.session_end, r.event_count, r.total_value)
        for r in spark.sql("SELECT * FROM late_sess").collect()
    }
    # the 2h-early loner closed alone
    loner = base - dt.timedelta(minutes=120)
    assert got[loner] == (loner, 1, 7.0)
    # the main session starts at the BACKWARD-extended -10min mark
    main_start = base - dt.timedelta(minutes=10)
    assert main_start in got
    end, cnt, tot = got[main_start]
    assert (cnt, tot) == (3, 3.0) and end == base + dt.timedelta(minutes=5)


def test_streaming_sessions_late_chain_merges_transitively(spark, tmp_path):
    """A sorted run of late events can chain INTO the open session even
    when its oldest member is more than one gap before the session's
    start: with gap=10m and open start at T, late events at T-15m and
    T-8m chain (7m, 8m steps) and batch-sort semantics merge all of
    them into one session starting at T-15m. A fixed start-gap cut
    would wrongly close (T-15m) alone. Only a genuinely disconnected
    head (here T-40m, T-32m: 17m break to T-15m) closes early."""
    base = dt.datetime(2025, 3, 1, 12, 0)
    batch1 = [("u", base + dt.timedelta(minutes=m), 1.0) for m in (0, 3)]
    batch2 = [
        ("u", base - dt.timedelta(minutes=40), 1.0),
        ("u", base - dt.timedelta(minutes=32), 1.0),
        ("u", base - dt.timedelta(minutes=15), 1.0),
        ("u", base - dt.timedelta(minutes=8), 1.0),
        ("u", base + dt.timedelta(days=30), 0.0),
    ]
    schema = "key string, ts timestamp, value double"
    src = str(tmp_path / "chain_in")
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_session_stats(
        stream, "key", "ts", "value",
        gap_ms=10 * 60 * 1000, watermark="0 seconds",
    )
    q = (
        out.writeStream.format("memory").queryName("chain_sess")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        r.session_start: (r.session_end, r.event_count, r.total_value)
        for r in spark.sql("SELECT * FROM chain_sess").collect()
    }
    early = base - dt.timedelta(minutes=40)
    assert got[early] == (base - dt.timedelta(minutes=32), 2, 2.0)
    main_start = base - dt.timedelta(minutes=15)
    assert main_start in got
    end, cnt, tot = got[main_start]
    assert (cnt, tot) == (4, 4.0) and end == base + dt.timedelta(minutes=3)


def _rows_in(query) -> list[int]:
    """Input rows per micro-batch with data, as progress reports them."""
    return sorted(
        p["numInputRows"] for p in query.recentProgress if p["numInputRows"]
    )


def test_streaming_hll_rollup_matches_batch(spark, tmp_path):
    """Chopping the stream into micro-batches must not change the
    final sketch state: HLL union is register-wise max (associative,
    commutative), so stream-folded estimates equal the one-shot batch
    rollup exactly."""
    from reddit_etl_spark.operators.sketch import hll_rollup
    from reddit_etl_spark.streaming.stats_stream import (
        stream_hll_distinct_rollup,
    )

    rows = [
        ("t%d" % (i % 3), "u%d" % (i % 37)) for i in range(200)
    ]
    schema = "etype string, user string"
    src = str(tmp_path / "hll_in")
    # three separate files -> three micro-batches
    for j in range(3):
        spark.createDataFrame(rows[j::3], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    state = str(tmp_path / "hll_state")
    q = stream_hll_distinct_rollup(
        stream,
        ["etype"],
        "user",
        state,
        str(tmp_path / "hll_ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    from reddit_etl_spark.sinks.versioned import read_versioned, versions

    # each micro-batch is scanned once: its input rows are the file's
    assert _rows_in(q) == sorted(len(rows[j::3]) for j in range(3))
    # three micro-batches -> three committed versions (auditable)
    assert len(versions(state)) == 3
    got = {
        r["etype"]: r["distinct_estimate"]
        for r in read_versioned(spark, state).collect()
    }
    want = {
        r["etype"]: r["distinct_estimate"]
        for r in hll_rollup(
            spark.createDataFrame(rows, schema), ["etype"], "user"
        ).collect()
    }
    assert got == want and len(want) == 3


def test_streaming_heavy_hitters_keeps_mg_guarantee(spark, tmp_path):
    """The streamed MG summary must satisfy the whole-stream bound:
    every value with true frequency > N/(capacity+1) is present, and
    est <= true <= est + N/(capacity+1) for all reported values."""
    from collections import Counter

    from reddit_etl_spark.sinks.versioned import read_versioned
    from reddit_etl_spark.streaming.stats_stream import stream_heavy_hitters

    # zipf-ish stream: v0 dominates, long tail of singletons
    vals = (["v0"] * 120 + ["v1"] * 60 + ["v2"] * 30
            + [f"t{i}" for i in range(90)])
    schema = "v string"
    src = str(tmp_path / "hh_in")
    for j in range(3):  # three micro-batches
        spark.createDataFrame(
            [(x,) for x in vals[j::3]], schema
        ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(
        spark.createDataFrame([], schema).schema
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = stream_heavy_hitters(
        stream, "v", str(tmp_path / "hh_state"),
        str(tmp_path / "hh_ckpt"), capacity=8, available_now=True,
    )
    q.awaitTermination(120)
    assert _rows_in(q) == sorted(len(vals[j::3]) for j in range(3))
    got = {
        r["v"]: r["est_count"]
        for r in read_versioned(spark, str(tmp_path / "hh_state")).collect()
    }
    true = Counter(vals)
    n = len(vals)
    bound = n / 9.0  # capacity + 1
    assert len(got) <= 8
    for v, c in true.items():
        if c > bound:
            assert v in got, v
    for v, est in got.items():
        assert est <= true[v] <= est + bound, (v, est, true[v])


def test_session_journeys_orders_and_ranks(spark):
    base = dt.datetime(2025, 9, 1, 10, 0)
    rows = []
    # two users walk view>click>purchase; one user view>view
    for u, path in [("a", ["view", "click", "purchase"]),
                    ("b", ["view", "click", "purchase"]),
                    ("c", ["view", "view"])]:
        for i, et in enumerate(path):
            rows.append((u, base + dt.timedelta(minutes=i), i, et))
    # user a: a SECOND session (past the gap) with a single event
    rows.append(("a", base + dt.timedelta(hours=5), 99, "view"))
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, event_type string"
    )
    from reddit_etl_spark.operators.sessions import session_journeys

    got = [
        (r["journey"], r["n_sessions"], r["n_users"])
        for r in session_journeys(
            df, ["user_id"], "ts", "event_type", tie_col="event_id"
        ).collect()
    ]
    assert got == [
        ("view>click>purchase", 2, 2),
        ("view", 1, 1),
        ("view>view", 1, 1),
    ]


def test_streaming_heavy_hitters_replay_is_idempotent(spark, tmp_path):
    """Re-folding the SAME batch key (the at-least-once foreachBatch
    replay after a crash between state commit and checkpoint) must
    not double-count: the fold rebases on the predecessor version."""
    from reddit_etl_spark.sinks.versioned import read_versioned
    from reddit_etl_spark.streaming.stats_stream import _mg_fold_batch

    state = str(tmp_path / "replay_state")
    b1 = spark.createDataFrame([("a",)] * 5 + [("b",)] * 2, "v string")
    b2 = spark.createDataFrame([("a",)] * 3 + [("c",)] * 4, "v string")
    _mg_fold_batch(spark, b1, "v", 8, state, "q-0")
    _mg_fold_batch(spark, b2, "v", 8, state, "q-1")
    want = {
        r["v"]: r["est_count"]
        for r in read_versioned(spark, state).collect()
    }
    assert want == {"a": 8, "b": 2, "c": 4}
    # replay batch 1: state must come out identical
    _mg_fold_batch(spark, b2, "v", 8, state, "q-1")
    got = {
        r["v"]: r["est_count"]
        for r in read_versioned(spark, state).collect()
    }
    assert got == want
    # and a replay of the FIRST batch against a 1-version history
    state2 = str(tmp_path / "replay_state2")
    _mg_fold_batch(spark, b1, "v", 8, state2, "q-0")
    _mg_fold_batch(spark, b1, "v", 8, state2, "q-0")
    got2 = {
        r["v"]: r["est_count"]
        for r in read_versioned(spark, state2).collect()
    }
    assert got2 == {"a": 5, "b": 2}


class TestSessionTransitions:
    def _run(self, spark, rows, gap="30 minutes"):
        from reddit_etl_spark.operators.sessions import session_transitions

        df = spark.createDataFrame(
            rows, ["user_id", "ts", "event_id", "event_type"]
        )
        out = session_transitions(
            df, ["user_id"], "ts", "event_type", gap=gap,
            tie_col="event_id",
        )
        return {
            (r["from_type"], r["to_type"]): (r["n_transitions"], r["p"])
            for r in out.collect()
        }

    def test_hand_computed_matrix(self, spark):
        import datetime as dt

        t0 = dt.datetime(2024, 5, 1, 10, 0, 0)

        def at(m):
            return t0 + dt.timedelta(minutes=m)

        # user 1: one session view>click>buy; then a NEW session (gap
        # 40 min) view alone. user 2: click>click.
        rows = [
            (1, at(0), 1, "view"),
            (1, at(5), 2, "click"),
            (1, at(9), 3, "buy"),
            (1, at(50), 4, "view"),
            (2, at(0), 5, "click"),
            (2, at(1), 6, "click"),
        ]
        got = self._run(spark, rows)
        assert got[("__START__", "view")] == (2, 0.666667)
        assert got[("__START__", "click")] == (1, 0.333333)
        assert got[("view", "click")] == (1, 0.5)
        assert got[("view", "__END__")] == (1, 0.5)
        assert got[("click", "buy")] == (1, 0.333333)
        assert got[("click", "click")] == (1, 0.333333)
        assert got[("click", "__END__")] == (1, 0.333333)
        assert got[("buy", "__END__")] == (1, 1.0)
        # START outdegree == session count; END indegree == session count
        n_sessions = sum(
            n for (f, t), (n, _) in got.items() if f == "__START__"
        )
        n_ends = sum(n for (f, t), (n, _) in got.items() if t == "__END__")
        assert n_sessions == n_ends == 3

    def test_probabilities_sum_to_one_per_from_state(self, spark):
        import datetime as dt
        import random

        rng = random.Random(7)
        t0 = dt.datetime(2024, 5, 1)
        rows = [
            (
                u,
                t0 + dt.timedelta(minutes=rng.randrange(0, 5000)),
                i,
                rng.choice(["a", "b", "c"]),
            )
            for i, u in enumerate(rng.choices(range(10), k=200))
        ]
        got = self._run(spark, rows)
        from collections import defaultdict

        by_from = defaultdict(float)
        for (f, _), (_, p) in got.items():
            by_from[f] += p
        for f, tot in by_from.items():
            assert abs(tot - 1.0) < 1e-4, (f, tot)

    def test_same_timestamp_tie_breaks_on_id(self, spark):
        import datetime as dt

        t = dt.datetime(2024, 5, 1, 10, 0, 0)
        rows = [(1, t, 2, "b"), (1, t, 1, "a"), (1, t, 3, "c")]
        got = self._run(spark, rows)
        assert ("a", "b") in got and ("b", "c") in got
        assert ("a", "c") not in got


class TestFunnelConversion:
    def _ev(self, spark, rows):
        df = spark.createDataFrame(rows, "u long, ts string, ty string")
        return df.selectExpr("u", "CAST(ts AS TIMESTAMP) AS ts", "ty")

    def test_ordered_windowed_attrition(self, spark):
        from reddit_etl_spark.operators.sessions import funnel_conversion

        rows = [
            # u1 completes all three in order, within window
            (1, "2024-01-01 00:00:00", "view"),
            (1, "2024-01-01 05:00:00", "click"),
            (1, "2024-01-01 06:00:00", "purchase"),
            # u2 clicks BEFORE viewing -> stops at view
            (2, "2024-01-01 02:00:00", "click"),
            (2, "2024-01-01 03:00:00", "view"),
            # u3 clicks a day+ after viewing -> window excludes it
            (3, "2024-01-01 00:00:00", "view"),
            (3, "2024-01-02 00:00:01", "click"),
            # u4 never views -> not even step 1
            (4, "2024-01-01 00:00:00", "purchase"),
        ]
        got = {
            r["step"]: r
            for r in funnel_conversion(
                self._ev(spark, rows), "u", "ts", "ty",
                ["view", "click", "purchase"], within="1 day",
            ).collect()
        }
        assert got["view"]["n_users"] == 3
        assert got["click"]["n_users"] == 1
        assert got["purchase"]["n_users"] == 1
        assert got["view"]["conv_from_prev"] is None
        assert got["click"]["conv_from_prev"] == round(1 / 3, 6)
        assert got["purchase"]["conv_from_first"] == round(1 / 3, 6)

    def test_min_timestamp_defines_each_step(self, spark):
        from reddit_etl_spark.operators.sessions import funnel_conversion

        # the FIRST view is what the click must follow: a click
        # between two views still converts
        rows = [
            (1, "2024-01-01 00:00:00", "view"),
            (1, "2024-01-01 01:00:00", "click"),
            (1, "2024-01-01 02:00:00", "view"),
        ]
        got = {
            r["step"]: r["n_users"]
            for r in funnel_conversion(
                self._ev(spark, rows), "u", "ts", "ty", ["view", "click"]
            ).collect()
        }
        assert got == {"view": 1, "click": 1}

    def test_zero_user_steps_stay_in_output(self, spark):
        import pytest as _p

        from reddit_etl_spark.operators.sessions import funnel_conversion

        rows = [(1, "2024-01-01 00:00:00", "view")]
        out = funnel_conversion(
            self._ev(spark, rows), "u", "ts", "ty", ["view", "click"]
        ).collect()
        assert [(r["step"], r["n_users"]) for r in out] == [
            ("view", 1), ("click", 0),
        ]
        with _p.raises(ValueError):
            funnel_conversion(self._ev(spark, rows), "u", "ts", "ty", ["view"])
