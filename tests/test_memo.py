"""``operators.util.app_memo``, the one per-application memo, and the
sites that keep their answers in it: table schemas and row counts
(harness), ``fan_out``, the ngram prefix choice, ``resolve_lane`` and
``hoeffding_d``'s lane probe; and ``_EXACT_TOPK_CACHE``, which holds a
persisted frame outside it.
"""

from __future__ import annotations

import sys
import time
from collections import Counter

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

import reddit_etl_spark.operators.util as u
from tests.test_operators import SF_DIR

#: perfbench's ``curation`` builders
CURATION = [
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "text_profile", "curation_pipeline", "similarity_topk",
]


def _entries(tag: str) -> dict:
    return {k: v for k, v in u._MEMO.items() if k[1] == tag}


def _clear(tag: str) -> None:
    for k in list(_entries(tag)):
        del u._MEMO[k]


# ---- the helper ----------------------------------------------------


def test_app_memo_keeps_and_hits(spark):
    runs = []

    def compute():
        runs.append(1)
        return False  # a falsy answer is kept like any other

    _clear("t")
    try:
        assert u.app_memo(spark, "t", lambda: "k", compute) is False
        assert u.app_memo(spark, "t", lambda: "k", compute) is False
        assert len(runs) == 1
        assert list(_entries("t").values()) == [False]
        # another tag never shares the entry
        assert u.app_memo(spark, "t2", lambda: "k", lambda: 7) == 7
    finally:
        _clear("t")
        _clear("t2")


def test_app_memo_evicts_other_applications(spark):
    app = spark.sparkContext.applicationId
    u._MEMO[("stopped-app", "t", "k")] = "old"
    try:
        assert u.app_memo(spark, "t", lambda: "k", lambda: "new") == "new"
        assert not any(k[0] != app for k in u._MEMO)
        assert _entries("t") == {(app, "t", "k"): "new"}
    finally:
        u._MEMO.pop(("stopped-app", "t", "k"), None)
        _clear("t")


@pytest.mark.parametrize("raises", [True, False])
def test_app_memo_unkeyable_input_computes_live(spark, raises):
    """A key that raises (or returns None) computes every time and
    stores nothing."""
    runs = []

    def key():
        if raises:
            raise RuntimeError("no key")
        return None

    def compute():
        runs.append(1)
        return len(runs)

    _clear("t")
    assert u.app_memo(spark, "t", key, compute) == 1
    assert u.app_memo(spark, "t", key, compute) == 2
    assert _entries("t") == {}


def test_app_memo_refused_store_keeps_nothing(spark):
    runs = []

    def compute():
        runs.append(1)
        return 5

    _clear("t")
    for _ in range(2):
        assert u.app_memo(spark, "t", lambda: "k", compute,
                          store=lambda v: v < 5) == 5
    assert len(runs) == 2
    assert _entries("t") == {}


# ---- table schemas and row counts ----------------------------------


def test_table_rewritten_in_place_is_read_afresh(spark, tmp_path):
    """A table overwritten (or appended to) within one application
    gets its schema inferred and its rows counted again."""
    from reddit_etl_spark.harness._common import load, table_rows

    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.range(0, 10).selectExpr("id AS a").write.parquet(path)
    assert load(spark, sf, "t").columns == ["a"]
    assert table_rows(spark, sf, "t") == 10
    # an identical read hits the kept schema and count
    assert load(spark, sf, "t").columns == ["a"]
    assert table_rows(spark, sf, "t") == 10

    spark.range(0, 25).selectExpr("id AS b", "CAST(id AS string) AS c") \
        .write.mode("overwrite").parquet(path)
    df = load(spark, sf, "t")
    assert df.columns == ["b", "c"]
    assert df.count() == 25
    assert table_rows(spark, sf, "t") == 25

    spark.range(0, 5).selectExpr("id AS b", "CAST(id AS string) AS c") \
        .write.mode("append").parquet(path)
    assert table_rows(spark, sf, "t") == 30


# ---- fan_out ---------------------------------------------------------


def test_fan_out_memo_scan_narrow_only(spark, tmp_path):
    """advisor r13: a memoized under-parallel scan count must never
    apply to a post-shuffle WIDE frame over the same files (that
    memo hit coalesced the frame to defaultParallelism — a full
    extra shuffle). The memo now gates on a scan-narrow plan."""
    p = str(tmp_path / "one.parquet")
    spark.range(0, 100).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    _clear("fan_out")
    out = u.fan_out(df)
    assert len(_entries("fan_out")) == 1  # narrow scan memoized
    assert out.rdd.getNumPartitions() >= df.rdd.getNumPartitions()
    wide = df.repartition(64)
    assert u.fan_out(wide).rdd.getNumPartitions() == 64  # untouched
    agg = df.groupBy(F.col("id") % 3).count()
    u.fan_out(agg)
    assert len(_entries("fan_out")) == 1  # post-agg frame never keyed
    _clear("fan_out")


def test_fan_out_memo_ignores_column_names(spark, tmp_path):
    """ADVICE r14: the memo gate matched substrings of the plan TEXT,
    so a scan with a column named ``JoinKey`` never reached the memo.
    It now reads plan-node class names."""
    p = str(tmp_path / "jk.parquet")
    spark.range(0, 100).withColumnRenamed("id", "JoinKey").coalesce(1).write.parquet(p)
    _clear("fan_out")
    try:
        u.fan_out(spark.read.parquet(p))
        assert len(_entries("fan_out")) == 1  # narrow scan memoized
        # poison the entry: a memo hit now skips the fan-out that the
        # live probe (one partition) would add
        u._MEMO[next(iter(_entries("fan_out")))] = 10**6
        again = spark.read.parquet(p).select("JoinKey")
        assert u.fan_out(again) is again
    finally:
        _clear("fan_out")


def test_fan_out_memo_skips_set_ops_and_pandas_groups(spark, tmp_path, monkeypatch):
    """An intersect (or except, pandas group map, rebalance) over the
    same files is not scan-narrow: it neither stores nor hits."""
    p = str(tmp_path / "one.parquet")
    spark.range(0, 100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    wide = [
        df.intersect(df),
        df.exceptAll(df),
        df.groupBy("id").applyInPandas(lambda g: g, "id long"),
        df.hint("rebalance"),
    ]

    class Spy(dict):
        def get(self, key, default=None):
            if key[1] == "fan_out":
                reads.append(key)
            return super().get(key, default)

    reads: list = []
    monkeypatch.setattr(u, "_MEMO", Spy())
    for w in wide:
        u.fan_out(w)
    assert _entries("fan_out") == {}  # no store
    assert reads == []  # no read
    u.fan_out(df)
    assert len(_entries("fan_out")) == 1
    for w in wide:
        u.fan_out(w)
    assert len(reads) == 1  # only the narrow scan read it


# ---- resolve_lane and hoeffding_d ------------------------------------


def test_resolve_lane_memo_and_choice(spark):
    """resolve_lane: explicit lanes pass through, 'auto' probes once
    and memoizes per (app, plan-hash), and the cut-over constant is
    honored."""
    import reddit_etl_spark.operators.scale_lanes as sl

    df = spark.range(0, 100).selectExpr("id AS __v")
    _clear("lane")
    assert sl.resolve_lane("single", df) == "single"
    assert sl.resolve_lane("two_pass", df) == "two_pass"
    assert sl.resolve_lane("auto", df) == "single"  # 100 < 1e6
    assert len(_entries("lane")) == 1
    # identical rebuild hits the memo (same key, no new entry)
    df2 = spark.range(0, 100).selectExpr("id AS __v")
    assert sl.resolve_lane("auto", df2) == "single"
    assert len(_entries("lane")) == 1
    # a different frame probes separately
    df3 = spark.range(0, 50).selectExpr("id AS __v")
    assert sl.resolve_lane("auto", df3) == "single"
    assert len(_entries("lane")) == 2
    # cut-over honored (patched constant, no giant frame needed)
    saved = sl.TWO_PASS_MIN_ROWS
    try:
        sl.TWO_PASS_MIN_ROWS = 10
        _clear("lane")
        assert sl.resolve_lane("auto", df) == "two_pass"  # 100 > 10
    finally:
        sl.TWO_PASS_MIN_ROWS = saved
        _clear("lane")


def test_hoeffding_lane_parity(spark):
    """The round-14 sweep lane (single-task Fenwick dominance sweep)
    must return bit-identical results to the original cells² join
    lane — forced by dropping the cut-over to 0."""
    import random

    import reddit_etl_spark.operators.relational as rel

    random.seed(3)
    rows = [(random.randint(0, 40), random.randint(0, 15)) for _ in range(5000)]
    df = spark.createDataFrame(rows, "x long, y long")
    join_out = rel.hoeffding_d(df, "x", "y").collect()
    saved = rel._HOEFFDING_SWEEP_MIN_CELLS
    _clear("hoeffding")
    try:
        rel._HOEFFDING_SWEEP_MIN_CELLS = 0
        sweep_out = rel.hoeffding_d(df, "x", "y").collect()
    finally:
        rel._HOEFFDING_SWEEP_MIN_CELLS = saved
        _clear("hoeffding")
    assert join_out == sweep_out
    assert join_out[0]["n"] == 5000


def test_hoeffding_memo_keys_on_the_plan(spark, tmp_path):
    """A filtered call must not hand its cell count to a later call on
    the unfiltered frame of the same files: the stale 360-cell count
    picked the join lane for a 12k-cell grid, whose 10k-cell guard
    then refused a call within max_cells."""
    import reddit_etl_spark.operators.relational as rel

    path = str(tmp_path / "grid")
    spark.range(0, 12_000).selectExpr(
        "id % 100 AS x", "id DIV 100 AS y"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    _clear("hoeffding")
    try:
        small = rel.hoeffding_d(df.filter("x < 3"), "x", "y").collect()
        full = rel.hoeffding_d(df, "x", "y").collect()
        assert len(_entries("hoeffding")) == 2
        # an identical rebuild hits the memo instead of adding a key
        assert rel.hoeffding_d(df, "x", "y").collect() == full
        assert len(_entries("hoeffding")) == 2
    finally:
        _clear("hoeffding")
    assert (small[0]["n_cells"], full[0]["n_cells"]) == (360, 12_000)


# ---- the warm traffic perfbench's curation pass relies on -----------


def test_warm_curation_round_hits_every_lookup(spark, monkeypatch):
    """Building the curation builders a second time finds every
    ``app_memo`` answer kept and computes none: the benchmark's warm
    passes rely on this."""
    from reddit_etl_spark.harness import _REGISTRY
    from reddit_etl_spark.harness.queries_01_core import _EXACT_TOPK_CACHE

    real = u.app_memo
    calls: list[dict] = []

    def counted(spark, tag, key, compute, store=None):
        call = {"tag": tag, "keyed": False, "computed": False}
        calls.append(call)

        def k():
            v = key()
            call["keyed"] = v is not None
            return v

        def c():
            call["computed"] = True
            return compute()

        return real(spark, tag, k, c, store)

    for mod in list(sys.modules.values()):
        if getattr(mod, "app_memo", None) is real:
            monkeypatch.setattr(mod, "app_memo", counted)

    def build_round():
        # as in perfbench: similarity_topk's result frame is dropped
        # before each round, so its builder runs again
        while _EXACT_TOPK_CACHE:
            _EXACT_TOPK_CACHE.popitem()[1].unpersist()
        calls.clear()
        for b in CURATION:
            _REGISTRY[b].builder(spark, SF_DIR).collect()
        return list(calls)

    build_round()
    warm = build_round()
    lookups = Counter(c["tag"] for c in warm if c["keyed"])
    assert lookups == Counter(schema=6, fan_out=2, prefix=1)
    assert not any(c["computed"] for c in warm)


def test_exact_topk_builds_once_for_concurrent_misses(spark, monkeypatch):
    """Two threads that miss ``_EXACT_TOPK_CACHE`` at once get one
    persisted frame: without the lock each built and persisted its own,
    and the entry overwritten stayed persisted with no owner."""
    import reddit_etl_spark.operators.similarity as sim
    from reddit_etl_spark.harness import queries_01_core as core

    real = sim.cosine_topk
    built = []

    def slow(*args, **kwargs):
        built.append(1)
        time.sleep(0.5)  # both threads are past the lookup by now
        return real(*args, **kwargs)

    monkeypatch.setattr(sim, "cosine_topk", slow)
    while core._EXACT_TOPK_CACHE:
        core._EXACT_TOPK_CACHE.popitem()[1].unpersist()
    got = [None, None]

    def call(i):
        got[i] = core._exact_topk(spark, SF_DIR)

    threads = [InheritableThread(target=call, args=(i,)) for i in (0, 1)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(built) == 1
        assert got[0] is not None and got[0] is got[1]
        assert len(core._EXACT_TOPK_CACHE) == 1
    finally:
        while core._EXACT_TOPK_CACHE:
            core._EXACT_TOPK_CACHE.popitem()[1].unpersist()
        for df in got:
            if df is not None:
                df.unpersist()
