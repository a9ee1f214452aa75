"""Engine facade tests: the reference user's switch-over surface
(pipeline write -> Engine over the lakehouse -> all three query
paths + the stats refresh), plus the partition-pruning property of
the written layout."""

from __future__ import annotations

import datetime as dt
import sys
import threading

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

from reddit_etl_spark.analysis_sql import ANALYSIS_QUERIES
from reddit_etl_spark.engine import Engine
from reddit_etl_spark.plans.inspect import count_exchanges, explain_str
from reddit_etl_spark.sinks.writers import append_parquet
from tests.conftest import AS_OF, canon_rows, jobs_in_group


@pytest.fixture(scope="module")
def lake(spark, posts, comments, tmp_path_factory):
    root = tmp_path_factory.mktemp("lake")
    append_parquet(posts, str(root / "posts"), partition_by=("subreddit",))
    append_parquet(comments, str(root / "comments"))
    return root


@pytest.fixture(scope="module")
def engine(spark, lake):
    return Engine(
        spark, posts_path=str(lake / "posts"), comments_path=str(lake / "comments")
    )


def test_engine_builders_and_sql_agree(engine):
    b = {r.subreddit: r.total_posts for r in engine.q01().collect()}
    s = {
        r.subreddit: r.total_posts
        for r in engine.analysis("q01").collect()
    }
    assert b == s and len(b) == 3


def test_engine_adhoc_sql_view(engine):
    top = engine.sql(
        "SELECT subreddit, COUNT(*) AS n FROM post_performance "
        "WHERE rank_in_subreddit = 1 GROUP BY subreddit"
    ).collect()
    assert len(top) == 3


def test_engine_q13_requires_as_of(engine):
    with pytest.raises(ValueError):
        engine.analysis("q13")
    assert engine.analysis("q13", as_of=AS_OF).count() > 0


def test_engine_stats_refresh(engine, tmp_path, spark):
    path = str(tmp_path / "stats")
    engine.refresh_stats(path)
    stats = spark.read.parquet(path)
    assert {"subreddit", "date", "total_posts"} <= set(stats.columns)
    assert stats.count() > 0


def test_partition_pruning_on_written_layout(engine):
    # subreddit is a partition column: the filter must prune partitions
    # at planning time, not scan-and-filter
    df = engine.posts.filter(F.col("subreddit") == "Python")
    plan = explain_str(df)
    assert "PartitionFilters" in plan
    assert "subreddit" in plan.split("PartitionFilters")[1][:200]
    assert df.count() > 0


def test_engine_data_quality_clean_fixture(engine):
    report = {r["check"]: (r["violations"], r["total"]) for r in engine.data_quality().collect()}
    # the fixture tables satisfy every standing expectation
    assert all(v == 0 for v, _ in report.values()), report
    assert any(c.startswith("referential(post_id") for c in report)
    assert any(c.startswith("unique(id)") for c in report)


def test_engine_views_launch_no_job(spark, lake):
    """The tables are read in their declared schemas: building an
    analysis query or an ad-hoc statement infers nothing, so it runs no
    Spark job."""
    eng = Engine(spark, str(lake / "posts"), str(lake / "comments"))

    def build():
        eng.analysis("q01")
        eng.analysis("q08")
        eng.sql("SELECT * FROM post_performance")

    assert jobs_in_group(spark, "engine-build", build) == 0


def test_analysis_leaves_no_session_view(spark, lake):
    """``analysis`` binds the Engine's frames for the one call: the
    session's table list is the same before and after."""
    for view in ("posts", "comments", "post_performance"):
        spark.catalog.dropTempView(view)
    before = sorted(t.name for t in spark.catalog.listTables())
    eng = Engine(spark, str(lake / "posts"), str(lake / "comments"))
    for name in sorted(ANALYSIS_QUERIES):
        eng.analysis(name, as_of=AS_OF).collect()
    assert sorted(t.name for t in spark.catalog.listTables()) == before


@pytest.mark.parametrize("partition_by", [("subreddit",), ()])
def test_engine_declared_schemas_equal_inferred(
    spark, posts, comments, tmp_path, partition_by
):
    """Declared-schema reads give the columns, order and types an
    inferred read gives, on a subreddit-partitioned lake (the
    partition column comes last) and on an unpartitioned one."""
    append_parquet(posts, str(tmp_path / "p"), partition_by=partition_by)
    append_parquet(comments, str(tmp_path / "c"))
    eng = Engine(spark, str(tmp_path / "p"), str(tmp_path / "c"))
    for got, path in ((eng.posts, "p"), (eng.comments, "c")):
        inferred = spark.read.parquet(str(tmp_path / path))
        assert got.columns == inferred.columns
        assert got.schema == inferred.schema
        assert got.exceptAll(inferred).isEmpty()
        assert inferred.exceptAll(got).isEmpty()


def _engine_listed_with(spark, lake, conf: dict[str, str]) -> Engine:
    """An Engine whose tables were listed with ``conf`` set, which
    decides their partitioning; the session's values are restored
    afterwards."""
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        eng = Engine(spark, str(lake / "posts"), str(lake / "comments"))
        eng.posts, eng.comments
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    return eng


_THRESHOLD_OFF = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


@pytest.mark.parametrize("name", ["q01", "q13", "q15"])
def test_small_lake_plans_no_exchange(spark, lake, name):
    """A lake below the bounds is read as one partition: the executed
    plans of an aggregate, a date-filtered distinct count and a rank
    window shuffle nothing."""
    eng = _engine_listed_with(spark, lake, {})
    assert eng.posts.rdd.getNumPartitions() == 1
    df = eng.analysis(name, as_of=AS_OF)
    assert df.collect()
    assert count_exchanges(df) == 0, explain_str(df)


@pytest.mark.parametrize("conf", [
    _THRESHOLD_OFF,
    {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b"},
])
def test_bound_off_reads_partitioned(spark, lake, conf):
    """With the broadcast threshold at -1, or a minimum partition size
    below the lake's, the tables keep their file partitions and the
    aggregate shuffles again."""
    eng = _engine_listed_with(spark, lake, conf)
    assert eng.posts.rdd.getNumPartitions() > 1
    df = eng.analysis("q01")
    assert df.collect()
    assert count_exchanges(df) > 0


def test_one_partition_path_keeps_results(spark, lake):
    """All fifteen analysis queries return the same rows (as multisets,
    floats to 9 significant digits) on both paths."""
    shuffled = _engine_listed_with(spark, lake, _THRESHOLD_OFF)
    want = {
        name: canon_rows(shuffled.analysis(name, as_of=AS_OF).collect())
        for name in sorted(ANALYSIS_QUERIES)
    }
    eng = _engine_listed_with(spark, lake, {})
    for name in sorted(ANALYSIS_QUERIES):
        got = canon_rows(eng.analysis(name, as_of=AS_OF).collect())
        assert got == want[name], name
        assert want[name], name


_ALL = ["MachineLearning", "Python", "datascience"]


@pytest.fixture
def two_engines(spark, lake, posts, comments, tmp_path):
    """An Engine over the three-subreddit lake and one over a lake of
    its Python posts only, in one session."""
    one = posts.filter(F.col("subreddit") == "Python")
    append_parquet(one, str(tmp_path / "p"), partition_by=("subreddit",))
    append_parquet(comments, str(tmp_path / "c"))
    return (
        Engine(spark, str(lake / "posts"), str(lake / "comments")),
        Engine(spark, str(tmp_path / "p"), str(tmp_path / "c")),
    )


def _subreddits(df) -> list[str]:
    return sorted(r.subreddit for r in df.collect())


def test_interleaved_engines_read_their_own_lakes(two_engines):
    """Two Engines over different lakes that take turns each read their
    own lake, through both query paths."""
    full, python = two_engines
    for _ in range(2):
        assert _subreddits(full.analysis("q01")) == _ALL
        assert _subreddits(full.analysis("q01")) == _ALL
        assert _subreddits(python.analysis("q01")) == ["Python"]
        assert _subreddits(python.sql("SELECT DISTINCT subreddit FROM posts")) == [
            "Python"
        ]
        assert _subreddits(full.sql("SELECT DISTINCT subreddit FROM posts")) == _ALL


def _race(engines, build, reps=40) -> list[list[list[str]]]:
    """Each Engine runs ``build(engine)`` and collects it ``reps`` times
    on a thread of its own, the threads started together; returns the
    sorted subreddits of every result, per Engine."""
    got = [[] for _ in engines]
    errors = []
    start = threading.Barrier(len(engines))

    def work(i):
        try:
            start.wait(timeout=60)
            for _ in range(reps):
                got[i].append(_subreddits(build(engines[i])))
        except Exception as e:  # noqa: BLE001 - reported by the caller
            errors.append(e)

    threads = [InheritableThread(target=work, args=(i,)) for i in range(len(engines))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    return got


@pytest.mark.parametrize("build", [
    lambda eng: eng.analysis("q01"),
    lambda eng: eng.sql("SELECT DISTINCT subreddit FROM posts"),
], ids=["analysis", "sql"])
def test_concurrent_engines_read_their_own_lakes(two_engines, build):
    """Two Engines over one session, each querying on its own thread at
    once, both through ``analysis`` and through the session views of
    ``sql``: every result holds the Engine's own lake."""
    full, python = _race(two_engines, build)
    assert full == [_ALL] * 40
    assert python == [["Python"]] * 40
