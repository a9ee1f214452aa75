"""Shared plumbing for the harness package: table loaders, oracle-
stability helpers (stable_avg/round6), the HarnessQuery dataclass and
the @_q registration decorator.

The engine's operators are schema-generic (FIXTURES.md §B); this module
instantiates every query shape from the reference's 15-query surface
(SURVEY §2.11) plus the training-data-pipeline extensions against the
driver's TPC-H-ish tables (region nation customer supplier part orders
lineitem events documents embeddings), pairing each Spark builder with
the exact-match DuckDB oracle SQL.

Conventions (so the driver's row-count + schema + value-hash compare
passes):
- every computed column aliased identically on both sides;
- integer aggregates cast to BIGINT on both sides (DuckDB SUM(int)
  returns HUGEINT otherwise);
- hour/weekday cast to BIGINT; weekday is Monday=0 on both sides
  (Spark ``weekday``, DuckDB ``isodow - 1``);
- relative-date anchors are derived from the data (max date), never
  ``now()`` (SURVEY P13/P16 determinism rule).
"""

from __future__ import annotations

import os

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.relational import argmax_per_group, rank_in_group, tier_col
from ..operators.util import app_memo
from ..operators.util import round6_floor  # noqa: F401  (re-export)
from ..session import ensure_nanos_as_long, ensure_utc

# pre-materialized pHash artifact (tools/gen_phash_artifact.py) — path
# derived from the package location so any checkout/CI clone resolves it
_PHASH_ARTIFACT = os.path.join(
    # package root (one level up from harness/) — the round-12 split
    # moved this file into the harness subpackage
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "phash_hashes.parquet",
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _file_stamp(spark: SparkSession, path: str) -> tuple:
    """``app_memo`` key for a table: its path with the length and
    modification time of one Hadoop ``FileStatus`` (no Spark job).
    Spark's overwrite and append both change a table directory's
    mtime, so a table rewritten in place is read afresh."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    st = fs.getFileStatus(jpath)
    return path, st.getLen(), st.getModificationTime()


def _read_memo(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet with the schema inferred once per table version:
    inference costs a footer-read job (~100-180 ms) on every plain
    ``spark.read.parquet``, and builders re-read their tables on every
    rep."""
    schema = app_memo(
        spark, "schema", lambda: _file_stamp(spark, path),
        lambda: spark.read.parquet(path).schema,
    )
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # UTC pin lives in session.py (set-once, no-op on UTC sessions) so
    # hour()/weekday()/to_date() match the timezone-naive oracle even
    # on an externally-owned (driver) session.
    ensure_utc(spark)
    return _read_memo(spark, f"{sf_dir}/{name}.parquet")


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a table, for builders whose plan SHAPE derives
    from the table size (IVF centroid count = sqrt(N)); one count job
    per table version."""
    path = f"{sf_dir}/{name}.parquet"
    return app_memo(
        spark, "rows", lambda: _file_stamp(spark, path),
        lambda: load(spark, sf_dir, name).count(),
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with ``ts`` normalized to a session-TZ TIMESTAMP.

    Testdata generations differ: some store ``ts`` as
    TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so the
    legacy nanos-as-long flag (session.py) surfaces it as BIGINT nanos
    to floor-convert (exact integer division; a double division would
    lose sub-us precision at 2024-era epochs; DuckDB's TIMESTAMP_NS ->
    TIMESTAMP cast truncates identically) — and some store plain
    TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ and only needs
    the NTZ->session-TZ cast (identity on wall-clock under UTC)."""
    ensure_utc(spark)
    ensure_nanos_as_long(spark)
    # schema memo is safe here: nanosAsLong is pinned BEFORE the first
    # inference, so the cached schema reflects the same read semantics
    df = _read_memo(spark, f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def stable_avg(c) -> "F.Column":
    """Order-independent average for <=6-decimal-valued columns:
    round(cast(sum(decimal) as double) / count, 6). Raw AVG is
    summation-order dependent by ulps, and sums of 2-decimal values
    divided by power-of-two counts land EXACTLY on 6-decimal rounding
    boundaries (sum/32 ends in ...5 at the 7th digit whenever the
    cent total is odd) — so Spark and an oracle can legitimately
    round opposite ways. The r1-r5 discipline rounded the DOUBLE sum
    to 6 first, which snaps both engines together only while the
    sum's ulp stays below 1e-6 — full-table o_totalprice sums reach
    3.75e10 at sf0.1 (ulp 4e-6, ~1e-4 summation random-walk), where
    the 6th decimal of a double sum is NOT order-stable (the r6
    pit_order_status driver failure class). Accumulating in
    DECIMAL(18,6) is exact for any <=6dp input at any group size
    (32 integer digits of headroom). One caveat on the final cast:
    once the sum's UNSCALED value passes 2^53, DuckDB's direct
    decimal->double (double(hugeint)/10^scale — two roundings) can
    land 1 ulp off Spark's correctly-rounded BigDecimal cast. An
    AVERAGE is insulated — a 1-ulp numerator error is ~1e-16
    relative, invisible at the 6dp grain after /count — but a BARE
    decimal sum output is not; those oracle sites use the
    correctly-rounded VARCHAR roundtrip CAST(CAST(sum AS VARCHAR)
    AS DOUBLE) instead (see tpch_q1_pricing). Oracle twin here:
    ROUND(CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
    / COUNT(x), 6). Integer-summed averages don't need this (integer
    sums are exact in double below 2^53)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(col), 6
    )


def round6(df: DataFrame, *cols: str) -> DataFrame:
    """Canonical 6-decimal quantization of order-dependent float
    aggregates (avg/sum of doubles, stddev, corr). Spark's partial
    aggregation and DuckDB's vectorized fold sum in different orders, so
    raw doubles differ in the last ulps; both sides of the oracle
    compare apply the same quantization."""
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


@dataclass
class HarnessQuery:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; rows-only check
    doc: str = ""
    headline: bool = field(default=False)  # included in bench.py


_REGISTRY: dict[str, HarnessQuery] = {}


def _q(name: str, oracle: str | None, doc: str = "", headline: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = HarnessQuery(name, fn, oracle, doc, headline)
        return fn

    return deco


