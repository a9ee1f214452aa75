"""reddit_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities of the reference ETL pipeline (abshek7/REDDIT-ETL: a
PRAW -> pandas -> SQLite single-file pipeline plus a 15-query SQL analysis
corpus), re-expressed as:

- explicit ``StructType`` schemas (``schemas``)
- a pure-column-expression transform stage (``transform``) — zero Python UDFs
- DataFrame/SQL builders for the full 15-query analytical surface
  (``queries``)
- generic, schema-parameterized relational operators (``operators``)
- batch + mock sources (``sources``), append/upsert/export sinks (``sinks``)
- a Structured Streaming daily-stats path (``streaming``)
- large-scale training-data-pipeline extensions: dedup, similarity search,
  text analysis, multimodal column plumbing (``operators``)

Everything is designed for a real multi-executor cluster (partition-aware,
shuffle-minimal, broadcast-aware, AQE-enabled) even though tests run on
``local[*]``.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # ``Engine``, the primary user-facing API, imports on first use: the
    # Python-worker daemon (``pyworker``) imports this package and should
    # not pay for the query modules
    if name == "Engine":
        from .engine import Engine

        return Engine
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
