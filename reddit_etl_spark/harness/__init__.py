"""Driver-harness query surface over the synthetic testdata tables.


The engine's operators are schema-generic (FIXTURES.md §B); this package
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

Layout: `_common.py` holds the helpers and the @_q registry; the
`queries_*` modules hold the registrations.
"""

from __future__ import annotations

from ._common import (  # noqa: F401
    Callable,
    DataFrame,
    F,
    HarnessQuery,
    SparkSession,
    TABLES,
    Window,
    _PHASH_ARTIFACT,
    _REGISTRY,
    _q,
    load,
    load_events,
    round6,
    stable_avg,
)

# import order = registration order
from .queries_01_core import *  # noqa: F401,F403,E402
from .queries_02_pipeline import *  # noqa: F401,F403,E402
from .queries_03_graph_text import *  # noqa: F401,F403,E402
from .queries_03_graph_text import _FENCE_POLYGONS  # noqa: F401,E402  (tools/scale_probe.py)
from .queries_04_series_tpch import *  # noqa: F401,F403,E402
from .queries_05_stats import *  # noqa: F401,F403,E402
from .queries_06_stats2 import *  # noqa: F401,F403,E402
from .queries_07_round12 import *  # noqa: F401,F403,E402
from .queries_08_round13 import *  # noqa: F401,F403,E402

# The driver records correctness rows for only the first 50 registry()
# entries, so which queries ride that recorded gate is an explicit
# choice: _HEAD lists them in order. Every other registration follows
# in registration order and stays oracle-checked by
# tools/check_oracle.py, which runs all entries.
_HEAD = (
    "lilliefors_values",
    "kuiper_click_error_hours",
    "hoeffding_d_lineitem",
    "blomqvist_beta_lineitem",
    "sign_test_user_halves",
    "breslow_day_priority",
    "tvd_value_drift",
    "feature_screen_orders",
    "wilson_ci_events",
    "dagostino_k2_values",
    "granger_lag1_daily",
    "chow_break_daily",
    "ww_runs_click_error",
    "bws_click_error",
    "embedding_centroid_labels",
    "g_test_status_priority",
    "icc_user_halves",
    "cusum_squares_daily",
    "spiegelhalter_z_events",
    "cronbach_doc_rules",
    "group_kfold_users",
    "vdw_event_values",
    "fligner_killeen_types",
    "shapiro_francia_values",
    "bartels_rank_daily",
    "newey_west_daily",
    "deming_part_price",
    "lepage_click_error",
    "van_elteren_click_weekday",
    "cv_qcd_event_types",
    "robust_shape_values",
    "longest_run_daily",
    "record_highs_daily",
    "bh_fdr_daily",
    "ad_normal_values",
    "mixture_weights",
    "nb_language_selftrain",
    "neardup_survivors",
    "pagerank_cust_supp",
    "part_name_linkage",
    "ppr_supplier_recs",
    "psi_value_drift",
    "hits_cust_supp",
    "hybrid_search_rrf",
    "incremental_minhash",
    "incremental_rollup_refresh",
    "item_affinity",
    "join_profile_orders_lineitem",
    "mad_outliers_daily",
    "duplicate_spans",
)


def registry() -> dict[str, HarnessQuery]:
    """All queries: the driver-recorded ``_HEAD`` first, then every
    other registration in registration order."""
    head = {n: _REGISTRY[n] for n in _HEAD}
    return head | {n: q for n, q in _REGISTRY.items() if n not in head}
