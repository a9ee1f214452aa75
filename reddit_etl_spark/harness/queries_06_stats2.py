"""Harness queries (part 6/6): round-10/11 statistics tail: rank lanes, effect sizes, agreement, robust location.
"""

from __future__ import annotations

from ._common import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _q,
    load,
    load_events,
)
from .queries_01_core import (  # noqa: F401
    q12_correlations,
)
from .queries_04_series_tpch import (  # noqa: F401
    _DAILY_MEAN_SQL,
    _daily_mean_frame,
)

@_q(
    "ks_expfit_values",
    """
    WITH base AS (
      SELECT event_type AS g,
             CAST(ROUND(value * 1000000, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    nd AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_dropped
           FROM base WHERE v <= 0 GROUP BY 1),
    pos AS (SELECT g, v FROM base WHERE v > 0),
    per_v AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
              FROM pos GROUP BY 1, 2),
    tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(v::HUGEINT) AS s
            FROM pos GROUP BY 1),
    run AS (SELECT g, v, t,
                   SUM(t) OVER (PARTITION BY g ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS cum
            FROM per_v),
    j AS (SELECT run.g, run.v, run.t, run.cum, tot.n,
                 CAST(tot.n AS DOUBLE)
                   / (CAST(CAST(tot.s AS VARCHAR) AS DOUBLE) / 1e6)
                   AS lam
          FROM run JOIN tot USING (g)),
    gaps AS (
      SELECT g, n, lam,
             GREATEST(
               ABS(CAST(cum AS DOUBLE) / n
                   - (1 - EXP(-lam * v / 1e6))),
               ABS(CAST(cum - t AS DOUBLE) / n
                   - (1 - EXP(-lam * v / 1e6)))) AS gap
      FROM j),
    ag AS (SELECT g, MAX(n) AS n, ROUND(MAX(lam), 6) AS lambda_hat,
                  ROUND(MAX(gap), 6) AS d_stat
           FROM gaps GROUP BY 1)
    SELECT ag.g AS event_type,
           COALESCE(ag.n, 0) AS n,
           COALESCE(nd.n_dropped, 0) AS n_dropped,
           ag.lambda_hat, ag.d_stat
    FROM ag FULL OUTER JOIN nd USING (g) ORDER BY event_type
    """,
    doc="One-sample KS distance of event values against a FITTED "
    "exponential per type (operators/relational.py:"
    "ks_exponential_fit) — the distribution-FIT rung next to "
    "ks_value_drift's two-sample gap: 'are these values memoryless', "
    "the Poisson-process sanity check behind poisson_rate_halves. "
    "Descriptive D (Lilliefors caveat documented — lambda fitted "
    "from the same data); F_emp exact rationals off the guarded "
    "distinct micro-value frame, sup checks both step sides",
)
def ks_expfit_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import ks_exponential_fit

    ev = load_events(spark, sf_dir)
    return ks_exponential_fit(
        ev.select(F.col("event_type").alias("g"), "value"),
        ["g"],
        "value",
        scale=1_000_000,
    ).withColumnRenamed("g", "event_type")


@_q(
    "atkinson_customer_revenue",
    """
    WITH rev AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey),
    q AS (SELECT c_nationkey AS g,
                 CAST(ROUND(r * 100, 0) AS BIGINT) AS v
          FROM rev WHERE r IS NOT NULL),
    ag AS (
      SELECT g,
             CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN v > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped,
             SUM(CASE WHEN v > 0 THEN v::HUGEINT END) AS s1,
             SUM(CASE WHEN v > 0 THEN POW(CAST(v AS DOUBLE), 0.5) END)
               AS sp
      FROM q GROUP BY 1),
    m AS (SELECT g, n, n_dropped,
                 CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS vbar,
                 POW(sp / CAST(n AS DOUBLE), 2.0) AS ede
          FROM ag)
    SELECT g AS c_nationkey, n, n_dropped,
           ROUND(CASE WHEN n > 0 THEN vbar / 100.0 END, 6) AS mean,
           ROUND(CASE WHEN n > 0 THEN 1.0 - ede / vbar END, 6)
             AS atkinson
    FROM m ORDER BY c_nationkey
    """,
    doc="Atkinson inequality index (epsilon = 0.5) of per-customer "
    "revenue within each nation "
    "(operators/relational.py:atkinson_index) — the NORMATIVE rung "
    "next to theil_customer_revenue and gini_customer_revenue: 'the "
    "nation would give up A of total revenue to equalize'. ONE "
    "aggregate (the mean folds out by homogeneity); power fold "
    "renormalized by n*mu^(1-eps) keeps order ulps invisible at "
    "round-6",
)
def atkinson_customer_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import atkinson_index

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("r")
        )
    )
    return atkinson_index(rev, ["c_nationkey"], "r")


@_q(
    "cliffs_delta_click_error",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
    per_v AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ta,
                     CAST(SUM(1 - ia) AS BIGINT) AS tb
              FROM base GROUP BY 1),
    run AS (SELECT ta, tb,
                   COALESCE(SUM(ta + tb) OVER (ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
            FROM per_v),
    ag AS (SELECT CAST(SUM(ta) AS BIGINT) AS n_a,
                  CAST(SUM(tb) AS BIGINT) AS n_b,
                  SUM(ta::HUGEINT * (2 * c + ta + tb + 1)) AS r2a
           FROM run),
    m AS (SELECT n_a, n_b,
                 CAST(CAST((r2a - n_a::HUGEINT * (n_a + 1)) AS VARCHAR)
                      AS DOUBLE) / 2.0 AS u_a
          FROM ag),
    fin AS (SELECT n_a, n_b, u_a,
                   2.0 * u_a / (CAST(n_a AS DOUBLE) * n_b) - 1.0
                     AS delta
            FROM m)
    SELECT n_a, n_b,
           CASE WHEN n_a > 0 AND n_b > 0 THEN u_a END AS u_a,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN delta END, 6)
             AS delta,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             CASE WHEN ABS(delta) < 0.147 THEN 'negligible'
                  WHEN ABS(delta) < 0.33 THEN 'small'
                  WHEN ABS(delta) < 0.474 THEN 'medium'
                  ELSE 'large' END END AS magnitude
    FROM fin
    """,
    doc="Cliff's delta ordinal effect size between click and error "
    "values (operators/relational.py:cliffs_delta) — "
    "mannwhitney_click_error's EFFECT-SIZE companion: delta = "
    "2U/(n_a n_b) - 1 in [-1,1], robust to any monotone transform, "
    "with the standard Romano magnitude banding as injected "
    "literals. Exact U off the guarded distinct cent-value frame "
    "(the mann_whitney midrank discipline verbatim)",
)
def cliffs_delta_click_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import cliffs_delta

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "error")
    )
    return cliffs_delta(
        ev.select("value", "event_type"), "value", "event_type", "click"
    )


@_q(
    "hodges_lehmann_click_error",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 1, 0) AS BIGINT) AS v,
             event_type = 'click' AS a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
    va AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ta
           FROM base WHERE a GROUP BY 1),
    vb AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS tb
           FROM base WHERE NOT a GROUP BY 1),
    diffs AS (
      SELECT va.v - vb.v AS d, SUM(va.ta::HUGEINT * vb.tb) AS w
      FROM va CROSS JOIN vb GROUP BY 1),
    tot AS (SELECT SUM(w) AS n FROM diffs),
    run AS (SELECT d,
                   SUM(w) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cum
            FROM diffs),
    med AS (SELECT MIN(d) AS med FROM run CROSS JOIN tot
            WHERE cum >= FLOOR((n + 1) / 2)),
    sides AS (
      SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
      FROM base),
    cells AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_diff_cells
              FROM diffs)
    SELECT n_a, n_b, n_diff_cells,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0
                 THEN CAST(med AS DOUBLE) / 1.0 END, 6) AS hl_shift
    FROM sides CROSS JOIN cells CROSS JOIN med
    """,
    doc="Hodges-Lehmann shift estimate between click and error "
    "values (operators/relational.py:hodges_lehmann_shift) — the "
    "robust 'how much bigger' next to cliffs_delta's 'how "
    "dominantly': weighted LOWER median of all pairwise differences, "
    "collapsed onto the V_a x V_b distinct-value grid with exact "
    "t_a*t_b weights (never the n_a*n_b row pairs); the grid is "
    "plan-guarded at EXACT_RANK_MAX_ROWS. QUERY quantization is "
    "whole units (scale=1, part of the contract): a value domain of "
    "~500 keeps the grid ~2.5e5 cells at ANY scale factor, where "
    "cents at sf0.1 already hit 9.6e7 and the guard (correctly) "
    "raised — the documented remedy applied",
)
def hodges_lehmann_click_error_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.relational import hodges_lehmann_shift

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "error")
    )
    return hodges_lehmann_shift(
        ev.select("value", "event_type"),
        "value",
        "event_type",
        "click",
        scale=1,
    )


@_q(
    "uncertainty_status_priority",
    """
    WITH base AS (
      SELECT CAST(o_orderstatus AS VARCHAR) AS r,
             CAST(o_orderpriority AS VARCHAR) AS c
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
    cells AS (SELECT r, c, CAST(COUNT(*) AS BIGINT) AS f
              FROM base GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM cells),
    hr AS (SELECT -SUM(p * LN(p)) AS h FROM (
             SELECT CAST(SUM(f) AS DOUBLE) / (SELECT n FROM tot) AS p
             FROM cells GROUP BY r)),
    hc AS (SELECT -SUM(p * LN(p)) AS h FROM (
             SELECT CAST(SUM(f) AS DOUBLE) / (SELECT n FROM tot) AS p
             FROM cells GROUP BY c)),
    hrc AS (SELECT -SUM(p * LN(p)) AS h FROM (
              SELECT CAST(f AS DOUBLE) / (SELECT n FROM tot) AS p
              FROM cells)),
    m AS (SELECT (SELECT n FROM tot) AS n,
                 (SELECT h FROM hr) AS h_row,
                 (SELECT h FROM hc) AS h_col,
                 (SELECT h FROM hr) + (SELECT h FROM hc)
                   - (SELECT h FROM hrc) AS mi)
    SELECT COALESCE(n, 0) AS n,
           ROUND(h_row, 6) AS h_row,
           ROUND(h_col, 6) AS h_col,
           ROUND(mi, 6) AS mutual_info,
           ROUND(CASE WHEN h_col > 0 THEN mi / h_col END, 6)
             AS u_col_given_row,
           ROUND(CASE WHEN h_row > 0 THEN mi / h_row END, 6)
             AS u_row_given_col,
           ROUND(CASE WHEN h_row + h_col > 0
                 THEN 2.0 * mi / (h_row + h_col) END, 6) AS u_symmetric
    FROM m
    """,
    doc="Theil's uncertainty coefficient between order status and "
    "priority (operators/relational.py:uncertainty_coefficient) — "
    "the DIRECTED association rung next to chi2_status_priority's "
    "cramers_v and mi_status_priority's raw MI: 'knowing status "
    "removes this fraction of priority's entropy', asymmetric by "
    "design (catches many-to-one mappings). One cell aggregate + "
    "category-bounded entropy folds",
)
def uncertainty_status_priority_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.relational import uncertainty_coefficient

    orders = load(spark, sf_dir, "orders")
    return uncertainty_coefficient(
        orders, "o_orderstatus", "o_orderpriority"
    )


@_q(
    "ordinal_assoc_lines",
    """
    WITH base AS (
      SELECT CAST(l_linenumber AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem
      WHERE l_linenumber IS NOT NULL AND l_quantity IS NOT NULL),
    cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS f
              FROM base GROUP BY 1, 2),
    pa AS (
      SELECT
        SUM(CASE WHEN a.x < b.x AND a.y < b.y
            THEN a.f::HUGEINT * b.f END) AS c,
        SUM(CASE WHEN a.x < b.x AND a.y > b.y
            THEN a.f::HUGEINT * b.f END) AS d,
        SUM(CASE WHEN a.x = b.x AND a.y < b.y
            THEN a.f::HUGEINT * b.f END) AS tx,
        SUM(CASE WHEN a.y = b.y AND a.x < b.x
            THEN a.f::HUGEINT * b.f END) AS ty
      FROM cells a CROSS JOIN cells b),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
    m AS (SELECT
            COALESCE(CAST(CAST(c AS VARCHAR) AS DOUBLE), 0) AS cd,
            COALESCE(CAST(CAST(d AS VARCHAR) AS DOUBLE), 0) AS dd,
            COALESCE(CAST(CAST(tx AS VARCHAR) AS DOUBLE), 0) AS txd,
            COALESCE(CAST(CAST(ty AS VARCHAR) AS DOUBLE), 0) AS tyd
          FROM pa)
    SELECT COALESCE(tot.n, 0) AS n, nc.n_cells,
           m.cd AS c_pairs, m.dd AS d_pairs,
           ROUND(CASE WHEN m.cd + m.dd > 0
                 THEN (m.cd - m.dd) / (m.cd + m.dd) END, 6) AS gamma,
           ROUND(CASE WHEN m.cd + m.dd + m.tyd > 0
                 THEN (m.cd - m.dd) / (m.cd + m.dd + m.tyd) END, 6)
             AS somers_d_yx,
           ROUND(CASE WHEN (m.cd + m.dd + m.txd)
                      * (m.cd + m.dd + m.tyd) > 0
                 THEN (m.cd - m.dd)
                      / SQRT((m.cd + m.dd + m.txd)
                             * (m.cd + m.dd + m.tyd)) END, 6) AS tau_b
    FROM m CROSS JOIN tot CROSS JOIN nc
    """,
    doc="Goodman-Kruskal gamma / Somers' D / Kendall tau-b between "
    "line number and quantity "
    "(operators/relational.py:ordinal_association) — the ORDERED "
    "association chi2/cramers_v throws away: concordant/discordant "
    "pair counts fold over the (x, y) CELL GRID with exact integer "
    "f1*f2 weights (7x50 cells here — never the C(n,2) row pairs); "
    "grid guarded at max_cells",
)
def ordinal_assoc_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import ordinal_association

    li = load(spark, sf_dir, "lineitem")
    return ordinal_association(
        li.select(
            F.col("l_linenumber").alias("x"),
            F.col("l_quantity").alias("y"),
        ),
        "x",
        "y",
    )


@_q(
    "agreement_user_halves",
    """
    WITH pu AS (
      SELECT user_id,
        ROUND(CAST(SUM(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
              / COUNT(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                      THEN value END), 6) AS x,
        ROUND(CAST(SUM(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
              / COUNT(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                      THEN value END), 6) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    pairs AS (SELECT CAST(x AS DECIMAL(18,6)) AS x,
                     CAST(y AS DECIMAL(18,6)) AS y
              FROM pu WHERE x IS NOT NULL AND y IS NOT NULL),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(38,6))) AS sx,
             SUM(CAST(y AS DECIMAL(38,6))) AS sy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS syy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS sxy
      FROM pairs),
    d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                 CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
                 CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
                 CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
                 CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy,
                 CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy
          FROM ag),
    m AS (SELECT n, nd,
                 (sy - sx) / nd AS bias,
                 ((syy - 2 * sxy + sxx)
                  - (sy - sx) * (sy - sx) / nd) / (nd - 1) AS sdd,
                 sxx / nd - (sx / nd) * (sx / nd) AS vx,
                 syy / nd - (sy / nd) * (sy / nd) AS vy,
                 sxy / nd - (sx / nd) * (sy / nd) AS cxy,
                 (sx - sy) / nd AS md
          FROM d)
    SELECT COALESCE(n, 0) AS n,
           ROUND(CASE WHEN n >= 1 THEN bias END, 6) AS bias,
           ROUND(CASE WHEN n >= 2 AND sdd > 0 THEN SQRT(sdd) END, 6)
             AS sd_diff,
           ROUND(CASE WHEN n >= 2 AND sdd > 0
                 THEN bias - 1.959963984540054 * SQRT(sdd) END, 6)
             AS loa_lo,
           ROUND(CASE WHEN n >= 2 AND sdd > 0
                 THEN bias + 1.959963984540054 * SQRT(sdd) END, 6)
             AS loa_hi,
           ROUND(CASE WHEN vx > 0 AND vy > 0
                 THEN cxy / SQRT(vx * vy) END, 6) AS pearson_r,
           ROUND(CASE WHEN vx + vy > 0
                 THEN 2.0 * cxy / (vx + vy + md * md) END, 6) AS ccc
    FROM m
    """,
    doc="Bland-Altman bias/limits-of-agreement + Lin's concordance "
    "of per-user mean value, first half vs second half "
    "(operators/relational.py:agreement_summary) — the CONTINUOUS "
    "agreement rung next to kappa (nominal) and bowker_user_shift "
    "(categorical drift): 'how far apart and in which direction' "
    "plus 'how close to y = x', which Pearson r alone overstates "
    "(CCC <= |r| by construction, pytest-pinned). ONE cuped-style "
    "exact moment aggregate",
)
def agreement_user_halves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import agreement_summary

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    half = F.to_date("ts") <= F.lit("2024-01-15").cast("date")
    per_u = (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.when(half, F.col("value").cast("decimal(18,6)"))
                ).cast("double")
                / F.count(F.when(half, F.col("value"))),
                6,
            ).alias("x"),
            F.round(
                F.sum(
                    F.when(~half, F.col("value").cast("decimal(18,6)"))
                ).cast("double")
                / F.count(F.when(~half, F.col("value"))),
                6,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    return agreement_summary(per_u, "x", "y")


@_q(
    "seasonal_mk_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2),
    q AS (SELECT event_type,
                 CAST(EXTRACT(ISODOW FROM day) AS BIGINT) - 1 AS season,
                 CAST(day - DATE '1970-01-01' AS BIGINT) AS t, v
          FROM daily),
    cd AS (
      SELECT a.event_type, a.season,
             CAST(SUM(CASE WHEN (a.t - b.t)::HUGEINT * (a.v - b.v) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN (a.t - b.t)::HUGEINT * (a.v - b.v) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM q a JOIN q b
        ON a.event_type = b.event_type AND a.season = b.season
        AND a.t < b.t
      GROUP BY 1, 2),
    vt AS (
      SELECT event_type, season,
             SUM(tc::HUGEINT * (tc - 1) * (2 * tc + 5)) AS tv,
             CAST(SUM(tc) AS BIGINT) AS n
      FROM (SELECT event_type, season, v,
                   CAST(COUNT(*) AS BIGINT) AS tc
            FROM q GROUP BY 1, 2, 3) GROUP BY 1, 2),
    per_season AS (
      SELECT vt.event_type, vt.season, vt.n,
             CAST(COALESCE(c, 0) - COALESCE(d, 0) AS BIGINT) AS s,
             ROUND(CAST(CAST(n::HUGEINT * (n - 1) * (2 * n + 5) - tv
                             AS VARCHAR) AS DOUBLE) / 18.0, 6) AS vs
      FROM vt LEFT JOIN cd USING (event_type, season) WHERE n >= 2),
    ag AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_seasons,
             CAST(SUM(s) AS BIGINT) AS s_stat,
             ROUND(SUM(vs), 6) AS var_s
      FROM per_season GROUP BY 1),
    z AS (
      SELECT *, CASE WHEN var_s > 0 THEN
          ROUND(CASE WHEN s_stat > 0
                     THEN (s_stat - 1) / SQRT(var_s)
                     WHEN s_stat < 0
                     THEN (s_stat + 1) / SQRT(var_s)
                     ELSE 0.0 END, 6) END AS z
      FROM ag)
    SELECT event_type, n, n_seasons, s_stat, var_s, z,
           CASE WHEN z IS NULL THEN NULL
                WHEN z > 1.959963984540054 THEN 'increasing'
                WHEN z < -1.959963984540054 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z ORDER BY event_type
    """,
    doc="Seasonal Mann-Kendall trend test on daily event counts per "
    "type, seasons = weekday "
    "(operators/series.py:seasonal_mann_kendall; Hirsch-Slack) — "
    "mann_kendall_daily with the weekly cycle CONTROLLED FOR: S and "
    "Var(S) within each weekday, summed (independence additivity, "
    "documented), continuity-corrected z on the totals. Pure "
    "composition over mann_kendall_trend — inherits both kendall "
    "lanes and the shared pair guard",
)
def seasonal_mk_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import seasonal_mann_kendall

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("v"))
    daily = daily.select(
        "event_type",
        # ISO dow − 1 (Mon=0): Spark dayofweek is 1=Sunday
        ((F.dayofweek("day") + 5) % 7).cast("long").alias("season"),
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("t"),
        "v",
    )
    return seasonal_mann_kendall(
        daily, ["event_type"], "t", "v", "season"
    )


@_q(
    "cox_stuart_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    q AS (SELECT event_type AS g, day AS o,
                 CAST(ROUND(v * 1000000, 0) AS BIGINT) AS v
          FROM daily),
    rn AS (SELECT g, v,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY o) AS rn,
                  COUNT(*) OVER (PARTITION BY g) AS n
           FROM q),
    first AS (SELECT g, rn AS i, v AS v1, n FROM rn
              WHERE rn <= CAST(FLOOR(n / 2) AS BIGINT)),
    second AS (SELECT g, rn - (n - CAST(FLOOR(n / 2) AS BIGINT)) AS i,
                      v AS v2
               FROM rn WHERE rn > n - CAST(FLOOR(n / 2) AS BIGINT)),
    pairs AS (SELECT first.g, first.n, v1, v2
              FROM first JOIN second USING (g, i)),
    ag AS (SELECT g, CAST(MAX(n) AS BIGINT) AS n,
                  CAST(COUNT(*) AS BIGINT) AS m_pairs,
                  CAST(SUM(CASE WHEN v2 > v1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_pos,
                  CAST(SUM(CASE WHEN v2 < v1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_neg
           FROM pairs GROUP BY 1)
    SELECT g AS event_type, n, m_pairs, n_pos, n_neg,
           ROUND(CASE WHEN n_pos + n_neg > 0 THEN
                 CAST(n_pos - n_neg AS DOUBLE)
                 / SQRT(CAST(n_pos + n_neg AS DOUBLE)) END, 6) AS z
    FROM ag ORDER BY event_type
    """,
    doc="Cox-Stuart sign test for trend on each event type's daily "
    "mean-value series (operators/series.py:cox_stuart_trend) — the "
    "bluntest trend rung (below mann_kendall in power, above in "
    "simplicity): pair the first half with the second half "
    "positionally, sign-test the differences. One row_number window "
    "over the bounded daily rollup + one positional self-join",
)
def cox_stuart_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import cox_stuart_trend

    daily = _daily_mean_frame(spark, sf_dir)
    return cox_stuart_trend(
        daily.select(
            F.col("event_type").alias("g"), F.col("day").alias("o"), "v"
        ),
        ["g"],
        "o",
        "v",
    ).withColumnRenamed("g", "event_type")


@_q(
    "dispersion_daily_counts",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2),
    ag AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x::HUGEINT) AS s1,
             SUM(x::HUGEINT * x) AS s2
      FROM daily GROUP BY 1),
    m AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
                 CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
                 CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d
          FROM ag),
    fin AS (SELECT event_type, n,
                   s1d / nd AS mean,
                   CASE WHEN n >= 2 THEN
                     (s2d - s1d * s1d / nd) / (nd - 1) END AS variance,
                   nd
            FROM m)
    SELECT event_type, n,
           ROUND(CASE WHEN n >= 1 THEN mean END, 6) AS mean,
           ROUND(variance, 6) AS variance,
           ROUND(CASE WHEN n >= 2 AND mean > 0
                 THEN variance / mean END, 6) AS dispersion,
           ROUND(CASE WHEN n >= 2 AND mean > 0
                 THEN (nd - 1) * variance / mean END, 6) AS chi2
    FROM fin ORDER BY event_type
    """,
    doc="Index of dispersion (variance-to-mean) of daily event "
    "counts per type (operators/series.py:dispersion_index) — the "
    "Poissonness gate BEFORE poisson_rate_halves' rate-ratio z "
    "means anything: D >> 1 = bursts (burstiness_event_types' "
    "distributional cousin), D << 1 = rate limiting. ONE aggregate "
    "over the daily rollup; exact DECIMAL(38,0)/HUGEINT moments",
)
def dispersion_daily_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import dispersion_index

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    return dispersion_index(daily, ["event_type"], "x")


# ---------------------------------------------------------------------------
# Round-11 wave 3: score quality, ordinal agreement, robust location,
# vocabulary economics
# ---------------------------------------------------------------------------


@_q(
    "brier_decomp_events",
    """
    WITH base AS (
      SELECT GREATEST(0, LEAST(1000000,
               CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1000000 + 0.5)
                    AS BIGINT))) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    binned AS (
      SELECT LEAST(19, CAST(FLOOR(p * 20 / 1000000.0) AS BIGINT)) AS b,
             p, y
      FROM base),
    per_bin AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS nk,
             CAST(SUM(p) AS BIGINT) AS sp,
             CAST(SUM(y) AS BIGINT) AS sy,
             SUM((p - y * 1000000)::HUGEINT * (p - y * 1000000)) AS se
      FROM binned GROUP BY 1),
    gl AS (
      SELECT CAST(SUM(nk) AS BIGINT) AS n,
             CAST(SUM(sy) AS BIGINT) AS ty,
             SUM(se) AS tse
      FROM per_bin),
    terms AS (
      SELECT MAX(g.n) AS n, MAX(g.ty) AS ty,
             MAX(CAST(CAST(g.tse AS VARCHAR) AS DOUBLE)) AS tse,
             SUM(pb.nk * POW(CAST(pb.sp AS DOUBLE) / pb.nk / 1e6
                             - CAST(pb.sy AS DOUBLE) / pb.nk, 2))
               AS rel_n,
             SUM(pb.nk * POW(CAST(pb.sy AS DOUBLE) / pb.nk
                             - CAST(g.ty AS DOUBLE) / g.n, 2)) AS res_n
      FROM per_bin pb CROSS JOIN gl g),
    m AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                 CAST(ty AS DOUBLE) / n AS ob,
                 tse, rel_n, res_n
          FROM terms)
    SELECT COALESCE(n, 0) AS n, CAST(20 AS BIGINT) AS n_bins,
           ROUND(CASE WHEN n > 0 THEN ob END, 6) AS base_rate,
           ROUND(CASE WHEN n > 0 THEN tse / nd / 1e12 END, 6) AS brier,
           ROUND(CASE WHEN n > 0 THEN rel_n / nd - res_n / nd
                 + ob * (1 - ob) END, 6) AS brier_binned,
           ROUND(CASE WHEN n > 0 THEN rel_n / nd END, 6) AS reliability,
           ROUND(CASE WHEN n > 0 THEN res_n / nd END, 6) AS resolution,
           ROUND(CASE WHEN n > 0 THEN ob * (1 - ob) END, 6)
             AS uncertainty
    FROM m
    """,
    doc="Murphy decomposition of the Brier score for the synthetic "
    "value->purchase probability "
    "(operators/classify.py:brier_decomposition) — WHY "
    "calibration_brier_events' score is bad: reliability (fixable "
    "by recalibration) vs resolution (needs a better score) vs the "
    "base-rate uncertainty floor; brier - brier_binned = within-bin "
    "forecast variance. The calibration_report micros/bin "
    "discipline verbatim; all bin sums exact",
)
def brier_decomp_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import brier_decomposition

    ev = load_events(spark, sf_dir)
    scored = ev.select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("p"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    return brier_decomposition(scored, "p", "y", n_bins=20)


@_q(
    "youden_purchase_value",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    per_v AS (SELECT v, CAST(SUM(y) AS BIGINT) AS tp,
                     CAST(SUM(1 - y) AS BIGINT) AS tn
              FROM base GROUP BY 1),
    tot AS (SELECT CAST(SUM(tp) AS BIGINT) AS np,
                   CAST(SUM(tn) AS BIGINT) AS nn
            FROM per_v),
    run AS (SELECT v,
                   SUM(tp) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cp,
                   SUM(tn) OVER (ORDER BY v DESC ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cn
            FROM per_v),
    j AS (SELECT run.v, run.cp, run.cn, tot.np, tot.nn,
                 run.cp::HUGEINT * tot.nn - run.cn::HUGEINT * tot.np
                   AS jn
          FROM run CROSS JOIN tot),
    best AS (SELECT * FROM j ORDER BY jn DESC, v ASC LIMIT 1)
    SELECT CAST(np + nn AS BIGINT) AS n,
           np AS n_pos, nn AS n_neg,
           ROUND(CASE WHEN np > 0 AND nn > 0
                 THEN CAST(v AS DOUBLE) / 100.0 END, 6) AS threshold,
           ROUND(CASE WHEN np > 0 AND nn > 0
                 THEN CAST(cp AS DOUBLE) / np END, 6) AS tpr,
           ROUND(CASE WHEN np > 0 AND nn > 0
                 THEN CAST(cn AS DOUBLE) / nn END, 6) AS fpr,
           ROUND(CASE WHEN np > 0 AND nn > 0
                 THEN CAST(cp AS DOUBLE) / np
                      - CAST(cn AS DOUBLE) / nn END, 6) AS youden_j
    FROM best
    """,
    doc="Youden-J-optimal value threshold for flagging purchases "
    "(operators/classify.py:youden_threshold) — the OPERATING POINT "
    "roc_auc_events' area doesn't pick: argmax TPR(t) - FPR(t) over "
    "'predict purchase when value >= t', ties toward the lowest "
    "threshold. Exact integer J numerator cp*Nn - cn*Np off ONE "
    "guarded descending prefix window over distinct cent values; "
    "argmax is a TakeOrdered(1)",
)
def youden_purchase_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import youden_threshold

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
    )
    return youden_threshold(
        ev.select(
            F.col("value").alias("s"),
            (F.col("event_type") == "purchase").alias("y"),
        ),
        "s",
        "y",
        scale=100,
    )


@_q(
    "weighted_kappa_user_value",
    """
    WITH pu AS (
      SELECT user_id,
        ROUND(CAST(SUM(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
              / COUNT(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                      THEN value END), 6) AS x,
        ROUND(CAST(SUM(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                   THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
              / COUNT(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                      THEN value END), 6) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    tiers AS (
      SELECT CASE WHEN x < 50 THEN 0 WHEN x < 150 THEN 1 ELSE 2 END
               AS i,
             CASE WHEN y < 50 THEN 0 WHEN y < 150 THEN 1 ELSE 2 END
               AS j
      FROM pu WHERE x IS NOT NULL AND y IS NOT NULL),
    cells AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) AS f
              FROM tiers GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM cells),
    ma AS (SELECT i, CAST(SUM(f) AS BIGINT) AS fa FROM cells GROUP BY 1),
    mb AS (SELECT j, CAST(SUM(f) AS BIGINT) AS fb FROM cells GROUP BY 1),
    po AS (SELECT SUM(ABS(i - j) / 2.0 * f
                      / (SELECT n FROM tot)) AS po
           FROM cells),
    pe AS (SELECT SUM(ABS(ma.i - mb.j) / 2.0
                      * ma.fa * mb.fb
                      / ((SELECT n FROM tot)::DOUBLE
                         * (SELECT n FROM tot))) AS pe
           FROM ma CROSS JOIN mb)
    SELECT COALESCE((SELECT n FROM tot), 0) AS n,
           CAST(3 AS BIGINT) AS k,
           ROUND((SELECT po FROM po), 6) AS po_w,
           ROUND((SELECT pe FROM pe), 6) AS pe_w,
           ROUND(CASE WHEN (SELECT pe FROM pe) > 0
                 THEN 1.0 - (SELECT po FROM po) / (SELECT pe FROM pe)
                 END, 6) AS kappa_w
    """,
    doc="Linear weighted kappa of each user's value TIER (lo/mid/hi "
    "at the 50/150 literal cuts), first half vs second half "
    "(operators/classify.py:weighted_kappa) — kappa_rule_events' "
    "ordinal upgrade and bowker_user_shift's agreement-strength "
    "complement: disagreeing by one tier is not disagreeing by two. "
    "Exact cells/marginals, k x k expected grid, injected rational "
    "weights",
)
def weighted_kappa_user_value_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.classify import weighted_kappa

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    half = F.to_date("ts") <= F.lit("2024-01-15").cast("date")
    per_u = (
        ev.groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.when(half, F.col("value").cast("decimal(18,6)"))
                ).cast("double")
                / F.count(F.when(half, F.col("value"))),
                6,
            ).alias("x"),
            F.round(
                F.sum(
                    F.when(~half, F.col("value").cast("decimal(18,6)"))
                ).cast("double")
                / F.count(F.when(~half, F.col("value"))),
                6,
            ).alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )

    def tier(c):
        return (
            F.when(F.col(c) < 50, F.lit("lo"))
            .when(F.col(c) < 150, F.lit("mid"))
            .otherwise(F.lit("hi"))
        )

    tiers = per_u.select(tier("x").alias("a"), tier("y").alias("b"))
    return weighted_kappa(tiers, "a", "b", ["lo", "mid", "hi"])


@_q(
    "cohens_h_click_error",
    """
    WITH base AS (
      SELECT event_type = 'click' AS a,
             CASE WHEN value > 100 THEN 1 ELSE 0 END AS y
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
    ag AS (
      SELECT CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN a THEN y END) AS BIGINT) AS ra,
             CAST(SUM(CASE WHEN NOT a THEN y END) AS BIGINT) AS rb
      FROM base),
    m AS (SELECT n_a, n_b,
                 COALESCE(ra, 0) / CAST(n_a AS DOUBLE) AS pa,
                 COALESCE(rb, 0) / CAST(n_b AS DOUBLE) AS pb
          FROM ag)
    SELECT n_a, n_b,
           ROUND(CASE WHEN n_a > 0 THEN pa END, 6) AS p_a,
           ROUND(CASE WHEN n_b > 0 THEN pb END, 6) AS p_b,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN pa - pb END, 6)
             AS risk_diff,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN
                 2 * ASIN(SQRT(pa)) - 2 * ASIN(SQRT(pb)) END, 6)
             AS cohens_h
    FROM m
    """,
    doc="Cohen's h effect size for P(value > 100) between click and "
    "error events (operators/classify.py:cohens_h) — the "
    "proportion-scale companion to cohens_d_purchase_click (means) "
    "and cliffs_delta_click_error (dominance): arcsine-stabilized "
    "difference, constant detectability across the base-rate range. "
    "ONE conditional aggregate",
)
def cohens_h_click_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import cohens_h

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "error")
        & F.col("value").isNotNull()
    )
    return cohens_h(
        ev.select("event_type", (F.col("value") > 100).alias("y")),
        "event_type",
        "click",
        "y",
    )


@_q(
    "biweight_value_types",
    """
    WITH base AS (
      SELECT event_type AS g,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    dist AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
             FROM base GROUP BY 1, 2),
    run AS (SELECT g, v, t,
                   SUM(t) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(t) OVER (PARTITION BY g) AS n
            FROM dist),
    med AS (SELECT g, MIN(v) AS med FROM run
            WHERE cum * 2 >= n GROUP BY 1),
    dev AS (SELECT d.g, ABS(d.v - med.med) AS ad,
                   CAST(SUM(d.t) AS BIGINT) AS t
            FROM dist d JOIN med USING (g) GROUP BY 1, 2),
    rund AS (SELECT g, ad, t,
                    SUM(t) OVER (PARTITION BY g ORDER BY ad ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                    SUM(t) OVER (PARTITION BY g) AS n
             FROM dev),
    mad AS (SELECT g, MIN(ad) AS mad FROM rund
            WHERE cum * 2 >= n GROUP BY 1),
    jm AS (SELECT d.g, d.v, d.t, med.med, mad.mad,
                  CASE WHEN mad.mad > 0 THEN
                    (d.v - med.med) / (6.0 * mad.mad) END AS u
           FROM dist d JOIN med USING (g) JOIN mad USING (g)),
    ag AS (
      SELECT g, CAST(SUM(t) AS BIGINT) AS n,
             MAX(med) AS med, MAX(mad) AS mad,
             SUM(CASE WHEN mad > 0 AND ABS(u) < 1 THEN
                 (v - med) * POW(1 - u * u, 2) * t END) AS num,
             SUM(CASE WHEN mad > 0 AND ABS(u) < 1 THEN
                 POW(1 - u * u, 2) * t END) AS den
      FROM jm GROUP BY 1)
    SELECT g AS event_type, n,
           ROUND(CAST(med AS DOUBLE) / 100.0, 6) AS median,
           ROUND(CAST(mad AS DOUBLE) / 100.0, 6) AS mad,
           ROUND(CASE WHEN mad > 0 AND den > 0
                 THEN (med + num / den) / 100.0
                 ELSE CAST(med AS DOUBLE) / 100.0 END, 6)
             AS biweight_loc
    FROM ag ORDER BY event_type
    """,
    doc="Tukey biweight one-step robust location of event value per "
    "type (operators/relational.py:biweight_location) — the "
    "robust-location rung above the median (trimmed_mean drops a "
    "fixed fraction; the biweight down-weights smoothly, c = 6): "
    "median and MAD are running-count crossings over GUARDED "
    "distinct-cent frames, the weighted fold rides the same reduced "
    "frame — the fact is scanned once",
)
def biweight_value_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import biweight_location

    ev = load_events(spark, sf_dir)
    return biweight_location(
        ev.select(F.col("event_type").alias("g"), "value"), ["g"], "value"
    ).withColumnRenamed("g", "event_type")


@_q(
    "vocab_richness_sources",
    """
    WITH toks AS (
      SELECT source,
             unnest(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
               ' ')) AS tok
      FROM documents),
    counts AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2),
    ag AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis
      FROM counts GROUP BY 1)
    SELECT source, n_tokens, vocab, hapax, dis,
           ROUND(CASE WHEN n_tokens > 0 THEN
                 CAST(hapax AS DOUBLE) / n_tokens END, 6)
             AS gt_unseen_mass,
           ROUND(CASE WHEN vocab > 0 THEN
                 vocab + CAST(hapax AS DOUBLE) * (hapax - 1)
                 / (2.0 * (dis + 1)) END, 6) AS chao1
    FROM ag ORDER BY source
    """,
    doc="Vocabulary richness + unseen-mass estimators per document "
    "source (operators/text.py:vocab_richness) — the 'how much "
    "vocabulary is OUT there' readout next to heaps_law_docs' "
    "growth fit: Good-Turing unseen mass n1/N (keep crawling if "
    "high) and bias-corrected Chao1 total-vocabulary floor "
    "(exhausted if ~V). One (source, token) aggregate + a "
    "frequency-of-frequencies rollup — vocabulary-sized, never "
    "corpus-sized",
)
def vocab_richness_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import vocab_richness

    docs = load(spark, sf_dir, "documents")
    return vocab_richness(docs, "source", "text")


@_q(
    "source_cross_entropy_docs",
    """
    WITH toks AS (
      SELECT source,
             unnest(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
               ' ')) AS tok
      FROM documents),
    counts AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks WHERE tok <> '' GROUP BY 1, 2),
    pool AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cp
             FROM counts GROUP BY 1),
    tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS np,
                   CAST(COUNT(*) AS BIGINT) AS vp
            FROM pool),
    j AS (SELECT counts.source, counts.c, pool.cp, tot.np, tot.vp
          FROM counts JOIN pool USING (tok) CROSS JOIN tot),
    ag AS (
      SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             SUM(c * LN((cp + 0.5) / (np + 0.5 * vp)) / LN(2))
               AS sxp,
             SUM(c * LN(CAST(c AS DOUBLE)) / LN(2)) AS sxs
      FROM j GROUP BY 1),
    m AS (SELECT source, n_tokens, vocab,
                 CAST(n_tokens AS DOUBLE) AS nd, sxp, sxs
          FROM ag),
    fin AS (SELECT source, n_tokens, vocab,
                   -sxp / nd AS h_cross,
                   LN(nd) / LN(2) - sxs / nd AS h_source
            FROM m WHERE n_tokens > 0)
    SELECT source, n_tokens, vocab,
           ROUND(h_source, 6) AS h_source,
           ROUND(h_cross, 6) AS h_cross,
           ROUND(h_cross - h_source, 6) AS kl_vs_pool,
           ROUND(POW(2.0, h_cross), 6) AS ppl_vs_pool
    FROM fin ORDER BY source
    """,
    doc="Per-source cross-entropy (bits/token) against the pooled "
    "add-0.5-smoothed unigram LM "
    "(operators/text.py:source_cross_entropy) — the mixture-audit "
    "number jsd_source_docs' symmetric distance doesn't give: "
    "'this source costs H bits/token under the corpus model', "
    "kl_vs_pool isolates divergence from own entropy, ppl = 2^H is "
    "what a tokenizer/LM budget planner quotes. One (source, token) "
    "aggregate + a pooled rollup reusing it; log folds renormalized "
    "by N_src",
)
def source_cross_entropy_docs_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.text import source_cross_entropy

    docs = load(spark, sf_dir, "documents")
    return source_cross_entropy(docs, "source", "text")


@_q(
    "partial_corr_lineitem",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS DECIMAL(18,6)) AS x,
             CAST(l_extendedprice AS DECIMAL(18,6)) AS y,
             CAST(l_discount AS DECIMAL(18,6)) AS z
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(38,6))) AS sx,
             SUM(CAST(y AS DECIMAL(38,6))) AS sy,
             SUM(CAST(z AS DECIMAL(38,6))) AS sz,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS syy,
             SUM(CAST(CAST(z AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS szz,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(CAST(x AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS sxz,
             SUM(CAST(CAST(y AS DECIMAL(19,6)) * CAST(z AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS syz
      FROM base),
    d AS (SELECT n, CAST(n AS DOUBLE) AS nd,
                 CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
                 CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
                 CAST(CAST(sz AS VARCHAR) AS DOUBLE) AS sz,
                 CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
                 CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy,
                 CAST(CAST(szz AS VARCHAR) AS DOUBLE) AS szz,
                 CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxy,
                 CAST(CAST(sxz AS VARCHAR) AS DOUBLE) AS sxz,
                 CAST(CAST(syz AS VARCHAR) AS DOUBLE) AS syz
          FROM ag),
    rs AS (
      SELECT n,
        ROUND((nd*sxy - sx*sy)
              / SQRT((nd*sxx - sx*sx) * (nd*syy - sy*sy)), 6) AS r_xy,
        ROUND((nd*sxz - sx*sz)
              / SQRT((nd*sxx - sx*sx) * (nd*szz - sz*sz)), 6) AS r_xz,
        ROUND((nd*syz - sy*sz)
              / SQRT((nd*syy - sy*sy) * (nd*szz - sz*sz)), 6) AS r_yz
      FROM d),
    fin AS (
      SELECT *, SQRT((1 - r_xz*r_xz) * (1 - r_yz*r_yz)) AS den
      FROM rs)
    SELECT n, r_xy, r_xz, r_yz,
           ROUND(CASE WHEN den > 0
                 THEN (r_xy - r_xz*r_yz) / den END, 6) AS partial_r
    FROM fin
    """,
    doc="Partial correlation of quantity and extended price "
    "controlling for discount (operators/relational.py:partial_corr) "
    "— the 3-variable confounder check next to q12_correlations' raw "
    "Pearson grid: a raw correlation that collapses when z is "
    "partialled out was z all along. Nine exact DECIMAL moments in "
    "ONE aggregate; each pairwise r rounds to 6 BEFORE composing "
    "(the ljung_box quantize-then-compose convention)",
)
def partial_corr_lineitem_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import partial_corr

    li = load(spark, sf_dir, "lineitem")
    return partial_corr(li, "l_quantity", "l_extendedprice", "l_discount")


@_q(
    "covariate_balance_arms",
    """
    WITH base AS (
      SELECT user_id % 2 = 0 AS a,
             CAST(value AS DECIMAL(18,6)) AS v_value,
             CAST(EXTRACT(DAY FROM CAST(ts AS DATE)) AS DECIMAL(18,6))
               AS v_day
      FROM events WHERE value IS NOT NULL),
    mom AS (
      SELECT
        CAST(COUNT(CASE WHEN a THEN v_value END) AS BIGINT) AS n_a_value,
        SUM(CASE WHEN a THEN CAST(v_value AS DECIMAL(38,6)) END)
          AS s_a_value,
        SUM(CASE WHEN a THEN CAST(v_value * v_value AS DECIMAL(38,12))
            END) AS q_a_value,
        CAST(COUNT(CASE WHEN NOT a THEN v_value END) AS BIGINT)
          AS n_b_value,
        SUM(CASE WHEN NOT a THEN CAST(v_value AS DECIMAL(38,6)) END)
          AS s_b_value,
        SUM(CASE WHEN NOT a THEN
            CAST(v_value * v_value AS DECIMAL(38,12)) END) AS q_b_value,
        CAST(COUNT(CASE WHEN a THEN v_day END) AS BIGINT) AS n_a_day,
        SUM(CASE WHEN a THEN CAST(v_day AS DECIMAL(38,6)) END)
          AS s_a_day,
        SUM(CASE WHEN a THEN CAST(v_day * v_day AS DECIMAL(38,12)) END)
          AS q_a_day,
        CAST(COUNT(CASE WHEN NOT a THEN v_day END) AS BIGINT)
          AS n_b_day,
        SUM(CASE WHEN NOT a THEN CAST(v_day AS DECIMAL(38,6)) END)
          AS s_b_day,
        SUM(CASE WHEN NOT a THEN
            CAST(v_day * v_day AS DECIMAL(38,12)) END) AS q_b_day
      FROM base),
    melted AS (
      SELECT 'day' AS covariate, n_a_day AS n_a, n_b_day AS n_b,
             CAST(CAST(s_a_day AS VARCHAR) AS DOUBLE) AS sa,
             CAST(CAST(q_a_day AS VARCHAR) AS DOUBLE) AS qa,
             CAST(CAST(s_b_day AS VARCHAR) AS DOUBLE) AS sb,
             CAST(CAST(q_b_day AS VARCHAR) AS DOUBLE) AS qb
      FROM mom
      UNION ALL
      SELECT 'value', n_a_value, n_b_value,
             CAST(CAST(s_a_value AS VARCHAR) AS DOUBLE),
             CAST(CAST(q_a_value AS VARCHAR) AS DOUBLE),
             CAST(CAST(s_b_value AS VARCHAR) AS DOUBLE),
             CAST(CAST(q_b_value AS VARCHAR) AS DOUBLE)
      FROM mom),
    m AS (
      SELECT covariate, n_a, n_b,
             CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
             sa / n_a AS ma, sb / n_b AS mb,
             (qa - sa * sa / n_a) / (n_a - 1) AS va,
             (qb - sb * sb / n_b) / (n_b - 1) AS vb
      FROM melted),
    fin AS (
      SELECT covariate, n_a, n_b, ma, mb,
             (va + vb) / 2.0 AS pooled,
             n_a >= 2 AND n_b >= 2 AND (va + vb) / 2.0 > 0 AS ok
      FROM m)
    SELECT covariate, n_a, n_b,
           ROUND(CASE WHEN n_a > 0 THEN ma END, 6) AS mean_a,
           ROUND(CASE WHEN n_b > 0 THEN mb END, 6) AS mean_b,
           ROUND(CASE WHEN ok THEN (ma - mb) / SQRT(pooled) END, 6)
             AS smd,
           CASE WHEN ok THEN
             ABS(ROUND((ma - mb) / SQRT(pooled), 6)) < 0.1 END
             AS balanced
    FROM fin ORDER BY covariate
    """,
    doc="Standardized-mean-difference balance table between the two "
    "user-parity arms over event value and day-of-month "
    "(operators/relational.py:covariate_balance) — the FIRST table "
    "an experiment readout shows (srm_user_arms checks the counts; "
    "this checks the covariates): |SMD| < 0.1 is the conventional "
    "balance line (injected literal). ONE conditional moment "
    "aggregate — covariates widen the projection, not the shuffle — "
    "plus a k-row literal melt",
)
def covariate_balance_arms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import covariate_balance

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    df = ev.select(
        (F.col("user_id") % 2 == 0).alias("arm"),
        F.col("value").alias("value"),
        F.dayofmonth(F.to_date("ts")).alias("day"),
    )
    return covariate_balance(df, "arm", True, False, ["day", "value"])
