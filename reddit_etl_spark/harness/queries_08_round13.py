"""Harness queries (part 8): round-13 registrations.

Wave 1: Lilliefors normality (max-gap companion to ad_normal), Kuiper
cyclic two-sample, Hoeffding's D general dependence, Blomqvist's
medial correlation, the paired sign test, Breslow-Day OR homogeneity
(mantel_haenszel's mandatory companion), total-variation drift, and
categorical feature screening.

Wave 2: the Wilson proportion interval, D'Agostino-Pearson K² omnibus
normality, lag-1 Granger causality, the Chow known-split structural
break, the Wald-Wolfowitz two-sample runs test, the
Baumgartner-Weiß-Schindler two-sample B, and the per-label embedding
centroid profile.

Each pairs a Spark builder with an independent DuckDB oracle per the
package conventions (see __init__ docstring).
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
from ..operators.util import NORM_CDF_SQL, ROUND6_FLOOR_SQL

_PHI_Z = NORM_CDF_SQL.format(z="zc.z")
_PHI_ABS_Z = NORM_CDF_SQL.format(z="ABS(zc.z)")


@_q(
    "lilliefors_values",
    f"""
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    per_v AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t
              FROM base GROUP BY 1),
    mom AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             SUM(t::HUGEINT * v) AS s,
             SUM(t::HUGEINT * v * v) AS q
      FROM per_v),
    cells AS (
      SELECT v, t,
             CAST(COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS c,
             n, s, q
      FROM per_v CROSS JOIN mom),
    zc AS (
      SELECT t, c, n,
             CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
               AS mu,
             SQRT((CAST(CAST(q AS VARCHAR) AS DOUBLE)
                   - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                     * CAST(CAST(s AS VARCHAR) AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1.0)) AS sd,
             (CAST(v AS DOUBLE)
              - CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
             / SQRT((CAST(CAST(q AS VARCHAR) AS DOUBLE)
                     - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                       * CAST(CAST(s AS VARCHAR) AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    / (CAST(n AS DOUBLE) - 1.0)) AS z
      FROM cells),
    gaps AS (
      SELECT n, mu, sd,
             CAST(c + t AS DOUBLE) / n - {_PHI_Z} AS dp,
             {_PHI_Z} - CAST(c AS DOUBLE) / n AS dm
      FROM zc),
    ag AS (
      SELECT MAX(n) AS n, MAX(mu) AS mu, MAX(sd) AS sd,
             MAX(dp) AS dp, MAX(dm) AS dm
      FROM gaps)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(mu / 100, 6) AS mean,
           ROUND(CASE WHEN sd > 0 THEN sd / 100 END, 6) AS sd,
           ROUND(CASE WHEN n >= 4 AND sd > 0 THEN
             GREATEST(dp, dm) END, 6) AS d_stat
    FROM ag
    """,
    doc="Lilliefors one-sample KS statistic of event values against "
    "the FITTED normal (operators/relational.py:lilliefors_normal) "
    "— the max-single-gap companion to ad_normal_values' "
    "tail-weighted integral: passing AD but failing Lilliefors "
    "means one localized distortion, the reverse diffuse tail "
    "thickness. Exact DECIMAL moments, guarded distinct-value "
    "prefix window, shared A-S normal CDF on both engines",
)
def lilliefors_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import lilliefors_normal

    ev = load_events(spark, sf_dir)
    return lilliefors_normal(ev, "value", scale=100)


@_q(
    "kuiper_click_error_hours",
    """
    WITH base AS (
      SELECT CAST(hour(ts) AS BIGINT) AS v,
             (event_type = 'click') AS isa
      FROM events
      WHERE ts IS NOT NULL AND event_type IN ('click', 'error')),
    per_v AS (
      SELECT v,
             CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb
      FROM per_v),
    run AS (
      SELECT SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb, na, nb
      FROM per_v CROSS JOIN tot
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (
      SELECT MAX(na) AS na, MAX(nb) AS nb,
             MAX(cca::HUGEINT * nb - ccb::HUGEINT * na) AS dp,
             MAX(ccb::HUGEINT * na - cca::HUGEINT * nb) AS dm
      FROM run)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(CASE WHEN na > 0 AND nb > 0 THEN
             CAST(CAST(dp AS VARCHAR) AS DOUBLE)
             / (CAST(na AS DOUBLE) * nb) END, 6) AS d_plus,
           ROUND(CASE WHEN na > 0 AND nb > 0 THEN
             CAST(CAST(dm AS VARCHAR) AS DOUBLE)
             / (CAST(na AS DOUBLE) * nb) END, 6) AS d_minus,
           ROUND(CASE WHEN na > 0 AND nb > 0 THEN
             (CAST(CAST(dp AS VARCHAR) AS DOUBLE)
              + CAST(CAST(dm AS VARCHAR) AS DOUBLE))
             / (CAST(na AS DOUBLE) * nb) END, 6) AS kuiper_v
    FROM d
    """,
    doc="Kuiper two-sample test between click and error events over "
    "HOUR-OF-DAY (operators/relational.py:kuiper_two_sample) — the "
    "cyclic-safe KS: V = D+ + D- is invariant to rotating the value "
    "origin, the correct statistic on a circular domain where a "
    "shift straddling midnight quietly drains KS power. Exact "
    "integer cumulative counts, DECIMAL cross-product numerators, "
    "one double division per output",
)
def kuiper_click_error_hours_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import kuiper_two_sample

    ev = load_events(spark, sf_dir).filter(F.col("ts").isNotNull())
    base = ev.select(
        F.hour("ts").cast("long").alias("hr"), "event_type"
    )
    return kuiper_two_sample(base, "hr", "event_type", "click", "error")


@_q(
    "hoeffding_d_lineitem",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL),
    cells AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS f
      FROM base GROUP BY 1, 2),
    per_cell AS (
      SELECT a.x AS x1, a.y AS y1, a.f AS f1,
             COALESCE(SUM(CASE WHEN b.x < a.x AND b.y < a.y
                          THEN b.f END), 0) AS ltlt,
             COALESCE(SUM(CASE WHEN b.x = a.x AND b.y < a.y
                          THEN b.f END), 0) AS eqlt,
             COALESCE(SUM(CASE WHEN b.x < a.x AND b.y = a.y
                          THEN b.f END), 0) AS lteq,
             COALESCE(SUM(CASE WHEN b.x < a.x THEN b.f END), 0) AS ltx,
             COALESCE(SUM(CASE WHEN b.x = a.x THEN b.f END), 0) AS eqx,
             COALESCE(SUM(CASE WHEN b.y < a.y THEN b.f END), 0) AS lty,
             COALESCE(SUM(CASE WHEN b.y = a.y THEN b.f END), 0) AS eqy
      FROM cells a CROSS JOIN cells b
      GROUP BY 1, 2, 3),
    scaled AS (
      SELECT f1,
             4 + 4 * ltlt + 2 * (eqlt + lteq) + (f1 - 1) AS q4,
             2 * ltx + eqx + 1 AS r2,
             2 * lty + eqy + 1 AS s2
      FROM per_cell),
    ag AS (
      SELECT CAST(SUM(f1) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             SUM(f1::HUGEINT * (q4 - 4) * (q4 - 8)) AS d1,
             SUM(f1::HUGEINT * (r2 - 2) * (r2 - 4)
                 * (s2 - 2) * (s2 - 4)) AS d2,
             SUM(f1::HUGEINT * (r2 - 4) * (s2 - 4) * (q4 - 4)) AS d3
      FROM scaled),
    m AS (
      SELECT n, n_cells, CAST(n AS DOUBLE) AS nd,
             COALESCE(CAST(CAST(d1 AS VARCHAR) AS DOUBLE), 0.0) / 16.0
               AS d1d,
             COALESCE(CAST(CAST(d2 AS VARCHAR) AS DOUBLE), 0.0) / 16.0
               AS d2d,
             COALESCE(CAST(CAST(d3 AS VARCHAR) AS DOUBLE), 0.0) / 16.0
               AS d3d
      FROM ag)
    SELECT n, n_cells,
           ROUND(CASE WHEN n >= 5 THEN
             30.0 * ((nd - 2.0) * (nd - 3.0) * d1d + d2d
                     - 2.0 * (nd - 2.0) * d3d)
             / (nd * (nd - 1.0) * (nd - 2.0) * (nd - 3.0) * (nd - 4.0))
             END, 6) AS hoeffding_d
    FROM m
    """,
    doc="Hoeffding's D between l_quantity and l_discount (cents) "
    "(operators/relational.py:hoeffding_d) — GENERAL dependence "
    "where kendall/spearman/ordinal_assoc only score monotone "
    "co-movement: a U-shaped or checkerboard relation scores ~0 on "
    "all of them but is real dependence. Everything folds over the "
    "50x11 cell grid with Hmisc-compatible tie weights as exact "
    "scaled integers (4Q/2R/2S), D-sums x16 in DECIMAL(38,0), one "
    "guarded cells^2 dominance join",
    headline=True,  # round-13 headline add (the guarded cells² shape
    # gets a continuously-watched wall time, as r12 did wasserstein);
    # totals NOT comparable to r12's 22-query total without
    # subtracting its median
)
def hoeffding_d_lineitem_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hoeffding_d

    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("y"),
    )
    return hoeffding_d(base, "x", "y")


@_q(
    "blomqvist_beta_lineitem",
    """
    WITH base AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    med AS (
      SELECT quantile_cont(x, 0.5) AS mx, quantile_cont(y, 0.5) AS my
      FROM base),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN (x > mx AND y > my)
                           OR (x < mx AND y < my)
                      THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN (x > mx AND y < my)
                           OR (x < mx AND y > my)
                      THEN 1 ELSE 0 END) AS BIGINT) AS nd
      FROM base CROSS JOIN med)
    SELECT n,
           CAST(nc + nd AS BIGINT) AS n_used,
           ROUND(CASE WHEN nc + nd > 0 THEN
             CAST(nc - nd AS DOUBLE) / (nc + nd) END, 6) AS beta,
           ROUND(CASE WHEN nc + nd > 0 THEN
             CAST(nc - nd AS DOUBLE) / (nc + nd)
             * SQRT(CAST(nc + nd AS DOUBLE)) END, 6) AS z
    FROM ag
    """,
    doc="Blomqvist's medial correlation between l_quantity and "
    "l_extendedprice (operators/relational.py:blomqvist_beta) — the "
    "cheapest robust dependence number: quadrant concordance around "
    "the two medians, invariant to monotone transforms and tail "
    "outliers; the triage rung before kendall/hoeffding. Medians "
    "via exact interpolated percentile (Spark percentile = DuckDB "
    "quantile_cont), on-median points excluded (standard)",
)
def blomqvist_beta_lineitem_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import blomqvist_beta

    li = load(spark, sf_dir, "lineitem")
    return blomqvist_beta(li, "l_quantity", "l_extendedprice")


@_q(
    "sign_test_user_halves",
    f"""
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
    pairs AS (
      SELECT CAST(ROUND((y - x) * 100, 0) AS BIGINT) AS d
      FROM pu WHERE x IS NOT NULL AND y IS NOT NULL),
    ag AS (
      SELECT CAST(SUM(CASE WHEN d != 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n,
             CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS s_plus
      FROM pairs),
    zc AS (
      SELECT n, n_zero, s_plus,
             SIGN(CAST(s_plus AS DOUBLE) - CAST(n AS DOUBLE) / 2.0)
             * GREATEST(ABS(CAST(s_plus AS DOUBLE)
                            - CAST(n AS DOUBLE) / 2.0) - 0.5, 0.0)
             / (0.5 * SQRT(CAST(n AS DOUBLE))) AS z
      FROM ag)
    SELECT COALESCE(n, 0) AS n, n_zero, s_plus,
           ROUND(CASE WHEN n > 0 THEN z END, 6) + 0.0 AS z,
           ROUND(CASE WHEN n > 0 THEN
             LEAST(1.0, 2.0 * (1.0 - {_PHI_ABS_Z})) END, 6) AS p_value
    FROM zc
    """,
    doc="Paired sign test of per-user mean event value, first half vs "
    "second half (operators/relational.py:sign_test_paired) — the "
    "assumption-free floor under wilcoxon_user_halves: only the "
    "SIGN of each within-pair difference, so no symmetry premise; "
    "the right readout when the difference distribution is skewed "
    "enough to invalidate Wilcoxon. Binomial(n, 1/2) normal "
    "approximation with continuity correction, p via the shared "
    "A-S normal CDF",
)
def sign_test_user_halves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import sign_test_paired

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    split = F.lit("2024-01-15").cast("date")
    pre = F.when(F.to_date("ts") <= split, F.col("value"))
    post = F.when(F.to_date("ts") > split, F.col("value"))
    pu = ev.groupBy("user_id").agg(
        F.round(
            F.sum(pre.cast("decimal(18,6)")).cast("double") / F.count(pre),
            6,
        ).alias("x"),
        F.round(
            F.sum(post.cast("decimal(18,6)")).cast("double")
            / F.count(post),
            6,
        ).alias("y"),
    )
    return sign_test_paired(
        pu.filter(F.col("x").isNotNull() & F.col("y").isNotNull()),
        "x",
        "y",
        scale=100,
    )


@_q(
    "breslow_day_priority",
    """
    WITH base AS (
      SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
             o_orderpriority IN ('1-URGENT', '2-HIGH') AS e,
             o_totalprice > 250000 AS o
      FROM orders),
    per_s AS (
      SELECT yr,
             CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM base GROUP BY 1),
    mh AS (
      SELECT CAST(SUM(a + b + c + d) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_strata,
             SUM(CASE WHEN a + b + c + d > 0 THEN
                 CAST(a AS DOUBLE) * d / (a + b + c + d) END) AS r,
             SUM(CASE WHEN a + b + c + d > 0 THEN
                 CAST(b AS DOUBLE) * c / (a + b + c + d) END) AS s
      FROM per_s),
    j AS (
      SELECT p.*, mh.n, mh.n_strata, mh.r, mh.s, mh.r / mh.s AS orm,
             CAST(p.a + p.b AS DOUBLE) AS m1,
             CAST(p.c + p.d AS DOUBLE) AS m0,
             CAST(p.a + p.c AS DOUBLE) AS n1,
             CAST(p.a + p.b + p.c + p.d AS DOUBLE) AS nt
      FROM per_s p CROSS JOIN mh),
    ev AS (
      SELECT *,
             CASE WHEN ABS(orm - 1.0) < 1e-12 THEN m1 * n1 / nt
                  ELSE (orm * (m1 + n1) + (m0 - n1)
                        - SQRT((orm * (m1 + n1) + (m0 - n1))
                               * (orm * (m1 + n1) + (m0 - n1))
                               - 4.0 * (orm - 1.0) * orm * m1 * n1))
                       / (2.0 * (orm - 1.0)) END AS e_a,
             a + b > 0 AND c + d > 0 AND a + c > 0 AND b + d > 0
               AND s > 0 AND r > 0 AS usable
      FROM j),
    terms AS (
      SELECT n, n_strata, orm, usable,
             (CAST(a AS DOUBLE) - e_a) * (CAST(a AS DOUBLE) - e_a)
             * (1.0 / e_a + 1.0 / (m1 - e_a) + 1.0 / (n1 - e_a)
                + 1.0 / (m0 - n1 + e_a)) AS term
      FROM ev),
    ag AS (
      SELECT MAX(n) AS n, MAX(n_strata) AS n_strata,
             CAST(SUM(CASE WHEN usable THEN 1 ELSE 0 END) AS BIGINT)
               AS n_used,
             MAX(CASE WHEN s > 0 THEN orm END) AS orm,
             SUM(CASE WHEN usable THEN term END) AS bd
      FROM (SELECT t.*, e2.s FROM terms t
            CROSS JOIN (SELECT MAX(s) AS s FROM mh) e2))
    SELECT CAST(n AS BIGINT) AS n, CAST(n_strata AS BIGINT) AS n_strata,
           n_used,
           ROUND(orm, 6) AS or_mh,
           ROUND(CASE WHEN n_used >= 2 THEN bd END, 6) AS bd_stat,
           CASE WHEN n_used >= 2 THEN CAST(n_used - 1 AS BIGINT) END
             AS dof
    FROM ag
    """,
    doc="Breslow-Day homogeneity of the (high priority -> high value) "
    "odds ratio across order YEARS "
    "(operators/relational.py:breslow_day) — "
    "mantel_haenszel_priority's mandatory companion on the SAME "
    "cells: the pooled or_mh is only meaningful if stratum ORs are "
    "homogeneous, and BD chi2(strata-1) tests exactly that via the "
    "quadratic-root expected a-cell under the common OR. Exact "
    "integer cells, libm-free (sqrt only), degenerate strata drop "
    "from fold AND df on both engines",
)
def breslow_day_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import breslow_day

    orders = load(spark, sf_dir, "orders")
    df = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("e"),
        (F.col("o_totalprice") > 250000).alias("o"),
    )
    return breslow_day(df, ["yr"], "e", "o")


@_q(
    "tvd_value_drift",
    """
    WITH base AS (
      SELECT CAST(isodow(ts) - 1 AS BIGINT) AS wd, value AS v,
             (event_type = 'click') AS isa
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
    per_v AS (
      SELECT wd, v,
             CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT) AS cb
      FROM base GROUP BY wd, v),
    c AS (
      SELECT wd, ca, cb,
             SUM(ca) OVER (PARTITION BY wd) AS na,
             SUM(cb) OVER (PARTITION BY wd) AS nb
      FROM per_v),
    ag AS (
      SELECT wd, CAST(MAX(na) AS BIGINT) AS n_a,
             CAST(MAX(nb) AS BIGINT) AS n_b,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             SUM(ABS(ca::HUGEINT * nb - cb::HUGEINT * na)) AS s
      FROM c GROUP BY wd)
    SELECT wd AS weekday, n_a, n_b, n_values,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN
             CAST(CAST(s AS VARCHAR) AS DOUBLE)
             / (2.0 * CAST(n_a AS DOUBLE) * n_b) END, 6) AS tvd
    FROM ag ORDER BY weekday
    """,
    doc="Total variation distance between click and view value "
    "distributions per weekday "
    "(operators/relational.py:tvd_two_sample) — the bluntest drift "
    "number over the cvm_value_drift framing: TVD IS the largest "
    "probability mass any event can disagree on, the number a "
    "drift SLO is written against directly. Exact integer cells, "
    "DECIMAL cross-product numerators, ONE double division per "
    "group",
)
def tvd_value_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import tvd_two_sample

    ev = load_events(spark, sf_dir)
    base = ev.select(
        F.weekday("ts").cast("long").alias("weekday"),
        "value",
        "event_type",
    )
    return tvd_two_sample(
        base, ["weekday"], "value", "event_type", "click", "view"
    )


@_q(
    "feature_screen_orders",
    """
    WITH melted AS (
      SELECT 'o_orderpriority' AS feature,
             CAST(o_orderpriority AS VARCHAR) AS value,
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END AS y
      FROM orders WHERE o_totalprice IS NOT NULL
        AND o_orderpriority IS NOT NULL
      UNION ALL
      SELECT 'o_orderstatus',
             CAST(o_orderstatus AS VARCHAR),
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END
      FROM orders WHERE o_totalprice IS NOT NULL
        AND o_orderstatus IS NOT NULL
      UNION ALL
      SELECT 'order_year',
             CAST(EXTRACT(YEAR FROM o_orderdate) AS VARCHAR),
             CASE WHEN o_totalprice > 250000 THEN 1 ELSE 0 END
      FROM orders WHERE o_totalprice IS NOT NULL
        AND o_orderdate IS NOT NULL),
    cells AS (
      SELECT feature, value,
             CAST(COUNT(*) AS BIGINT) AS nv,
             CAST(SUM(y) AS BIGINT) AS pv
      FROM melted GROUP BY 1, 2),
    folds AS (
      SELECT feature,
             CAST(SUM(nv) AS BIGINT) AS n,
             CAST(SUM(pv) AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             SUM(CAST(nv AS DOUBLE) * (
               -(CASE WHEN pv > 0 AND pv < nv THEN
                   (CAST(pv AS DOUBLE) / nv)
                   * LN(CAST(pv AS DOUBLE) / nv) / 0.6931471805599453
                 ELSE 0.0 END
                 + CASE WHEN pv > 0 AND pv < nv THEN
                   (1.0 - CAST(pv AS DOUBLE) / nv)
                   * LN(1.0 - CAST(pv AS DOUBLE) / nv)
                   / 0.6931471805599453
                 ELSE 0.0 END))) AS hc,
             SUM(CAST(nv AS DOUBLE) * 2.0 * (CAST(pv AS DOUBLE) / nv)
                 * (1.0 - CAST(pv AS DOUBLE) / nv)) AS gc
      FROM cells GROUP BY 1),
    lab AS (
      SELECT feature, n, n_values, hc, gc,
             CAST(pos AS DOUBLE) / n AS p,
             pos > 0 AND pos < n AS ok
      FROM folds),
    fin AS (
      SELECT feature, n, n_values, hc, gc, ok,
             -(CASE WHEN ok THEN p * LN(p) / 0.6931471805599453
               ELSE 0.0 END
               + CASE WHEN ok THEN
                 (1.0 - p) * LN(1.0 - p) / 0.6931471805599453
               ELSE 0.0 END) AS hl,
             2.0 * p * (1.0 - p) AS gl
      FROM lab)
    SELECT feature, n, n_values,
           ROUND(hl, 6) AS h_label,
           ROUND(CASE WHEN ok THEN hl - hc / n END, 6) AS info_gain,
           ROUND(CASE WHEN ok THEN gl - gc / n END, 6) AS gini_drop
    FROM fin ORDER BY feature
    """,
    doc="Categorical-feature screening of (priority, status, order "
    "year) against the high-value-order label "
    "(operators/classify.py:feature_screening) — one-pass triage "
    "BEFORE any model: information gain and Gini impurity drop per "
    "feature rank which columns deserve a decision_stump/woe_iv "
    "look. A literal stack melt means the fact is scanned ONCE for "
    "all features; exact integer cells, entropy-family ln/ln2 "
    "discipline",
)
def feature_screen_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import feature_screening

    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    df = orders.select(
        "o_orderpriority",
        "o_orderstatus",
        F.year("o_orderdate").alias("order_year"),
        (F.col("o_totalprice") > 250000).alias("high_value"),
    )
    return feature_screening(
        df,
        ["o_orderpriority", "o_orderstatus", "order_year"],
        "high_value",
    )


# ---------------------------------------------------------------------------
# round-13 wave 2: two-sample mechanisms (BWS, runs), predictive/structural
# regression readouts (Granger lag-1, Chow), omnibus normality (D'Agostino),
# the Wilson proportion interval, and the per-label embedding centroid
# profile. Each new registration displaces one stale-attestation filler
# from the head (judge r12 #3 discipline).
# ---------------------------------------------------------------------------


@_q(
    "wilson_ci_events",
    """
    WITH ag AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= 30.0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1),
    m AS (
      SELECT event_type, n, k,
             CAST(k AS DOUBLE) / n AS p,
             1.959963984540054 * 1.959963984540054 AS z2,
             CAST(n AS DOUBLE) AS nd
      FROM ag),
    w AS (
      SELECT event_type, n, k, p,
             (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
             1.959963984540054 / (1.0 + z2 / nd)
               * SQRT(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
               AS half
      FROM m)
    SELECT event_type, n, k,
           ROUND(p, 6) AS p_hat,
           ROUND(GREATEST(0.0, center - half), 6) AS lo,
           ROUND(LEAST(1.0, center + half), 6) AS hi
    FROM w ORDER BY event_type
    """,
    doc="Wilson score interval for each event type's share of "
    "value >= 30 (operators/relational.py:wilson_ci) — the INTERVAL "
    "rung of the proportion family next to odds_ratio "
    "(association), cohens_h (effect size) and eb_urgent_rates "
    "(shrinkage): never escapes [0,1], calibrated at small n and "
    "extreme p. ONE conditional aggregate, no window, no join",
)
def wilson_ci_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import wilson_ci

    ev = load_events(spark, sf_dir)
    df = ev.select(
        "event_type", (F.col("value") >= 30.0).alias("hit")
    ).filter(F.col("value").isNotNull())
    return wilson_ci(df, ["event_type"], "hit")


@_q(
    "dagostino_k2_values",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(c::HUGEINT) AS s1,
             SUM(c::HUGEINT * c) AS s2,
             SUM(c::HUGEINT * c * c) AS s3,
             SUM(c::HUGEINT * c * c * c) AS s4
      FROM base),
    d AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS s3,
             CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS s4
      FROM mom),
    m AS (
      SELECT n, nd, s1 / nd AS mu, s2, s3, s4 FROM d),
    cm AS (
      SELECT n, nd, mu,
             s2 / nd - mu * mu AS m2,
             s3 / nd - 3.0 * mu * s2 / nd + 2.0 * mu * mu * mu AS m3,
             s4 / nd - 4.0 * mu * s3 / nd
               + 6.0 * mu * mu * s2 / nd
               - 3.0 * mu * mu * mu * mu AS m4
      FROM m),
    gb AS (
      SELECT n, nd, m2,
             m3 / SQRT(m2 * m2 * m2) AS g1,
             m4 / (m2 * m2) AS b2
      FROM cm),
    sk AS (
      SELECT n, nd, m2, g1, b2,
             g1 * SQRT((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
               AS y,
             3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0)
               * (nd + 3.0)
               / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
               AS beta2
      FROM gb),
    sk2 AS (
      SELECT n, nd, m2, g1, b2, y,
             SQRT(2.0 * (beta2 - 1.0)) - 1.0 AS w2
      FROM sk),
    sk3 AS (
      SELECT n, nd, m2, g1, b2,
             1.0 / SQRT(LN(SQRT(w2))) AS delta,
             y / SQRT(2.0 / (w2 - 1.0)) AS ya
      FROM sk2),
    z1c AS (
      SELECT n, nd, m2, g1, b2,
             delta * LN(ya + SQRT(ya * ya + 1.0)) AS z1
      FROM sk3),
    kt AS (
      SELECT n, nd, m2, g1, b2, z1,
             3.0 * (nd - 1.0) / (nd + 1.0) AS eb2,
             24.0 * nd * (nd - 2.0) * (nd - 3.0)
               / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
               AS vb2,
             6.0 * (nd * nd - 5.0 * nd + 2.0)
               / ((nd + 7.0) * (nd + 9.0))
               * SQRT(6.0 * (nd + 3.0) * (nd + 5.0)
                      / (nd * (nd - 2.0) * (nd - 3.0))) AS sb1
      FROM z1c),
    kt2 AS (
      SELECT n, nd, m2, g1, b2, z1,
             (b2 - eb2) / SQRT(vb2) AS x,
             6.0 + 8.0 / sb1
               * (2.0 / sb1 + SQRT(1.0 + 4.0 / (sb1 * sb1))) AS a
      FROM kt),
    kt3 AS (
      SELECT n, nd, m2, g1, b2, z1, a,
             1.0 + x * SQRT(2.0 / (a - 4.0)) AS innr
      FROM kt2),
    z2c AS (
      SELECT n, m2, g1, b2, z1, innr,
             ((1.0 - 2.0 / (9.0 * a))
              - CBRT((1.0 - 2.0 / a) / innr))
             / SQRT(2.0 / (9.0 * a)) AS z2
      FROM kt3),
    fin AS (
      SELECT n, g1, b2, z1, z2, z1 * z1 + z2 * z2 AS k2,
             n >= 20 AND m2 > 0.0 AS ok,
             n >= 20 AND m2 > 0.0 AND innr <> 0.0 AS ok2
      FROM z2c)
    SELECT n,
           ROUND(CASE WHEN ok THEN g1 END, 6) AS skew,
           ROUND(CASE WHEN ok THEN b2 - 3.0 END, 6) AS kurt_excess,
           ROUND(CASE WHEN ok THEN z1 END, 6) AS z_skew,
           ROUND(CASE WHEN ok2 THEN z2 END, 6) AS z_kurt,
           ROUND(CASE WHEN ok2 THEN k2 END, 6) AS k2,
           ROUND(CASE WHEN ok2 THEN EXP(-k2 / 2.0) END, 6) AS p_k2
    FROM fin
    """,
    doc="D'Agostino-Pearson K² omnibus normality of event values "
    "(operators/relational.py:dagostino_k2) — the TRANSFORMED-"
    "moment rung next to jarque_bera (raw g1/g2, needs n in the "
    "thousands), ad_normal (CDF integral) and lilliefors (max gap): "
    "Johnson-SU skewness z + Anscombe-Glynn kurtosis z, each "
    "~N(0,1) at moderate n, K² ~ χ²(2) with exact closed-form "
    "p = exp(−K²/2). ONE exact DECIMAL(38,0) S1..S4 power-sum "
    "aggregate; scale-invariant ratios — cents never descale",
)
def dagostino_k2_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import dagostino_k2

    ev = load_events(spark, sf_dir)
    return dagostino_k2(ev, "value", scale=100)


@_q(
    "granger_lag1_daily",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                  END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                  END) AS BIGINT) AS y
      FROM events
      WHERE ts IS NOT NULL AND event_type IN ('click', 'error')
      GROUP BY 1),
    idx AS (
      SELECT date_diff('day', DATE '2024-01-01', d) AS t, x, y
      FROM daily),
    pairs AS (
      SELECT c.y AS y, p.y AS u, p.x AS w
      FROM idx c JOIN idx p ON c.t = p.t + 1),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(y::HUGEINT) AS sy, SUM(u::HUGEINT) AS su,
             SUM(w::HUGEINT) AS sw,
             SUM(y::HUGEINT * y) AS syy, SUM(u::HUGEINT * u) AS suu,
             SUM(w::HUGEINT * w) AS sww, SUM(y::HUGEINT * u) AS syu,
             SUM(y::HUGEINT * w) AS syw, SUM(u::HUGEINT * w) AS suw
      FROM pairs),
    d AS (
      SELECT n_pairs, CAST(n_pairs AS DOUBLE) AS nd,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(su AS VARCHAR) AS DOUBLE) AS su,
             CAST(CAST(sw AS VARCHAR) AS DOUBLE) AS sw,
             CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(suu AS VARCHAR) AS DOUBLE) AS suu,
             CAST(CAST(sww AS VARCHAR) AS DOUBLE) AS sww,
             CAST(CAST(syu AS VARCHAR) AS DOUBLE) AS syu,
             CAST(CAST(syw AS VARCHAR) AS DOUBLE) AS syw,
             CAST(CAST(suw AS VARCHAR) AS DOUBLE) AS suw
      FROM mom),
    c AS (
      SELECT n_pairs, nd,
             syy - sy * sy / nd AS cyy,
             suu - su * su / nd AS cuu,
             sww - sw * sw / nd AS cww,
             syu - sy * su / nd AS cyu,
             syw - sy * sw / nd AS cyw,
             suw - su * sw / nd AS cuw
      FROM d),
    s AS (
      SELECT n_pairs, nd, cyy, cuu, cyu, cyw,
             cuu * cww - cuw * cuw AS det,
             (cyu * cww - cyw * cuw) / (cuu * cww - cuw * cuw) AS b,
             (cyw * cuu - cyu * cuw) / (cuu * cww - cuw * cuw) AS cc
      FROM c),
    f AS (
      SELECT n_pairs, nd, det, cuu, b, cc,
             cyy - b * cyu - cc * cyw AS ssr_f,
             cyy - cyu * cyu / cuu AS ssr_r
      FROM s),
    fin AS (
      SELECT n_pairs, b, cc, ssr_r, ssr_f,
             (ssr_r - ssr_f) * (nd - 3.0) / ssr_f AS f_stat,
             n_pairs >= 4 AND det > 0.0 AND cuu > 0.0 AS ok,
             n_pairs >= 4 AND det > 0.0 AND cuu > 0.0
               AND ssr_f > 0.0 AS okf
      FROM f)
    SELECT n_pairs,
           ROUND(CASE WHEN ok THEN b END, 6) AS beta_lag_y,
           ROUND(CASE WHEN ok THEN cc END, 6) AS beta_lag_x,
           ROUND(CASE WHEN ok THEN ssr_r END, 6) AS ssr_r,
           ROUND(CASE WHEN ok THEN ssr_f END, 6) AS ssr_f,
           ROUND(CASE WHEN okf THEN f_stat END, 6) AS f_stat
    FROM fin
    """,
    doc="Lag-1 Granger causality: do yesterday's CLICK counts "
    "improve today's ERROR-count forecast beyond yesterday's errors "
    "(operators/series.py:granger_lag1) — the PREDICTIVE rung next "
    "to ccf_click_error_daily (symmetric lagged correlation) and "
    "diebold_mariano (forecast comparison); restricted-vs-full "
    "closed-form OLS F on the calendar-bounded daily frame, all ten "
    "moments exact DECIMAL(38,0)",
)
def granger_lag1_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import granger_lag1

    ev = load_events(spark, sf_dir).filter(
        F.col("ts").isNotNull()
        & F.col("event_type").isin("click", "error")
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("y"),
    )
    daily = daily.select(
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date")).alias(
            "t"
        ),
        "x",
        "y",
    )
    return granger_lag1(daily, "t", "y", "x")


@_q(
    "chow_break_daily",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE))
               AS t,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    mom AS (
      SELECT
        CAST(SUM(CASE WHEN t <= 15 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_1,
        SUM(CASE WHEN t <= 15 THEN t::HUGEINT END) AS st1,
        SUM(CASE WHEN t <= 15 THEN t::HUGEINT * t END) AS stt1,
        SUM(CASE WHEN t <= 15 THEN y::HUGEINT END) AS sy1,
        SUM(CASE WHEN t <= 15 THEN t::HUGEINT * y END) AS sty1,
        SUM(CASE WHEN t <= 15 THEN y::HUGEINT * y END) AS syy1,
        CAST(SUM(CASE WHEN t > 15 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_2,
        SUM(CASE WHEN t > 15 THEN t::HUGEINT END) AS st2,
        SUM(CASE WHEN t > 15 THEN t::HUGEINT * t END) AS stt2,
        SUM(CASE WHEN t > 15 THEN y::HUGEINT END) AS sy2,
        SUM(CASE WHEN t > 15 THEN t::HUGEINT * y END) AS sty2,
        SUM(CASE WHEN t > 15 THEN y::HUGEINT * y END) AS syy2
      FROM daily),
    d AS (
      SELECT n_1, n_2,
             CAST(n_1 AS DOUBLE) AS nd1, CAST(n_2 AS DOUBLE) AS nd2,
             COALESCE(CAST(CAST(st1 AS VARCHAR) AS DOUBLE), 0.0) AS st1,
             COALESCE(CAST(CAST(stt1 AS VARCHAR) AS DOUBLE), 0.0) AS stt1,
             COALESCE(CAST(CAST(sy1 AS VARCHAR) AS DOUBLE), 0.0) AS sy1,
             COALESCE(CAST(CAST(sty1 AS VARCHAR) AS DOUBLE), 0.0) AS sty1,
             COALESCE(CAST(CAST(syy1 AS VARCHAR) AS DOUBLE), 0.0) AS syy1,
             COALESCE(CAST(CAST(st2 AS VARCHAR) AS DOUBLE), 0.0) AS st2,
             COALESCE(CAST(CAST(stt2 AS VARCHAR) AS DOUBLE), 0.0) AS stt2,
             COALESCE(CAST(CAST(sy2 AS VARCHAR) AS DOUBLE), 0.0) AS sy2,
             COALESCE(CAST(CAST(sty2 AS VARCHAR) AS DOUBLE), 0.0) AS sty2,
             COALESCE(CAST(CAST(syy2 AS VARCHAR) AS DOUBLE), 0.0) AS syy2
      FROM mom),
    seg AS (
      SELECT n_1, n_2, nd1, nd2,
             st1, stt1, sy1, sty1, syy1, st2, stt2, sy2, sty2, syy2,
             stt1 - st1 * st1 / nd1 AS ctt1,
             sty1 - st1 * sy1 / nd1 AS cty1,
             syy1 - sy1 * sy1 / nd1 AS cyy1,
             stt2 - st2 * st2 / nd2 AS ctt2,
             sty2 - st2 * sy2 / nd2 AS cty2,
             syy2 - sy2 * sy2 / nd2 AS cyy2,
             nd1 + nd2 AS nd
      FROM d),
    pool AS (
      SELECT n_1, n_2, nd, ctt1, cty1, ctt2, cty2,
             cty1 / ctt1 AS slope_1,
             cty2 / ctt2 AS slope_2,
             cyy1 - cty1 * cty1 / ctt1 AS ssr1,
             cyy2 - cty2 * cty2 / ctt2 AS ssr2,
             (stt1 + stt2) - (st1 + st2) * (st1 + st2) / nd AS cttp,
             (sty1 + sty2) - (st1 + st2) * (sy1 + sy2) / nd AS ctyp,
             (syy1 + syy2) - (sy1 + sy2) * (sy1 + sy2) / nd AS cyyp
      FROM seg),
    fin AS (
      SELECT n_1, n_2, slope_1, slope_2, ssr1, ssr2,
             ctyp / cttp AS slope_pooled,
             cyyp - ctyp * ctyp / cttp AS ssr_p,
             n_1 >= 3 AND n_2 >= 3 AND ctt1 > 0.0 AND ctt2 > 0.0
               AND cttp > 0.0 AS ok,
             nd
      FROM pool)
    SELECT n_1, n_2,
           ROUND(CASE WHEN ok THEN slope_1 END, 6) AS slope_1,
           ROUND(CASE WHEN ok THEN slope_2 END, 6) AS slope_2,
           ROUND(CASE WHEN ok THEN slope_pooled END, 6)
             AS slope_pooled,
           ROUND(CASE WHEN ok AND ssr1 + ssr2 > 0.0 THEN
             (ssr_p - ssr1 - ssr2) / 2.0
             / ((ssr1 + ssr2) / (nd - 4.0)) END, 6) AS f_stat
    FROM fin
    """,
    doc="Chow structural-break F at the KNOWN mid-month split (day "
    "15) of the daily cent-sum value trend "
    "(operators/series.py:chow_test) — the parametric rung of the "
    "change-point family next to pettitt (rank, unknown point), "
    "sse_changepoint (SSE scan) and cusum/page_hinkley (sequential): "
    "per-segment OLS vs pooled, ONE conditional exact-moment "
    "aggregate over the calendar-bounded daily frame",
)
def chow_break_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import chow_test

    ev = load_events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("y")
    )
    daily = daily.select(
        F.datediff(F.col("d"), F.lit("2023-12-31").cast("date")).alias(
            "t"
        ),
        "y",
    )
    return chow_test(daily, "t", "y", 15)


_PHI_NEG_ABS_Z = NORM_CDF_SQL.format(z="-ABS(zz)")


@_q(
    "ww_runs_click_error",
    f"""
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
    per_v AS (
      SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
             CAST(SUM(1 - a) AS BIGINT) AS cb
      FROM base GROUP BY 1),
    blocks AS (
      SELECT ca, cb,
             (CASE WHEN ca > 0 THEN 1 ELSE 0 END
              + CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS r_in,
             CASE WHEN ca > 0 THEN 1 ELSE 0 END AS firstc,
             LAG(CASE WHEN cb > 0 THEN 0 ELSE 1 END)
               OVER (ORDER BY v) AS prev_last
      FROM per_v),
    ag AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
             CAST(SUM(cb) AS BIGINT) AS n_b,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(r_in)
                  - SUM(CASE WHEN prev_last = firstc THEN 1 ELSE 0
                        END) AS BIGINT) AS runs
      FROM blocks),
    m AS (
      SELECT n_a, n_b, n_values, runs,
             CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn
      FROM ag),
    s AS (
      SELECT n_a, n_b, n_values, runs, na, nb, nn,
             1.0 + 2.0 * na * nb / nn AS mu,
             2.0 * na * nb * (2.0 * na * nb - nn)
               / (nn * nn * (nn - 1.0)) AS var
      FROM m),
    zc AS (
      SELECT n_a, n_b, n_values, runs, mu, var,
             (CAST(runs AS DOUBLE) - mu) / SQRT(var) AS zz
      FROM s)
    SELECT n_a, n_b, n_values,
           CASE WHEN n_a > 0 AND n_b > 0 THEN runs END AS runs,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN mu END, 6) AS mu,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 AND var > 0.0
                 THEN zz END, 6) AS z,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 AND var > 0.0
                 THEN 2.0 * {_PHI_NEG_ABS_Z} END, 6) AS p
    FROM zc
    """,
    doc="Wald-Wolfowitz two-sample runs test between click and "
    "error values (operators/relational.py:runs_two_sample) — the "
    "RUNS-mechanism rung next to mann_whitney (rank location), "
    "ansari_bradley (rank scale) and ks/cvm/ad2/bws (CDF "
    "distance): counts maximal same-class runs in the pooled "
    "(value, click-first) order — ties pinned by that documented "
    "convention. Exact integer run count off the distinct pooled "
    "frame, one guarded lag window, shared A-S Φ p-value",
)
def ww_runs_click_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import runs_two_sample

    ev = load_events(spark, sf_dir)
    return runs_two_sample(
        ev.filter(F.col("event_type").isin("click", "error")).select(
            "value", "event_type"
        ),
        "value",
        "event_type",
        "click",
    )


@_q(
    "bws_click_error",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
    per_v AS (
      SELECT v, CAST(SUM(a) AS BIGINT) AS ca,
             CAST(COUNT(*) AS BIGINT) AS l
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(l) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM per_v),
    cum AS (
      SELECT v, ca, l,
             COALESCE(SUM(ca) OVER w, 0) AS cfa,
             COALESCE(SUM(l) OVER w, 0) AS cfl
      FROM per_v
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    melt AS (
      SELECT 'a' AS side, ca AS cnt, cfa AS cum_own,
             2 * cfl + l + 1 AS two_r,
             t.na AS n_own, t.n - t.na AS n_other,
             t.n AS nn, t.n_values, t.na
      FROM cum CROSS JOIN tot t WHERE ca > 0
      UNION ALL
      SELECT 'b', l - ca, cfl - cfa, 2 * cfl + l + 1,
             t.n - t.na, t.na, t.n, t.n_values, t.na
      FROM cum CROSS JOIN tot t WHERE l - ca > 0),
    ks AS (
      SELECT side, two_r, n_own, n_other, nn, n_values, na,
             unnest(generate_series(CAST(cum_own + 1 AS BIGINT),
                    CAST(cum_own + cnt AS BIGINT))) AS k
      FROM melt),
    terms AS (
      SELECT side, n_values, na, nn,
             (n_own::HUGEINT * two_r - 2::HUGEINT * nn * k) AS d,
             (k::HUGEINT * (n_own + 1 - k)) AS kt,
             CAST(n_own AS DOUBLE) AS nod,
             CAST(n_other AS DOUBLE) AS notd,
             CAST(nn AS DOUBLE) AS nnd
      FROM ks),
    summed AS (
      SELECT MAX(na) AS n_a, MAX(nn - na) AS n_b,
             MAX(n_values) AS n_values,
             SUM(CASE WHEN side = 'a' THEN
               CAST(CAST(d * d AS VARCHAR) AS DOUBLE)
               / CAST(CAST(kt AS VARCHAR) AS DOUBLE)
               * ((nod + 1.0) * (nod + 1.0)
                  / (4.0 * nod * nod * notd * nnd)) END) AS bx,
             SUM(CASE WHEN side = 'b' THEN
               CAST(CAST(d * d AS VARCHAR) AS DOUBLE)
               / CAST(CAST(kt AS VARCHAR) AS DOUBLE)
               * ((nod + 1.0) * (nod + 1.0)
                  / (4.0 * nod * nod * notd * nnd)) END) AS byy
      FROM terms)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_values AS BIGINT) AS n_values,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN bx END, 6)
             AS b_x,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN byy END, 6)
             AS b_y,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 THEN (bx + byy) / 2.0
                 END, 6) AS b
    FROM summed
    """,
    doc="Baumgartner-Weiß-Schindler two-sample B between click and "
    "error values (operators/relational.py:bws_two_sample) — the "
    "VARIANCE-NORMALIZED rung of the two-sample CDF family next to "
    "ks (max gap), cvm (uniform integral) and ad2 (tail-weighted "
    "integral): each rank discrepancy divided by its own null "
    "variance, midrank ties. Exact DECIMAL(38,0) term integers off "
    "the distinct pooled frame; chunked sequence explode back to "
    "one row per order statistic (n rows, the scan's own "
    "cardinality) into one map-side-combined sum",
    headline=True,  # round-13 wave-2 headline add: the prefix-lane +
    # chunked-explode shape is new this round — track its wall time
)
def bws_click_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import bws_two_sample

    ev = load_events(spark, sf_dir)
    return bws_two_sample(
        ev.filter(F.col("event_type").isin("click", "error")).select(
            "value", "event_type"
        ),
        "value",
        "event_type",
        "click",
    )


_R6F_NORM = ROUND6_FLOOR_SQL.format(
    x="SQRT(q) / CAST(n AS DOUBLE)"
)
_R6F_COS = ROUND6_FLOOR_SQL.format(
    x="CASE WHEN q > 0.0 AND qq > 0.0 THEN"
    " d / (SQRT(q) * SQRT(qq)) END"
)


@_q(
    "embedding_centroid_labels",
    f"""
    WITH e AS (
      SELECT label, embedding::DOUBLE[] AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND label IS NOT NULL),
    ex AS (
      SELECT label, unnest(v) AS val,
             unnest(generate_series(1, len(v))) AS pos
      FROM e),
    pl AS (
      SELECT label, pos, SUM(val) AS s FROM ex GROUP BY 1, 2),
    nl AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
    g AS (SELECT pos, SUM(s) AS sg FROM pl GROUP BY 1),
    dots AS (
      SELECT pl.label, SUM(pl.s * g.sg) AS d, SUM(pl.s * pl.s) AS q
      FROM pl JOIN g USING (pos) GROUP BY 1),
    qg AS (SELECT SUM(sg * sg) AS qq FROM g)
    SELECT d0.label, nl.n,
           {_R6F_NORM} AS centroid_norm,
           {_R6F_COS} AS cos_global
    FROM dots d0 JOIN nl USING (label) CROSS JOIN qg
    ORDER BY label
    """,
    doc="Per-label embedding centroid coherence and corpus-centroid "
    "cosine (operators/similarity.py:label_centroids) — the "
    "GROUP-level embedding readout next to embedding_silhouette "
    "(per-point cohesion) and semantic_dedup (pairwise collapse): "
    "near-zero centroid norm = internally incoherent label, low "
    "cosine to the global centroid = outlier domain — the "
    "per-source drift signal of an embedding-space curation "
    "monitor. Σ-form cosine (1/n factors cancel); payload vectors "
    "never shuffle, only labels×64 partial sums do",
)
def embedding_centroid_labels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import label_centroids

    emb = load(spark, sf_dir, "embeddings")
    return label_centroids(emb, "embedding", "label")


# ---------------------------------------------------------------------------
# round-13 wave 3: the likelihood-ratio G-test, ICC(1,1) agreement,
# CUSUM-of-squares variance drift, Spiegelhalter calibration z,
# Cronbach's alpha reliability, and group-aware k-fold assignment.
# ---------------------------------------------------------------------------


@_q(
    "g_test_status_priority",
    """
    WITH base AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
    obs AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o
      FROM base GROUP BY 1, 2),
    ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ra
           FROM base GROUP BY 1),
    mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rb
           FROM base GROUP BY 1),
    tot AS (SELECT CAST(SUM(ra) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS la FROM ma),
    lb AS (SELECT CAST(COUNT(*) AS BIGINT) AS lb FROM mb),
    cells AS (
      SELECT o, ra, rb, n, la, lb
      FROM obs JOIN ma USING (a) JOIN mb USING (b)
      CROSS JOIN tot CROSS JOIN lb),
    ag AS (
      SELECT MAX(n) AS n, MAX(la) AS la, MAX(lb) AS lb,
             SUM(CAST(o AS DOUBLE)
                 * LN(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                      / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE))))
               AS g_half
      FROM cells)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(la AS BIGINT) AS levels_a,
           CAST(lb AS BIGINT) AS levels_b,
           CAST(CASE WHEN la > 0 AND lb > 0
                THEN (la - 1) * (lb - 1) ELSE 0 END AS BIGINT) AS dof,
           ROUND(CASE WHEN la > 1 AND lb > 1
                 THEN 2.0 * g_half END, 6) AS g_stat
    FROM ag
    """,
    doc="Likelihood-ratio G-test of status x priority independence "
    "on orders (operators/relational.py:g_test_independence) — the "
    "information-theoretic twin of chi2_status_priority's Pearson "
    "X²: G = 2N·I(A;B) in nats (mi_status_priority rescaled), "
    "additive under table partitioning where X² is not. Observed "
    "cells only (zero cells contribute exactly 0); same "
    "(r−1)(c−1) dof contract, no p (chi2's incomplete-gamma rule)",
)
def g_test_status_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import g_test_independence

    orders = load(spark, sf_dir, "orders")
    return g_test_independence(orders, "o_orderstatus", "o_orderpriority")


@_q(
    "icc_user_halves",
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
    m AS (
      SELECT n, nd,
             (sxx + 2.0 * sxy + syy) / 4.0
               - ((sx + sy) / 2.0) * ((sx + sy) / 2.0) / nd AS css_m,
             (sxx - 2.0 * sxy + syy) / 2.0 AS ssw
      FROM d),
    ms AS (
      SELECT n, nd,
             2.0 * css_m / (nd - 1.0) AS msb,
             ssw / nd AS msw
      FROM m)
    SELECT n,
           ROUND(CASE WHEN n >= 2 THEN msb END, 6) AS msb,
           ROUND(CASE WHEN n >= 1 THEN msw END, 6) AS msw,
           ROUND(CASE WHEN n >= 2 AND msb + msw > 0.0
                 THEN (msb - msw) / (msb + msw) END, 6) AS icc
    FROM ms
    """,
    doc="ICC(1,1) one-way intraclass correlation of per-user mean "
    "value, first half vs second half "
    "(operators/relational.py:icc_oneway_paired) — the VARIANCE-"
    "DECOMPOSITION rung of the agreement family next to "
    "agreement_user_halves' Bland-Altman/CCC (pairwise) and "
    "weighted_kappa (ordinal): what share of variance is BETWEEN "
    "users vs within a user's two halves. Same per-user frame as "
    "agreement_user_halves, ONE exact DECIMAL moment aggregate",
)
def icc_user_halves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import icc_oneway_paired

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
    return icc_oneway_paired(per_u, "x", "y")


@_q(
    "cusum_squares_daily",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE))
               AS t,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    pre AS (
      SELECT t,
             SUM(y::HUGEINT) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
             SUM(y::HUGEINT * y) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q,
             ROW_NUMBER() OVER (ORDER BY t) AS k
      FROM daily),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y::HUGEINT) AS sp, SUM(y::HUGEINT * y) AS sq
      FROM daily),
    scored AS (
      SELECT pre.t, pre.k, tot.n,
             CAST(CAST(tot.sq AS VARCHAR) AS DOUBLE)
               - CAST(CAST(tot.sp AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(tot.sp AS VARCHAR) AS DOUBLE)
                 / CAST(tot.n AS DOUBLE) AS cn,
             ABS((CAST(CAST(pre.q AS VARCHAR) AS DOUBLE)
                  - 2.0 * (CAST(CAST(tot.sp AS VARCHAR) AS DOUBLE)
                           / CAST(tot.n AS DOUBLE))
                    * CAST(CAST(pre.p AS VARCHAR) AS DOUBLE)
                  + CAST(pre.k AS DOUBLE)
                    * (CAST(CAST(tot.sp AS VARCHAR) AS DOUBLE)
                       / CAST(tot.n AS DOUBLE))
                    * (CAST(CAST(tot.sp AS VARCHAR) AS DOUBLE)
                       / CAST(tot.n AS DOUBLE)))
                 / (CAST(CAST(tot.sq AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(tot.sp AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(tot.sp AS VARCHAR) AS DOUBLE)
                      / CAST(tot.n AS DOUBLE))
                 - CAST(pre.k AS DOUBLE) / CAST(tot.n AS DOUBLE))
               AS dev
      FROM pre CROSS JOIN tot),
    mx AS (
      SELECT MAX(n) AS n,
             MAX(CASE WHEN cn > 0.0 THEN dev END) AS d
      FROM scored),
    best AS (
      SELECT MIN(scored.t) AS at_t
      FROM scored CROSS JOIN mx
      WHERE scored.cn > 0.0 AND scored.dev = mx.d)
    SELECT CAST(mx.n AS BIGINT) AS n,
           ROUND(CASE WHEN mx.n >= 2 THEN mx.d END, 6) AS d_stat,
           CAST(CASE WHEN mx.n >= 2 AND mx.d IS NOT NULL
                THEN best.at_t END AS BIGINT) AS at_t
    FROM mx CROSS JOIN best
    """,
    doc="CUSUM-of-squares variance-drift statistic over the daily "
    "cent-sum value series (operators/series.py:cusum_squares) — "
    "the SECOND-moment rung of the change-point family next to "
    "cusum_daily_drift (mean), pettitt (rank shift) and "
    "chow_break_daily (known-split mean model): max_k |S_k − k/n| "
    "of centered-square prefix shares localizes a volatility "
    "regime change even when the mean never moves. Exact "
    "DECIMAL(38,0) prefix sums on the calendar frame, argmax ties "
    "to the earliest day",
)
def cusum_squares_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import cusum_squares

    ev = load_events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("y")
    )
    daily = daily.select(
        F.datediff(F.col("d"), F.lit("2023-12-31").cast("date")).alias(
            "t"
        ),
        "y",
    )
    return cusum_squares(daily, "t", "y")


_PHI_NEG_ABS_SZ = NORM_CDF_SQL.format(z="-ABS(zz)")


@_q(
    "spiegelhalter_z_events",
    f"""
    WITH base AS (
      SELECT CAST(ROUND(
               GREATEST(0.0, LEAST(CAST(value AS DOUBLE) / 500.0,
                                   1.0)) * 1000000.0, 0) AS BIGINT)
               AS p,
             CASE WHEN event_type = 'purchase'
                  THEN 1000000 ELSE 0 END AS o
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM((o - p)::HUGEINT * (1000000 - 2 * p)) AS num,
             SUM(((1000000 - 2 * p)::HUGEINT * (1000000 - 2 * p))
                 * (p::HUGEINT * (1000000 - p))) AS den,
             SUM((o - p)::HUGEINT * (o - p)) AS sq
      FROM base),
    d AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(num AS VARCHAR) AS DOUBLE) AS num,
             CAST(CAST(den AS VARCHAR) AS DOUBLE) AS den,
             CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sq
      FROM ag),
    zc AS (
      SELECT n, nd, den,
             sq / (nd * 1.0e12) AS brier,
             num / SQRT(den) AS zz
      FROM d)
    SELECT n,
           ROUND(CASE WHEN n > 0 THEN brier END, 6) AS brier,
           ROUND(CASE WHEN n > 0 AND den > 0.0 THEN zz END, 6) AS z,
           ROUND(CASE WHEN n > 0 AND den > 0.0
                 THEN 2.0 * {_PHI_NEG_ABS_SZ} END, 6) AS p
    FROM zc
    """,
    doc="Spiegelhalter's binning-free calibration z on the "
    "value/500 pseudo-probability vs the purchase label — the "
    "ece_events framing (operators/classify.py:spiegelhalter_z) — "
    "the HYPOTHESIS-TEST rung of the calibration family next to ece "
    "(binned gaps), brier_decomp and hosmer_lemeshow (binned χ²): "
    "cannot be gamed by bin-edge choice. Clamped-micros discipline, "
    "exact DECIMAL(38,0) numerator/denominator folds, shared A-S Φ",
)
def spiegelhalter_z_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import spiegelhalter_z

    ev = load_events(spark, sf_dir)
    scored = ev.filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("p"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    return spiegelhalter_z(scored, "p", "y")


@_q(
    "cronbach_doc_rules",
    """
    WITH base AS (
      SELECT CASE WHEN n_chars >= 150 THEN 1000000 ELSE 0 END AS m0,
             CASE WHEN n_chars >= 250 THEN 1000000 ELSE 0 END AS m1,
             CASE WHEN len(string_split(trim(regexp_replace(lower(text),
                    '\\s+', ' ', 'g')), ' ')) >= 45
                  THEN 1000000 ELSE 0 END AS m2
      FROM documents
      WHERE n_chars IS NOT NULL AND text IS NOT NULL),
    wt AS (
      SELECT m0, m1, m2, m0 + m1 + m2 AS t FROM base),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(m0::HUGEINT) AS s0, SUM(m0::HUGEINT * m0) AS q0,
             SUM(m1::HUGEINT) AS s1, SUM(m1::HUGEINT * m1) AS q1,
             SUM(m2::HUGEINT) AS s2, SUM(m2::HUGEINT * m2) AS q2,
             SUM(t::HUGEINT) AS st, SUM(t::HUGEINT * t) AS qt
      FROM wt),
    d AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s0 AS VARCHAR) AS DOUBLE) AS s0,
             CAST(CAST(q0 AS VARCHAR) AS DOUBLE) AS q0,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(q1 AS VARCHAR) AS DOUBLE) AS q1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(q2 AS VARCHAR) AS DOUBLE) AS q2,
             CAST(CAST(st AS VARCHAR) AS DOUBLE) AS st,
             CAST(CAST(qt AS VARCHAR) AS DOUBLE) AS qt
      FROM ag),
    v AS (
      SELECT n, nd,
             (qt - st * st / nd) / ((nd - 1.0) * 1.0e12) AS var_t,
             (q0 - s0 * s0 / nd) / ((nd - 1.0) * 1.0e12)
               + (q1 - s1 * s1 / nd) / ((nd - 1.0) * 1.0e12)
               + (q2 - s2 * s2 / nd) / ((nd - 1.0) * 1.0e12)
               AS iv
      FROM d)
    SELECT n, CAST(3 AS BIGINT) AS k,
           ROUND(CASE WHEN n >= 2 THEN var_t END, 6) AS var_total,
           ROUND(CASE WHEN n >= 2 THEN iv END, 6) AS sum_item_vars,
           ROUND(CASE WHEN n >= 2 AND var_t > 0.0
                 THEN 1.5 * (1.0 - iv / var_t) END, 6) AS alpha
    FROM v
    """,
    doc="Cronbach's alpha (KR-20) over the three cochran_doc_rules "
    "quality filters (operators/classify.py:cronbach_alpha) — the "
    "RELIABILITY rung of the rule family next to cochran_doc_rules "
    "(do rates differ), fleiss_doc_rules (chance-corrected "
    "agreement): do the k filters move together enough to act as "
    "one scale. ONE exact DECIMAL(38,0) micro-moment aggregate; "
    "k/(k−1) = 1.5 injected for k = 3",
)
def cronbach_doc_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import cronbach_alpha
    from ..operators.text import normalize_text_col

    docs = load(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("text").isNotNull()
    )
    base = docs.select(
        (F.col("n_chars") >= 150).alias("len150"),
        (F.col("n_chars") >= 250).alias("len250"),
        (
            F.size(F.split(normalize_text_col("text"), " ")) >= 45
        ).alias("words45"),
    )
    return cronbach_alpha(base, ["len150", "len250", "words45"])


@_q(
    "group_kfold_users",
    """
    WITH assign AS (
      SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)
                 || chr(31) || '42'), 1, 15))::BIGINT % 5 AS fold,
             user_id
      FROM events WHERE user_id IS NOT NULL),
    per_fold AS (
      SELECT fold,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_groups,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM assign GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS t FROM per_fold)
    SELECT CAST(fold AS BIGINT) AS fold, n_groups, n_rows,
           ROUND(CAST(n_rows AS DOUBLE) / CAST(t AS DOUBLE), 6)
             AS share
    FROM per_fold CROSS JOIN tot ORDER BY fold
    """,
    doc="Group-aware 5-fold assignment of events by user "
    "(operators/curation.py:group_kfold_assign) — every row of a "
    "user lands in the SAME fold (the per-group leakage mode a "
    "row-wise split invites, leakage_safe_splits' sibling for "
    "cross-validation): fold = md5_60(user ⊕ seed) mod 5, the "
    "engine-portable hash every split/sample operator shares — "
    "stable residency, reproducible across engines and sessions. "
    "Output is the per-fold balance audit a pipeline asserts on",
)
def group_kfold_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import group_kfold_assign

    ev = load_events(spark, sf_dir)
    return group_kfold_assign(ev, "user_id", k=5, seed=42)


# ---------------------------------------------------------------------------
# round-13 wave 4: the normal-scores family unlocked by the shared Acklam
# Φ⁻¹ (operators/util.py:norm_ppf / norm_ppf_sql) — van der Waerden,
# Fligner-Killeen, Shapiro-Francia — plus Bartels' rank von Neumann and
# Newey-West HAC mean inference on the daily frame.
# ---------------------------------------------------------------------------

from ..operators.util import norm_ppf_sql

_PPF_PV = norm_ppf_sql("pv")
_PPF_PA = norm_ppf_sql("pa")
_PPF_PM = norm_ppf_sql("pm")


@_q(
    "vdw_event_values",
    f"""
    WITH base AS (
      SELECT event_type AS c,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL),
    cells AS (
      SELECT c, v, CAST(COUNT(*) AS BIGINT) AS f
      FROM base GROUP BY 1, 2),
    per_v AS (
      SELECT v, CAST(SUM(f) AS BIGINT) AS tv FROM cells GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(tv) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM per_v),
    rv AS (
      SELECT v, tv,
             COALESCE(SUM(tv) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM per_v),
    pv_t AS (
      SELECT v, tv, n, n_values,
             (CAST(cum AS DOUBLE) + (CAST(tv AS DOUBLE) + 1.0) / 2.0)
               / (CAST(n AS DOUBLE) + 1.0) AS pv
      FROM rv CROSS JOIN tot),
    scored AS (
      SELECT v, tv, n, n_values, {_PPF_PV} AS s
      FROM pv_t),
    svar AS (
      SELECT MAX(n) AS n, MAX(n_values) AS n_values,
             SUM(CAST(tv AS DOUBLE) * s * s) AS ss2
      FROM scored),
    per_class AS (
      SELECT cells.c,
             CAST(SUM(cells.f) AS BIGINT) AS nj,
             SUM(CAST(cells.f AS DOUBLE) * scored.s) AS aj
      FROM cells JOIN scored ON cells.v = scored.v
      GROUP BY 1),
    kagg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(aj * aj / CAST(nj AS DOUBLE)) AS num
      FROM per_class)
    SELECT CAST(svar.n AS BIGINT) AS n, kagg.k,
           CAST(CASE WHEN kagg.k >= 1 THEN kagg.k - 1 ELSE 0 END
                AS BIGINT) AS dof,
           ROUND(CASE WHEN svar.n >= 2 AND kagg.k >= 2
                      AND svar.ss2 / (CAST(svar.n AS DOUBLE) - 1.0)
                          > 0.0
                 THEN kagg.num
                      / (svar.ss2 / (CAST(svar.n AS DOUBLE) - 1.0))
                 END, 6) AS t_stat
    FROM svar CROSS JOIN kagg
    """,
    doc="Van der Waerden k-sample normal-scores test of event "
    "values across event types "
    "(operators/relational.py:van_der_waerden) — the NORMAL-SCORES "
    "rung next to kruskal_event_values (raw ranks) and "
    "welch_anova_values (raw means): Φ⁻¹(r/(N+1)) restores full "
    "Pitman efficiency vs normal alternatives (ARE 1 where KW pays "
    "0.955) while keeping rank robustness. Midranks on the exact "
    "2x-integer prefix discipline; scores via the shared Acklam "
    "Φ⁻¹ (norm_ppf — both engines, same closed formula)",
)
def vdw_event_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import van_der_waerden

    ev = load_events(spark, sf_dir)
    return van_der_waerden(ev, "value", "event_type", scale=100)


@_q(
    "fligner_killeen_types",
    f"""
    WITH base AS (
      SELECT event_type AS c,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL),
    cells AS (
      SELECT c, v, CAST(COUNT(*) AS BIGINT) AS f
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT c, v, f,
             SUM(f) OVER (PARTITION BY c ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ci,
             SUM(f) OVER (PARTITION BY c) AS nj
      FROM cells),
    med AS (
      SELECT c, MIN(v) AS med
      FROM cum WHERE 2 * ci >= nj GROUP BY 1),
    dev AS (
      SELECT cells.c, ABS(cells.v - med.med) AS d, cells.f
      FROM cells JOIN med ON cells.c = med.c),
    per_d AS (
      SELECT d, CAST(SUM(f) AS BIGINT) AS td FROM dev GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(td) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM per_d),
    rd AS (
      SELECT d, td,
             COALESCE(SUM(td) OVER (ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum
      FROM per_d),
    pa_t AS (
      SELECT d, td, n, n_values,
             0.5 + (CAST(cum AS DOUBLE)
                    + (CAST(td AS DOUBLE) + 1.0) / 2.0)
                   / (2.0 * (CAST(n AS DOUBLE) + 1.0)) AS pa
      FROM rd CROSS JOIN tot),
    scored AS (
      SELECT d, td, n, n_values, {_PPF_PA} AS a
      FROM pa_t),
    gtot AS (
      SELECT MAX(n) AS n, MAX(n_values) AS n_values,
             SUM(CAST(td AS DOUBLE) * a) AS sa,
             SUM(CAST(td AS DOUBLE) * a * a) AS sa2
      FROM scored),
    per_class AS (
      SELECT dev.c,
             CAST(SUM(dev.f) AS BIGINT) AS nj,
             SUM(CAST(dev.f AS DOUBLE) * scored.a) AS aj
      FROM dev JOIN scored ON dev.d = scored.d
      GROUP BY 1),
    kagg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(pc.nj AS DOUBLE)
                 * (pc.aj / CAST(pc.nj AS DOUBLE)
                    - g.sa / CAST(g.n AS DOUBLE))
                 * (pc.aj / CAST(pc.nj AS DOUBLE)
                    - g.sa / CAST(g.n AS DOUBLE))) AS num
      FROM per_class pc CROSS JOIN gtot g),
    fin AS (
      SELECT g.n, g.n_values, kagg.k, kagg.num,
             (g.sa2 - CAST(g.n AS DOUBLE)
                      * (g.sa / CAST(g.n AS DOUBLE))
                      * (g.sa / CAST(g.n AS DOUBLE)))
             / (CAST(g.n AS DOUBLE) - 1.0) AS v
      FROM gtot g CROSS JOIN kagg)
    SELECT CAST(n AS BIGINT) AS n, k,
           CAST(CASE WHEN k >= 1 THEN k - 1 ELSE 0 END AS BIGINT)
             AS dof,
           ROUND(CASE WHEN n >= 2 AND k >= 2 AND v > 0.0
                 THEN num / v END, 6) AS x2
    FROM fin
    """,
    doc="Fligner-Killeen scale-homogeneity test of event values "
    "across event types (operators/relational.py:fligner_killeen) "
    "— the ROBUST-STANDARD scale rung next to bartlett_values "
    "(normal-theory, outlier-fragile), brown_forsythe_values "
    "(median-centered F) and ansari_bradley_types (two-sample "
    "ranks): group-median centering + Φ⁻¹(1/2 + r/(2(N+1))) "
    "normal scores keep the level under heavy tails. LOWER-median "
    "convention pinned on both engines; per-class PARTITIONED "
    "median windows (parallel, never one global sort)",
)
def fligner_killeen_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import fligner_killeen

    ev = load_events(spark, sf_dir)
    return fligner_killeen(ev, "value", "event_type", scale=100)


@_q(
    "shapiro_francia_values",
    f"""
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    per_v AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS t
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM per_v),
    cum AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS c
      FROM per_v),
    ks AS (
      SELECT v, n, n_values,
             unnest(generate_series(CAST(c + 1 AS BIGINT),
                    CAST(c + t AS BIGINT))) AS k
      FROM cum CROSS JOIN tot),
    pm_t AS (
      SELECT v, n, n_values,
             (CAST(k AS DOUBLE) - 0.375)
               / (CAST(n AS DOUBLE) + 0.25) AS pm
      FROM ks),
    terms AS (
      SELECT v, n, n_values, {_PPF_PM} AS m
      FROM pm_t),
    ag AS (
      SELECT MAX(n) AS n, MAX(n_values) AS n_values,
             SUM(v::HUGEINT) AS sx,
             SUM(v::HUGEINT * v) AS sxx,
             SUM(m) AS sm, SUM(m * m) AS smm,
             SUM(CAST(v AS DOUBLE) * m) AS sxm
      FROM terms),
    d AS (
      SELECT n, n_values, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
             sm, smm, sxm
      FROM ag),
    c AS (
      SELECT n, n_values,
             sxm - sx * sm / nd AS cxm,
             sxx - sx * sx / nd AS cxx,
             smm - sm * sm / nd AS cmm
      FROM d)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n_values AS BIGINT) AS n_values,
           ROUND(CASE WHEN n >= 5 AND cxx > 0.0 AND cmm > 0.0
                 THEN cxm * cxm / (cxx * cmm) END, 6) AS w_stat
    FROM c
    """,
    doc="Shapiro-Francia W′ normality of event values "
    "(operators/relational.py:shapiro_francia) — the ORDER-"
    "STATISTIC CORRELATION rung next to jarque_bera/dagostino_k2 "
    "(moments), ad_normal (integral) and lilliefors (max gap): "
    "corr²(sorted sample, Blom scores Φ⁻¹((k−3/8)/(n+¼))) — 'how "
    "straight is the QQ plot', Royston's recommended large-n "
    "simplification of Shapiro-Wilk. The bws chunked map-side "
    "k-explode (one row per order statistic, the scan's own "
    "cardinality); exact cent moments, shared Acklam Φ⁻¹",
)
def shapiro_francia_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import shapiro_francia

    ev = load_events(spark, sf_dir)
    return shapiro_francia(ev, "value", scale=100)


_PHI_NEG_ABS_BZ = NORM_CDF_SQL.format(z="-ABS(zz)")


@_q(
    "bartels_rank_daily",
    f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE))
               AS t,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    ranked AS (
      SELECT t,
             2 * RANK() OVER (ORDER BY y)
               + COUNT(*) OVER (PARTITION BY y) - 1 AS r2
      FROM daily),
    seq AS (
      SELECT r2, LEAD(r2) OVER (ORDER BY t) AS r2n FROM ranked),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CASE WHEN r2n IS NOT NULL THEN
               (r2 - r2n)::HUGEINT * (r2 - r2n) END) AS num4,
             SUM(r2::HUGEINT * r2) AS sq4
      FROM seq),
    d AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(num4 AS VARCHAR) AS DOUBLE) AS num4,
             CAST(CAST(sq4 AS VARCHAR) AS DOUBLE) AS sq4
      FROM ag),
    m AS (
      SELECT n, nd, num4,
             sq4 - nd * (nd + 1.0) * (nd + 1.0) AS den4
      FROM d),
    r AS (
      SELECT n, nd, den4, num4 / den4 AS rvn,
             4.0 * (nd - 2.0) * (5.0 * nd * nd - 2.0 * nd - 9.0)
               / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))
               AS var
      FROM m),
    zc AS (
      SELECT n, den4, rvn, var,
             (rvn - 2.0) / SQRT(var) AS zz
      FROM r)
    SELECT n,
           ROUND(CASE WHEN n >= 3 AND den4 > 0.0 THEN rvn END, 6)
             AS rvn,
           ROUND(CASE WHEN n >= 3 AND den4 > 0.0 AND var > 0.0
                 THEN zz END, 6) AS z,
           ROUND(CASE WHEN n >= 3 AND den4 > 0.0 AND var > 0.0
                 THEN 2.0 * {_PHI_NEG_ABS_BZ} END, 6) AS p
    FROM zc
    """,
    doc="Bartels' rank von Neumann ratio on the daily cent-sum "
    "value series (operators/series.py:bartels_rank) — the RANK-"
    "SERIAL-CORRELATION randomness rung next to runs_test_daily "
    "(signs), turning_points_daily (local extrema) and "
    "ljung_box_daily (parametric ACF): robust to any monotone "
    "transform. Doubled midranks make BOTH sums exact integers "
    "(Σ2r = n(n+1) identically, so the denominator collapses "
    "algebraically); exact Bartels variance; shared A-S Φ",
)
def bartels_rank_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import bartels_rank

    ev = load_events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("y")
    )
    daily = daily.select(
        F.datediff(F.col("d"), F.lit("2023-12-31").cast("date")).alias(
            "t"
        ),
        "y",
    )
    return bartels_rank(daily, "t", "y")


@_q(
    "newey_west_daily",
    """
    WITH daily AS (
      SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE))
               AS t,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                  AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1),
    leads AS (
      SELECT y,
             LEAD(y, 1) OVER (ORDER BY t) AS y1,
             LEAD(y, 2) OVER (ORDER BY t) AS y2,
             LEAD(y, 3) OVER (ORDER BY t) AS y3
      FROM daily),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y::HUGEINT) AS s, SUM(y::HUGEINT * y) AS q,
             CAST(SUM(CASE WHEN y1 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS m1,
             SUM(CASE WHEN y1 IS NOT NULL THEN y::HUGEINT * y1 END)
               AS xy1,
             SUM(CASE WHEN y1 IS NOT NULL THEN y::HUGEINT END) AS sa1,
             SUM(CASE WHEN y1 IS NOT NULL THEN y1::HUGEINT END) AS sb1,
             CAST(SUM(CASE WHEN y2 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS m2,
             SUM(CASE WHEN y2 IS NOT NULL THEN y::HUGEINT * y2 END)
               AS xy2,
             SUM(CASE WHEN y2 IS NOT NULL THEN y::HUGEINT END) AS sa2,
             SUM(CASE WHEN y2 IS NOT NULL THEN y2::HUGEINT END) AS sb2,
             CAST(SUM(CASE WHEN y3 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS m3,
             SUM(CASE WHEN y3 IS NOT NULL THEN y::HUGEINT * y3 END)
               AS xy3,
             SUM(CASE WHEN y3 IS NOT NULL THEN y::HUGEINT END) AS sa3,
             SUM(CASE WHEN y3 IS NOT NULL THEN y3::HUGEINT END) AS sb3
      FROM leads),
    d AS (
      SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s AS VARCHAR) AS DOUBLE) AS s,
             CAST(CAST(q AS VARCHAR) AS DOUBLE) AS q,
             CAST(m1 AS DOUBLE) AS m1,
             COALESCE(CAST(CAST(xy1 AS VARCHAR) AS DOUBLE), 0.0) AS xy1,
             COALESCE(CAST(CAST(sa1 AS VARCHAR) AS DOUBLE), 0.0) AS sa1,
             COALESCE(CAST(CAST(sb1 AS VARCHAR) AS DOUBLE), 0.0) AS sb1,
             CAST(m2 AS DOUBLE) AS m2,
             COALESCE(CAST(CAST(xy2 AS VARCHAR) AS DOUBLE), 0.0) AS xy2,
             COALESCE(CAST(CAST(sa2 AS VARCHAR) AS DOUBLE), 0.0) AS sa2,
             COALESCE(CAST(CAST(sb2 AS VARCHAR) AS DOUBLE), 0.0) AS sb2,
             CAST(m3 AS DOUBLE) AS m3,
             COALESCE(CAST(CAST(xy3 AS VARCHAR) AS DOUBLE), 0.0) AS xy3,
             COALESCE(CAST(CAST(sa3 AS VARCHAR) AS DOUBLE), 0.0) AS sa3,
             COALESCE(CAST(CAST(sb3 AS VARCHAR) AS DOUBLE), 0.0) AS sb3
      FROM ag),
    g AS (
      SELECT n, nd, s / nd AS mu, q, s,
             (q - nd * (s / nd) * (s / nd)) / nd AS g0,
             m1, xy1, sa1, sb1, m2, xy2, sa2, sb2, m3, xy3, sa3, sb3
      FROM d),
    lrv_t AS (
      SELECT n, nd, mu, g0,
             g0
             + 2.0 * 0.75 * ((xy1 - mu * (sa1 + sb1) + m1 * mu * mu)
                             / nd)
             + 2.0 * 0.5 * ((xy2 - mu * (sa2 + sb2) + m2 * mu * mu)
                            / nd)
             + 2.0 * 0.25 * ((xy3 - mu * (sa3 + sb3) + m3 * mu * mu)
                             / nd) AS lrv
      FROM g),
    se AS (
      SELECT n, mu, g0, lrv,
             SQRT(g0 * nd / (nd - 1.0) / nd) AS se_iid,
             SQRT(lrv / nd) AS se_nw
      FROM lrv_t)
    SELECT n,
           ROUND(CASE WHEN n >= 1 THEN mu / 100.0 END, 6) AS mean,
           ROUND(CASE WHEN n >= 5 AND g0 > 0.0 THEN se_iid / 100.0
                 END, 6) AS se_iid,
           ROUND(CASE WHEN n >= 5 AND g0 > 0.0 AND lrv > 0.0
                 THEN se_nw / 100.0 END, 6) AS se_nw,
           ROUND(CASE WHEN n >= 5 AND g0 > 0.0 AND lrv > 0.0
                 THEN se_nw / se_iid END, 6) AS inflation
    FROM se
    """,
    doc="Newey-West (Bartlett, L=3) HAC standard error of the "
    "daily mean value (operators/series.py:newey_west_mean) — the "
    "AUTOCORRELATION-ROBUST inference rung next to "
    "durbin_watson_daily / ljung_box_daily (which DETECT serial "
    "correlation but don't repair the overconfident iid s/√n): "
    "inflation = se_nw/se_iid is 'how many times too tight your "
    "confidence interval was'. ONE window (leads 1..3) + ONE exact "
    "DECIMAL(38,0) moment aggregate on the calendar frame",
)
def newey_west_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import newey_west_mean

    ev = load_events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("y")
    )
    daily = daily.select(
        F.datediff(F.col("d"), F.lit("2023-12-31").cast("date")).alias(
            "t"
        ),
        "y",
    )
    return newey_west_mean(daily, "t", "y", max_lag=3, scale=100)
