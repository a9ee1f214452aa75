"""Harness queries (part 3/6): graph/ranking/linkage/text-statistics waves + search-eval entries.
"""

from __future__ import annotations

from ._common import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _q,
    load,
    load_events,
    round6,
    stable_avg,
)
from .queries_02_pipeline import (  # noqa: F401
    _DAILY_ROLLUP_SQL,
)

@_q(
    "cube_status_priority",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2
                + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           -- VARCHAR roundtrip = correctly-rounded decimal->double
           -- (matches Spark; DuckDB's direct cast drifts 1 ulp past
           -- an unscaled 2^53)
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS VARCHAR) AS DOUBLE)
             AS total_value
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE lattice over (status, priority): every subtotal "
    "combination — both one-dimension margins, the full cross, and "
    "the grand total — in ONE shared partial-aggregation pass "
    "(completing the grouping-sets family next to rollup_hierarchy's "
    "linear hierarchy and the explicit pivot). The grouping-ID "
    "bitmask disambiguates a genuine NULL group from a subtotal row "
    "— COALESCE('ALL') alone cannot",
)
def cube_status_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    df = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_orders"),
            # exact decimal: the grand-total cell sums ALL orders
            # (3.75e10 at sf0.1 — double's 6th decimal is luck there)
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias(
                "o_orderstatus"
            ),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias(
                "o_orderpriority"
            ),
            "gid",
            "n_orders",
            "total_value",
        )
    )
    # no round6: exact decimal sum -> identical double on both engines
    return df


@_q(
    "seasonal_decompose_events",
    f"""
    WITH r AS MATERIALIZED ({_DAILY_ROLLUP_SQL}),
    base AS (
      SELECT event_type, day, v,
             CASE WHEN COUNT(v) OVER w = 7
                  THEN ROUND(AVG(v) OVER w, 6) END AS trend,
             CAST((((day - DATE '1970-01-01') % 7) + 7) % 7
                  AS BIGINT) AS phase
      FROM r
      WINDOW w AS (PARTITION BY event_type
                   ORDER BY (day - DATE '1970-01-01')
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (SELECT *, v - trend AS dt FROM base),
    sr AS (
      SELECT event_type, phase,
             ROUND(ROUND(SUM(dt), 6) / COUNT(dt), 6) AS s_raw
      FROM det GROUP BY 1, 2),
    sa AS (
      SELECT event_type, phase,
             ROUND(s_raw
                   - ROUND(SUM(s_raw) OVER (PARTITION BY event_type), 6)
                     / COUNT(s_raw) OVER (PARTITION BY event_type),
                   6) AS s
      FROM sr)
    SELECT d.event_type, d.day, d.v AS v, d.trend, sa.s AS seasonal,
           ROUND(d.v - d.trend - sa.s, 6) AS remainder
    FROM det d LEFT JOIN sa
      ON sa.event_type = d.event_type AND sa.phase = d.phase
    ORDER BY 1, 2
    """,
    doc="classical additive seasonal decomposition per event type "
    "(operators/series.py:classical_decompose): value = trend "
    "(centered 7-point MA, honestly NULL at edges) + seasonal "
    "(re-centered per-phase mean of the detrended series) + "
    "remainder — the 'is Monday always like this' separator that the "
    "drift monitors should watch the REMAINDER of. One key window + "
    "one (key, phase) map-side aggregate + a broadcast-scale "
    "re-centering of <= 7 indices; exact integer phase arithmetic, "
    "stable_avg means",
)
def seasonal_decompose_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import classical_decompose

    ev = load_events(spark, sf_dir)
    rollup = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return classical_decompose(rollup, ["event_type"], "day", "v", period=7)


@_q(
    "phrase_search_docs",
    """
    WITH d AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents),
    p AS (
      SELECT doc_id, unnest(toks) AS t,
             unnest(range(len(toks))) AS pos
      FROM d),
    m AS (
      SELECT a.doc_id, a.pos AS start
      FROM p a JOIN p b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.t = 'table' AND b.t = 'hash')
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(start) AS BIGINT) AS first_pos
    FROM m GROUP BY doc_id ORDER BY doc_id
    """,
    doc="exact token-phrase retrieval ('table hash') over positional "
    "postings (operators/text.py:phrase_search): the positional rung "
    "of the retrieval family — bm25 ranks bags, this answers THE "
    "phrase, overlaps counted correctly where substring counting "
    "fails. Postings filtered to the phrase's terms before any "
    "shuffle (the BM25 discipline), one (doc, pos+offset) equi-join "
    "per additional term; match set is the output",
)
def phrase_search_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import phrase_search

    docs = load(spark, sf_dir, "documents")
    return phrase_search(docs, "doc_id", "text", ["table", "hash"])


@_q(
    "km_survival_segments",
    """
    WITH span AS (
      SELECT o_custkey, MIN(o_orderdate) AS f, MAX(o_orderdate) AS l
      FROM orders GROUP BY 1),
    g AS (SELECT MAX(o_orderdate) AS m FROM orders),
    subj AS (
      SELECT c.c_mktsegment AS seg,
             CAST(CAST(span.l AS DATE) - CAST(span.f AS DATE)
                  AS BIGINT) AS t,
             (CAST(g.m AS DATE) - CAST(span.l AS DATE)) > 90 AS obs
      FROM span JOIN customer c ON c.c_custkey = span.o_custkey
      CROSS JOIN g),
    counts AS (
      SELECT seg, t,
             SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS d,
             SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS cc
      FROM subj GROUP BY 1, 2),
    c2 AS (
      SELECT seg, t, d, cc,
             SUM(d + cc) OVER (PARTITION BY seg)
               - COALESCE(SUM(d + cc) OVER (PARTITION BY seg ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n
      FROM counts),
    c3 AS (SELECT *, 1 - CAST(d AS DOUBLE) / n AS f FROM c2),
    c4 AS (
      SELECT *,
             SUM(CASE WHEN f <= 0 THEN 1 ELSE 0 END) OVER w AS zeros,
             SUM(CASE WHEN f > 0 THEN ln(f) END) OVER w AS slnf
      FROM c3
      WINDOW w AS (PARTITION BY seg ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT seg AS c_mktsegment, t, CAST(n AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(cc AS BIGINT) AS n_censored,
           CASE WHEN zeros > 0 THEN 0.0
                ELSE ROUND(EXP(slnf), 6) END AS survival
    FROM c4 ORDER BY 1, 2
    """,
    doc="Kaplan-Meier customer-lifetime curves per market segment "
    "(operators/relational.py:km_survival): lifetime = first-to-last "
    "order span, churn observed when inactivity exceeds 90 days "
    "before the dataset horizon, otherwise right-CENSORED — still "
    "at-risk subjects count for as long as they were observed "
    "instead of biasing the curve. One (group, duration) aggregate "
    "to distinct times, then at-risk series and the survival product "
    "(exp-sum-ln; exact integer ratio factors; explicit zero-factor "
    "flag because ln(0) is NULL in Spark but -inf elsewhere) on ONE "
    "ordered window over the reduced frame",
)
def km_survival_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import km_survival

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    span = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    gmax = orders.agg(F.max("o_orderdate").alias("m"))
    subj = (
        span.join(customer, span["o_custkey"] == customer["c_custkey"])
        .crossJoin(F.broadcast(gmax))
        .select(
            F.col("c_mktsegment"),
            F.datediff("l", "f").cast("long").alias("t"),
            (F.datediff("m", "l") > 90).alias("obs"),
        )
    )
    return km_survival(subj, ["c_mktsegment"], "t", "obs")


@_q(
    "gini_customer_revenue",
    """
    WITH rev AS (
      SELECT c.c_mktsegment AS seg,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2)) * 100
                  AS DECIMAL(18,0)) AS vc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY seg, o.o_custkey),
    r AS (
      SELECT seg, vc,
             row_number() OVER (PARTITION BY seg ORDER BY vc) AS i
      FROM rev),
    a AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(vc) AS VARCHAR) AS DOUBLE) AS sv,
             CAST(CAST(SUM(CAST(i AS DECIMAL(38,0))
                      * CAST(vc AS DECIMAL(38,0))) AS VARCHAR)
                  AS DOUBLE) AS siv
      FROM r GROUP BY seg)
    SELECT seg AS c_mktsegment, n, ROUND(sv / 100.0, 6) AS total,
           CASE WHEN sv > 0
                THEN ROUND((2 * siv - (CAST(n AS DOUBLE) + 1) * sv)
                           / (CAST(n AS DOUBLE) * sv), 6) END AS gini
    FROM a ORDER BY seg
    """,
    doc="Gini concentration of per-customer revenue by market segment "
    "(operators/relational.py:gini_coefficient): 'does 1% of the "
    "customers carry 60% of the revenue' — the mass-concentration "
    "readout next to join_profile's hot-key diagnostics. Rank "
    "formula over ascending values (tie order unobservable: tied "
    "values contribute v*(i1+i2) either way); cents quantization via "
    "DECIMAL and DECIMAL(38,0) rank-weighted moments (n^2*max_v "
    "passes int64 at warehouse scale), one fixed double expression "
    "at the end",
)
def gini_customer_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import gini_coefficient

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("revenue")
        )
    )
    return gini_coefficient(rev, ["c_mktsegment"], "revenue")


@_q(
    "trimmed_mean_order_value",
    """
    WITH base AS (
      SELECT o_orderpriority AS pri,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    r AS (
      SELECT pri, v,
             row_number() OVER (PARTITION BY pri ORDER BY v) AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM base),
    a AS (
      SELECT pri, CAST(MAX(n) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(v AS DECIMAL(38,2))) AS VARCHAR)
                  AS DOUBLE) AS s_all,
             CAST(CAST(SUM(CASE WHEN rn > FLOOR(n * 0.1)
                            AND rn <= n - FLOOR(n * 0.1)
                           THEN CAST(v AS DECIMAL(38,2)) END)
                  AS VARCHAR) AS DOUBLE) AS s_kept,
             CAST(SUM(CASE WHEN rn > FLOOR(n * 0.1)
                            AND rn <= n - FLOOR(n * 0.1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM r GROUP BY pri)
    SELECT pri AS o_orderpriority, n, n_kept,
           s_all / n AS mean,
           CASE WHEN n_kept > 0 THEN s_kept / n_kept END AS trimmed
    FROM a ORDER BY pri
    """,
    doc="10%-trimmed mean of order value per priority "
    "(operators/relational.py:trimmed_mean): drop each tail's "
    "floor(n*0.1) values, average the rest — the robust center that "
    "survives fat tails where the plain mean follows them (emitted "
    "side by side for the contrast); third robust rung next to MAD "
    "and Theil-Sen. Cut-boundary ties are order-invariant (cut rows "
    "are interchangeable with kept rows of equal value); "
    "DECIMAL-exact sums, one exact division each, no rounding",
)
def trimmed_mean_order_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import trimmed_mean

    orders = load(spark, sf_dir, "orders")
    return trimmed_mean(
        orders.select("o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
        trim=0.1,
    )


@_q(
    "leakage_safe_splits_docs",
    """
    WITH RECURSIVE norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents),
    toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5
      UNION ALL
      SELECT id_b, id_a FROM pairs
      JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
      WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.5),
    reach(n, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a),
    comp AS (SELECT n AS doc_id, CAST(MIN(r) AS BIGINT) AS component
             FROM reach GROUP BY n)
    SELECT d.doc_id,
           CAST(COALESCE(c.component, d.doc_id) AS BIGINT) AS cluster,
           CASE WHEN substring(md5(CAST(COALESCE(c.component, d.doc_id)
                                        AS VARCHAR)), 1, 4) < 'e666'
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc="leakage-safe train/test split "
    "(operators/curation.py:leakage_safe_splits): every near-dup "
    "CLUSTER (exact Jaccard>=0.5 components) lands wholly on one "
    "side — a per-document split puts 95%-identical twins on "
    "opposite sides and manufactures eval contamination at split "
    "time. Cluster representative hashed with the split_col md5 "
    "discipline (singletons hash their own id); components shuffle "
    "(node, label) longs only, the corpus joins the component map "
    "once",
)
def leakage_safe_splits_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import leakage_safe_splits
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return leakage_safe_splits(
        docs, "doc_id", pairs, train_fraction=0.9
    ).select("doc_id", "cluster", "split")


@_q(
    "pareto_customer_revenue",
    """
    WITH rev AS (
      SELECT c.c_mktsegment AS seg,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                       AS DECIMAL(18,2)) * 100
                  AS DECIMAL(38,0)) AS vc
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY seg, o.o_custkey),
    r AS (
      SELECT seg, vc,
             row_number() OVER (PARTITION BY seg ORDER BY vc DESC)
               AS rn,
             CAST(SUM(vc) OVER (PARTITION BY seg ORDER BY vc DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS cum,
             CAST(SUM(vc) OVER (PARTITION BY seg) AS DOUBLE) AS tot
      FROM rev),
    a AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(CASE WHEN cum >= 0.8 * tot THEN rn END)
                  AS BIGINT) AS n_top,
             MAX(tot) AS tot,
             MIN(CASE WHEN cum >= 0.8 * tot THEN cum END) AS cum_at
      FROM r GROUP BY seg)
    SELECT seg AS c_mktsegment, n,
           CASE WHEN tot > 0 THEN n_top END AS n_top,
           CASE WHEN tot > 0 THEN ROUND(n_top / n, 6) END AS frac_rows,
           CASE WHEN tot > 0 THEN ROUND(cum_at / tot, 6) END
             AS top_share
    FROM a ORDER BY seg
    """,
    doc="Pareto 80% readout per market segment "
    "(operators/relational.py:pareto_fraction): the smallest number "
    "and fraction of top customers covering 80% of revenue — the "
    "actionable companion to gini_customer_revenue's single index. "
    "Same exactness plumbing: cents DECIMAL quantization, exact "
    "integer descending cumulative (tie order unobservable — equal "
    "values contribute equally), one threshold multiply of the "
    "exact total; one rank window + one conditional-min aggregate",
)
def pareto_customer_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import pareto_fraction

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    rev = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("revenue")
        )
    )
    return pareto_fraction(
        rev, ["c_mktsegment"], "revenue", share=0.8
    )


@_q(
    "chi2_status_priority",
    """
    WITH base AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
    obs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o
            FROM base GROUP BY 1, 2),
    ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ra
           FROM base GROUP BY 1),
    mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rb
           FROM base GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    grid AS (
      SELECT ma.ra, mb.rb, nn.n, COALESCE(obs.o, 0) AS o
      FROM ma CROSS JOIN mb CROSS JOIN nn
      LEFT JOIN obs ON obs.a = ma.a AND obs.b = mb.b),
    s AS (
      SELECT MAX(n) AS n,
             SUM((o - (ra * rb) / n) * (o - (ra * rb) / n)
                 / ((ra * rb) / n)) AS chi2
      FROM grid),
    lv AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ma) AS la,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM mb) AS lb)
    SELECT s.n,
           lv.la AS levels_a, lv.lb AS levels_b,
           CAST((lv.la - 1) * (lv.lb - 1) AS BIGINT) AS dof,
           ROUND(s.chi2, 6) AS chi2,
           CASE WHEN (lv.la - 1) * (lv.lb - 1) > 0
                THEN ROUND(SQRT(s.chi2 / (s.n * LEAST(lv.la - 1,
                                                      lv.lb - 1))), 6)
           END AS cramers_v
    FROM s CROSS JOIN lv
    """,
    doc="Pearson chi-square independence test + Cramér's V over the "
    "(o_orderstatus x o_orderpriority) contingency table "
    "(operators/relational.py:chi2_independence) — the categorical "
    "complement to ks_two_sample (numeric CDFs) and "
    "two_sample_report (Welch means). Observed counts exact; every "
    "expected count is one double division of exact integers; the "
    "cell sum spans |A|x|B| tiny terms. Two marginal groupBys + one "
    "pair groupBy over the fact; the grid is built from broadcast "
    "MARGINALS, never the fact",
)
def chi2_status_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import chi2_independence

    orders = load(spark, sf_dir, "orders")
    return chi2_independence(orders, "o_orderstatus", "o_orderpriority")


@_q(
    "mannwhitney_click_error",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE event_type IN ('click', 'error') AND value IS NOT NULL),
    pv AS (SELECT v, CAST(SUM(ia) AS BIGINT) AS ta,
                  CAST(SUM(1 - ia) AS BIGINT) AS tb
           FROM base GROUP BY v),
    r AS (
      SELECT ta, tb, ta + tb AS t,
             CAST(COALESCE(SUM(ta + tb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS c
      FROM pv),
    agg AS (
      -- HUGEINT accumulation mirrors the operator's DECIMAL(38,0):
      -- the 2x rank sum totals ~N(N+1) and t^3 passes 2^63 at a
      -- ~2.1M-row tie group, so BIGINT would overflow at scale
      SELECT CAST(SUM(ta) AS BIGINT) AS na,
             CAST(SUM(tb) AS BIGINT) AS nb,
             CAST(SUM(CAST(ta AS HUGEINT)
                      * (2 * CAST(c AS HUGEINT) + ta + tb + 1))
                  AS HUGEINT) AS r2a,
             CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
               AS ties
      FROM r)
    SELECT na AS n_a, nb AS n_b,
           CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE) / 2
             AS u_a,
           CASE WHEN na > 0 AND nb > 0 AND
                     CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                     * (CAST(na + nb + 1 AS DOUBLE)
                        - CAST(ties AS DOUBLE)
                          / (CAST(na + nb AS DOUBLE)
                             * CAST(na + nb - 1 AS DOUBLE))) > 0
                THEN ROUND(CAST(r2a - CAST(na AS HUGEINT) * (na + 1)
                                - CAST(na AS HUGEINT) * nb AS DOUBLE)
                  / (2.0 * SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                     / 12.0
                     * (CAST(na + nb + 1 AS DOUBLE)
                        - CAST(ties AS DOUBLE)
                          / (CAST(na + nb AS DOUBLE)
                             * CAST(na + nb - 1 AS DOUBLE))))), 6)
           END AS z,
           CASE WHEN na > 0 AND nb > 0 AND
                     CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                     * (CAST(na + nb + 1 AS DOUBLE)
                        - CAST(ties AS DOUBLE)
                          / (CAST(na + nb AS DOUBLE)
                             * CAST(na + nb - 1 AS DOUBLE))) > 0
                THEN ROUND(CAST(r2a - CAST(na AS HUGEINT) * (na + 1)
                                - CAST(na AS HUGEINT) * nb AS DOUBLE)
                  / (2.0 * SQRT(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                     / 12.0
                     * (CAST(na + nb + 1 AS DOUBLE)
                        - CAST(ties AS DOUBLE)
                          / (CAST(na + nb AS DOUBLE)
                             * CAST(na + nb - 1 AS DOUBLE)))))
                  / SQRT(CAST(na + nb AS DOUBLE)), 6)
           END AS r_effect
    FROM agg
    """,
    doc="Mann-Whitney U (rank-sum) test between 'click' and 'error' "
    "event values (operators/relational.py:mann_whitney_u) — the "
    "rank-based two-sample rung next to KS and Welch. Cent-quantized "
    "values make tie groups exact; midranks accumulate as exact "
    "DECIMAL(38,0) (oracle: HUGEINT) 2x-scaled sums via the "
    "(2c+t+1) closed form over "
    "DISTINCT values, so U, the tie term and the z variance are "
    "integer-exact before one final double evaluation. The ordered "
    "prefix window runs over the value DOMAIN (~49k cents), not the "
    "fact — constant-bounded at any scale factor",
)
def mannwhitney_click_error_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.relational import mann_whitney_u

    ev = load_events(spark, sf_dir)
    return mann_whitney_u(
        ev, "value", "event_type", "click", "error", scale=100
    )


@_q(
    "entropy_event_hours",
    """
    WITH base AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS c
      FROM events WHERE ts IS NOT NULL),
    pair AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS o
             FROM base GROUP BY 1, 2),
    g AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS gt FROM base GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
    t AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS tt
          FROM pair GROUP BY 1)
    SELECT p.event_type,
           MAX(t.tt) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_cats,
           ROUND(-SUM((o * 1.0 / tt) * log2(o * 1.0 / tt)), 6)
             AS entropy_bits,
           ROUND(SUM((o * 1.0 / tt)
                     * log2((o * 1.0 / tt) / (gt * 1.0 / n))), 6)
             AS kl_vs_global_bits
    FROM pair p
    JOIN t ON t.event_type = p.event_type
    JOIN g ON g.c = p.c
    CROSS JOIN nn
    GROUP BY p.event_type
    """,
    doc="Shannon entropy of each event type's hour-of-day "
    "distribution + KL divergence from the global hour distribution "
    "(operators/dq.py:categorical_entropy) — the information-"
    "theoretic drift readout next to PSI's binned score. Exact "
    "integer counts feed identical closed-form doubles (libm log2 "
    "ulps sit far below the 6dp grain; <=24 terms per sum). One "
    "pair groupBy + one broadcast category marginal; the fact never "
    "joins itself",
)
def entropy_event_hours_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import categorical_entropy

    ev = load_events(spark, sf_dir).withColumn(
        "hour_of_day", F.hour("ts").cast("long")
    )
    return categorical_entropy(ev, ["event_type"], "hour_of_day")


@_q(
    "kmeans_parts_price_size",
    """
    WITH pts AS MATERIALIZED (
      SELECT p_partkey AS id,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                  AS BIGINT) AS x0,
             CAST(p_size AS BIGINT) * 2000 AS x1
      FROM part),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY id) - 1 AS cid,
             x0 AS cx, x1 AS cy
      FROM (SELECT id, x0, x1 FROM pts ORDER BY id LIMIT 4)),
    a1 AS MATERIALIZED (
      SELECT id, x0, x1, cid FROM (
        SELECT p.id, p.x0, p.x1, c.cid,
               (p.x0 - c.cx) * (p.x0 - c.cx)
               + (p.x1 - c.cy) * (p.x1 - c.cy) AS d
        FROM pts p CROSS JOIN c0 c)
      QUALIFY row_number() OVER (PARTITION BY id ORDER BY d, cid) = 1),
    c1 AS MATERIALIZED (
      SELECT c.cid,
             CAST(COALESCE(s.sx // s.n, c.cx) AS BIGINT) AS cx,
             CAST(COALESCE(s.sy // s.n, c.cy) AS BIGINT) AS cy
      FROM c0 c LEFT JOIN (
        SELECT cid, COUNT(*) AS n, SUM(x0) AS sx, SUM(x1) AS sy
        FROM a1 GROUP BY cid) s ON s.cid = c.cid),
    a2 AS MATERIALIZED (
      SELECT id, x0, x1, cid FROM (
        SELECT p.id, p.x0, p.x1, c.cid,
               (p.x0 - c.cx) * (p.x0 - c.cx)
               + (p.x1 - c.cy) * (p.x1 - c.cy) AS d
        FROM pts p CROSS JOIN c1 c)
      QUALIFY row_number() OVER (PARTITION BY id ORDER BY d, cid) = 1),
    c2 AS MATERIALIZED (
      SELECT c.cid,
             CAST(COALESCE(s.sx // s.n, c.cx) AS BIGINT) AS cx,
             CAST(COALESCE(s.sy // s.n, c.cy) AS BIGINT) AS cy
      FROM c1 c LEFT JOIN (
        SELECT cid, COUNT(*) AS n, SUM(x0) AS sx, SUM(x1) AS sy
        FROM a2 GROUP BY cid) s ON s.cid = c.cid),
    a3 AS MATERIALIZED (
      SELECT id, x0, x1, cid FROM (
        SELECT p.id, p.x0, p.x1, c.cid,
               (p.x0 - c.cx) * (p.x0 - c.cx)
               + (p.x1 - c.cy) * (p.x1 - c.cy) AS d
        FROM pts p CROSS JOIN c2 c)
      QUALIFY row_number() OVER (PARTITION BY id ORDER BY d, cid) = 1),
    c3 AS MATERIALIZED (
      SELECT c.cid,
             CAST(COALESCE(s.sx // s.n, c.cx) AS BIGINT) AS cx,
             CAST(COALESCE(s.sy // s.n, c.cy) AS BIGINT) AS cy
      FROM c2 c LEFT JOIN (
        SELECT cid, COUNT(*) AS n, SUM(x0) AS sx, SUM(x1) AS sy
        FROM a3 GROUP BY cid) s ON s.cid = c.cid),
    af AS (
      SELECT id, cid FROM (
        SELECT p.id, c.cid,
               (p.x0 - c.cx) * (p.x0 - c.cx)
               + (p.x1 - c.cy) * (p.x1 - c.cy) AS d
        FROM pts p CROSS JOIN c3 c)
      QUALIFY row_number() OVER (PARTITION BY id ORDER BY d, cid) = 1)
    SELECT CAST(c.cid AS BIGINT) AS cluster,
           CAST(g.n AS BIGINT) AS n_points,
           c.cx AS centroid_price_cents,
           c.cy AS centroid_size_units
    FROM (SELECT cid, COUNT(*) AS n FROM af GROUP BY cid) g
    JOIN c3 c ON c.cid = g.cid
    """,
    doc="Integer-exact Lloyd k-means (k=4, 3 fixed iterations) over "
    "parts in (price-cents, size*2000) feature space "
    "(operators/clustering.py:kmeans_lloyd) — the clustering "
    "TRAINING rung next to embedding_silhouette's evaluation and "
    "the ANN family's sampled coarse quantizers. Deterministic "
    "smallest-key init, exact BIGINT squared distances with "
    "centroid-id tiebreaks, exact floor-division centroid updates: "
    "every iteration is bit-identical on any engine or partitioning "
    "(the pagerank discipline applied to ML). Per iteration the "
    "fact only flows through one broadcast k-way argmin + one "
    "map-side-combined groupBy; driver state is k centroid rows",
)
def kmeans_parts_price_size_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd

    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(12,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        (F.col("p_size").cast("long") * 2000).alias("size_units"),
    )
    return kmeans_lloyd(
        part,
        "p_partkey",
        ["price_cents", "size_units"],
        k=4,
        iterations=3,
    )


@_q(
    "fd_audit_catalog",
    """
    WITH f1 AS (
      SELECT 'part: p_brand->p_type' AS fd, nr
      FROM (SELECT COUNT(DISTINCT p_type)
                   + CASE WHEN COUNT(*) > COUNT(p_type)
                          THEN 1 ELSE 0 END AS nr
            FROM part WHERE p_brand IS NOT NULL GROUP BY p_brand)),
    f2 AS (
      SELECT 'part: p_type->p_size' AS fd, nr
      FROM (SELECT COUNT(DISTINCT p_size)
                   + CASE WHEN COUNT(*) > COUNT(p_size)
                          THEN 1 ELSE 0 END AS nr
            FROM part WHERE p_type IS NOT NULL GROUP BY p_type)),
    f3 AS (
      SELECT 'supplier: s_nationkey->n_name' AS fd, nr
      FROM (SELECT COUNT(DISTINCT n_name)
                   + CASE WHEN COUNT(*) > COUNT(n_name)
                          THEN 1 ELSE 0 END AS nr
            FROM supplier JOIN nation ON n_nationkey = s_nationkey
            WHERE s_nationkey IS NOT NULL GROUP BY s_nationkey)),
    f4 AS (
      SELECT 'orders: o_orderkey->o_orderstatus' AS fd, nr
      FROM (SELECT COUNT(DISTINCT o_orderstatus)
                   + CASE WHEN COUNT(*) > COUNT(o_orderstatus)
                          THEN 1 ELSE 0 END AS nr
            FROM orders WHERE o_orderkey IS NOT NULL
            GROUP BY o_orderkey)),
    u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2
          UNION ALL SELECT * FROM f3 UNION ALL SELECT * FROM f4)
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS lhs_keys,
           CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_keys,
           ROUND(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS violation_rate,
           CAST(MAX(nr) AS BIGINT) AS max_rhs_values,
           MAX(nr) <= 1 AS holds
    FROM u GROUP BY fd
    """,
    doc="Functional-dependency audit across four candidate "
    "dependencies (operators/dq.py:fd_violations): two catalog FDs "
    "that FAIL on this data (brand->type, type->size), one that "
    "HOLDS via the dimension join (nationkey->name), and one "
    "primary-key FD (orderkey->status). The schema-discovery rung "
    "of the DQ family: each FD is one two-level distinct rollup "
    "(pair groupBy then key groupBy — pair cardinality shuffles, "
    "never the fact) reduced to a single row; NULL rhs values are "
    "counted as values via a NULL-flagged struct",
)
def fd_audit_catalog_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import fd_violations

    part = load(spark, sf_dir, "part")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    sn = sup.join(
        F.broadcast(nat),
        sup["s_nationkey"] == nat["n_nationkey"],
    )
    frames = [
        fd_violations(part, ["p_brand"], "p_type", "part: p_brand->p_type"),
        fd_violations(part, ["p_type"], "p_size", "part: p_type->p_size"),
        fd_violations(
            sn, ["s_nationkey"], "n_name", "supplier: s_nationkey->n_name"
        ),
        fd_violations(
            orders,
            ["o_orderkey"],
            "o_orderstatus",
            "orders: o_orderkey->o_orderstatus",
        ),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@_q(
    "zorder_pruning_parts",
    """
    WITH pts AS (
      SELECT p_partkey,
             CAST(p_size AS BIGINT) AS size,
             (CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                   AS BIGINT) - 90000) // 400 AS pb
      FROM part),
    zk AS (
      SELECT p_partkey, size, pb,
             ( ((pb >> 0) & 1) << 0 ) | ( ((size >> 0) & 1) << 1 )
           | ( ((pb >> 1) & 1) << 2 ) | ( ((size >> 1) & 1) << 3 )
           | ( ((pb >> 2) & 1) << 4 ) | ( ((size >> 2) & 1) << 5 )
           | ( ((pb >> 3) & 1) << 6 ) | ( ((size >> 3) & 1) << 7 )
           | ( ((pb >> 4) & 1) << 8 ) | ( ((size >> 4) & 1) << 9 )
           | ( ((pb >> 5) & 1) << 10 ) | ( ((size >> 5) & 1) << 11 )
           | ( ((pb >> 6) & 1) << 12 ) | ( ((size >> 6) & 1) << 13 )
           | ( ((pb >> 7) & 1) << 14 ) | ( ((size >> 7) & 1) << 15 )
             AS zkey
      FROM pts),
    gz AS (
      SELECT ntile(16) OVER (ORDER BY zkey, p_partkey) AS fg,
             size, pb
      FROM zk),
    gl AS (
      SELECT ntile(16) OVER (ORDER BY pb, size, p_partkey) AS fg,
             size, pb
      FROM pts),
    sz AS (
      SELECT 'zorder' AS layout, CAST(fg AS BIGINT) AS file_group,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(pb) AS BIGINT) AS min_pb,
             CAST(MAX(pb) AS BIGINT) AS max_pb,
             CAST(MIN(size) AS BIGINT) AS min_size,
             CAST(MAX(size) AS BIGINT) AS max_size
      FROM gz GROUP BY fg),
    sl AS (
      SELECT 'linear' AS layout, CAST(fg AS BIGINT) AS file_group,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(pb) AS BIGINT) AS min_pb,
             CAST(MAX(pb) AS BIGINT) AS max_pb,
             CAST(MIN(size) AS BIGINT) AS min_size,
             CAST(MAX(size) AS BIGINT) AS max_size
      FROM gl GROUP BY fg),
    u AS (SELECT * FROM sz UNION ALL SELECT * FROM sl)
    SELECT layout, file_group, n_rows, min_pb, max_pb,
           min_size, max_size,
           (max_size < 10 OR min_size > 20) AS prunable
    FROM u
    """,
    doc="Z-order vs linear layout pruning audit over part "
    "(operators/layout.py:zorder_key + layout_pruning_stats): "
    "interleave (price-bucket, size) bits into a Morton key, split "
    "the sorted table into 16 simulated files, and report each "
    "file's min/max footer stats plus whether a predicate on the "
    "SECONDARY dimension (size 10-20; domain is 1-50, so pruning is "
    "earned per-group, never vacuous) could SKIP it — the "
    "Delta/Iceberg OPTIMIZE ZORDER capability as a measurable "
    "operator, posed the way it matters: the linear layout is "
    "sorted by price-bucket first, so its files span all sizes and "
    "prune NOTHING on a size predicate (0/16 at sf0.01+), while the "
    "z-ordered layout stays narrow in both dimensions and skips "
    "8-11 of 16 (measured at sf0.001/0.01/0.1). Pure bit-arithmetic "
    "column expressions (codegen, no UDF); at scale the ntile "
    "stands in for repartitionByRange on the same key and the stats "
    "frame IS per-file metadata (n_groups rows)",
)
def zorder_pruning_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import layout_pruning_stats, zorder_key

    part = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.expr(
            "(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
            " - 90000) div 400"
        ).alias("pb"),
    )
    box = {"size": (10, 20)}
    z = layout_pruning_stats(
        part.withColumn("__z", zorder_key(["pb", "size"], bits=8)),
        ["pb", "size"],
        F.col("__z"),
        "p_partkey",
        16,
        box,
        "zorder",
    )
    lin = layout_pruning_stats(
        part.withColumn(
            "__lin",
            F.col("pb") * F.lit(1 << 16) + F.col("size"),
        ),
        ["pb", "size"],
        F.col("__lin"),
        "p_partkey",
        16,
        box,
        "linear",
    )
    return z.unionByName(lin)


@_q(
    "snapshot_diff_supplier",
    """
    WITH old AS (
      SELECT s_suppkey, s_name, s_nationkey,
             ROUND(s_acctbal, 6) AS s_acctbal
      FROM supplier),
    new AS (
      -- deterministic synthetic replica drift: drop keys %17=3,
      -- rebalance keys %11=0, append shifted copies of keys %23=0
      SELECT s_suppkey, s_name, s_nationkey,
             CASE WHEN s_suppkey % 11 = 0
                  THEN ROUND(s_acctbal + 100, 6) ELSE s_acctbal END
               AS s_acctbal
      FROM old WHERE s_suppkey % 17 <> 3
      UNION ALL
      SELECT s_suppkey + 100000, s_name, s_nationkey, s_acctbal
      FROM old WHERE s_suppkey % 23 = 0),
    j AS (
      SELECT COALESCE(n.s_suppkey, o.s_suppkey) AS s_suppkey,
             COALESCE(n.s_name, o.s_name) AS s_name,
             COALESCE(n.s_nationkey, o.s_nationkey) AS s_nationkey,
             CASE WHEN n.s_suppkey IS NOT NULL THEN n.s_acctbal
                  ELSE o.s_acctbal END AS s_acctbal,
             CASE
               WHEN o.s_suppkey IS NOT NULL AND n.s_suppkey IS NOT NULL
                    AND (o.s_name IS DISTINCT FROM n.s_name
                         OR o.s_nationkey IS DISTINCT FROM n.s_nationkey
                         OR o.s_acctbal IS DISTINCT FROM n.s_acctbal)
                 THEN 'U'
               WHEN o.s_suppkey IS NULL THEN 'I'
               WHEN n.s_suppkey IS NULL THEN 'D'
             END AS op
      FROM old o FULL OUTER JOIN new n ON o.s_suppkey = n.s_suppkey)
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal, op
    FROM j WHERE op IS NOT NULL
    """,
    doc="snapshot diff -> CDC batch (operators/scd.py:snapshot_diff),"
    " the INVERSE of cdc_supplier_apply: derive the I/U/D change "
    "batch that turns the supplier snapshot into a drifted replica — "
    "how replication validates and repairs without re-shipping the "
    "table. NULL-safe per-column comparison via struct eqNullSafe "
    "(no rendering, no hash false-negatives); identical rows emit "
    "nothing. ONE full outer join on the key both sides are already "
    "clustered by (bucketed warehouse layouts skip the exchange); "
    "roundtrip apply_cdc(old, diff) == new is pytest-pinned",
)
def snapshot_diff_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import snapshot_diff

    old = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey",
        F.round("s_acctbal", 6).alias("s_acctbal"),
    )
    new = (
        old.filter(F.col("s_suppkey") % 17 != 3)
        .withColumn(
            "s_acctbal",
            F.when(
                F.col("s_suppkey") % 11 == 0,
                F.round(F.col("s_acctbal") + 100, 6),
            ).otherwise(F.col("s_acctbal")),
        )
        .unionByName(
            old.filter(F.col("s_suppkey") % 23 == 0).withColumn(
                "s_suppkey", F.col("s_suppkey") + 100000
            )
        )
    )
    return snapshot_diff(old, new, ["s_suppkey"])


@_q(
    "fingerprint_orders",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substring(md5(
                 chr(0) || 'V' || CAST(o_orderkey AS VARCHAR)
              || chr(31) || chr(0) || 'V' || CAST(o_custkey AS VARCHAR)
              || chr(31) || chr(0) || 'V'
                 || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
              || chr(31) || chr(0) || 'V' || CAST(CAST(o_orderdate AS DATE)
                                             AS VARCHAR)), 1, 15))::BIGINT
             AS HUGEINT))
             % (1152921504606846976::HUGEINT) AS BIGINT) AS fingerprint
    FROM orders GROUP BY o_orderstatus
    """,
    doc="order-insensitive table fingerprint "
    "(operators/dq.py:table_fingerprint): per-status replication "
    "checksum — two copies of orders agree iff these mod-2^60 BIGINT "
    "residues of summed engine-portable md5_60 row hashes agree, "
    "under ANY row order, partitioning, or engine (the oracle "
    "recomputes the identical arithmetic; THIS GREEN ROW IS ITSELF "
    "the cross-engine replication check). Modular addition keeps "
    "mergeability: fp(A∪B) = (fp(A)+fp(B)) mod 2^60, so "
    "per-partition fingerprints roll up to any grain; the BIGINT "
    "residue dodges the bare-decimal→double ulp divergence that "
    "reddened the round-7 row. NULLs carry an impersonation-proof "
    "\\x00N tag; floats quantize to DECIMAL first (the round-6 "
    "compare rule). One map-side-combined groupBy",
)
def fingerprint_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import table_fingerprint

    orders = load(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(12,2)").alias("o_price"),
        F.col("o_orderdate").cast("date").alias("o_date"),
    )
    return table_fingerprint(
        orders,
        ["o_orderstatus"],
        ["o_orderkey", "o_custkey", "o_price", "o_date"],
    )


@_q(
    "cuped_user_value",
    """
    WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
               WHERE value IS NOT NULL),
    pre AS (
      SELECT user_id,
             ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*), 6) AS x
      FROM e WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id),
    post AS (
      SELECT user_id,
             ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*), 6) AS y
      FROM e WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY user_id),
    u AS (
      SELECT post.user_id, pre.x, post.y,
             CASE WHEN substring(md5(CAST(post.user_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm
      FROM post JOIN pre ON pre.user_id = post.user_id),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(CAST(SUM(CAST(x AS DECIMAL(38,6))) AS VARCHAR)
                  AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(y AS DECIMAL(38,6))) AS VARCHAR)
                  AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(18,6))
                           * CAST(y AS DECIMAL(18,6))
                           AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(CAST(x AS DECIMAL(18,6))
                           * CAST(x AS DECIMAL(18,6))
                           AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(CAST(y AS DECIMAL(18,6))
                           * CAST(y AS DECIMAL(18,6))
                           AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) AS syy,
             CAST(CAST(SUM(CASE WHEN arm = 'A'
                           THEN CAST(y AS DECIMAL(38,6)) END) AS VARCHAR)
                  AS DOUBLE)
               AS sya,
             CAST(CAST(SUM(CASE WHEN arm <> 'A'
                           THEN CAST(y AS DECIMAL(38,6)) END) AS VARCHAR)
                  AS DOUBLE)
               AS syb,
             CAST(CAST(SUM(CASE WHEN arm = 'A'
                           THEN CAST(x AS DECIMAL(38,6)) END) AS VARCHAR)
                  AS DOUBLE)
               AS sxa,
             CAST(CAST(SUM(CASE WHEN arm <> 'A'
                           THEN CAST(x AS DECIMAL(38,6)) END) AS VARCHAR)
                  AS DOUBLE)
               AS sxb
      FROM u)
    SELECT n_a,
           CAST(n - n_a AS BIGINT) AS n_b,
           FLOOR((sya / n_a) * 1000000.0 + 0.5) / 1000000.0 AS mean_a,
           FLOOR((syb / (n - n_a)) * 1000000.0 + 0.5) / 1000000.0
             AS mean_b,
           FLOOR((syb / (n - n_a) - sya / n_a) * 1000000.0 + 0.5)
             / 1000000.0 AS diff_raw,
           FLOOR(((n * sxy - sx * sy) / (n * sxx - sx * sx))
                 * 1000000.0 + 0.5) / 1000000.0 AS theta,
           FLOOR((sya / n_a - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                  * (sxa / n_a - sx / n)) * 1000000.0 + 0.5) / 1000000.0
             AS adj_mean_a,
           FLOOR((syb / (n - n_a) - (n * sxy - sx * sy)
                  / (n * sxx - sx * sx)
                  * (sxb / (n - n_a) - sx / n)) * 1000000.0 + 0.5)
             / 1000000.0 AS adj_mean_b,
           FLOOR(((syb / (n - n_a) - (n * sxy - sx * sy)
                   / (n * sxx - sx * sx) * (sxb / (n - n_a) - sx / n))
                  - (sya / n_a - (n * sxy - sx * sy)
                     / (n * sxx - sx * sx) * (sxa / n_a - sx / n)))
                 * 1000000.0 + 0.5) / 1000000.0
             AS diff_adj,
           FLOOR(((n * sxy - sx * sy) * (n * sxy - sx * sy)
                  / ((n * sxx - sx * sx) * (n * syy - sy * sy)))
                 * 1000000.0 + 0.5) / 1000000.0
             AS var_reduction
    FROM m
    """,
    doc="CUPED variance-reduced A/B readout "
    "(operators/relational.py:cuped_readout): each user's "
    "second-half value metric adjusted by their PRE-period covariate "
    "(first-half mean, stable_avg discipline), theta = cov/var from "
    "EXACT DECIMAL moments (ols_order_value discipline — summation "
    "order unobservable), arms by the md5 parity both engines "
    "compute identically. One unit-frame aggregate -> 1 row; "
    "var_reduction = corr(x,y)^2 is the variance the covariate "
    "removes. The workhorse rung above ab_experiment_readout's raw "
    "Welch readout",
)
def cuped_user_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import cuped_readout

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    split = F.lit("2024-01-16").cast("timestamp")
    pre = (
        ev.filter(F.col("ts") < split)
        .groupBy("user_id")
        .agg(stable_avg("value").alias("x"))
    )
    post = (
        ev.filter(F.col("ts") >= split)
        .groupBy("user_id")
        .agg(stable_avg("value").alias("y"))
    )
    units = post.join(pre, "user_id").withColumn(
        "arm",
        F.when(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 1).isin(
                list("01234567")
            ),
            "A",
        ).otherwise("B"),
    )
    return cuped_readout(units, "arm", "y", "x", "A", "B")


@_q(
    "tpch_q2_min_cost_supp",
    """
    WITH cand AS (
      SELECT l.l_partkey, l.l_suppkey, l.l_extendedprice
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE')
    SELECT c.l_partkey AS p_partkey,
           p.p_brand,
           s.s_name,
           n.n_name,
           ROUND(c.l_extendedprice, 6) AS min_price
    FROM cand c
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE c.l_extendedprice = (SELECT MIN(c2.l_extendedprice)
                               FROM cand c2
                               WHERE c2.l_partkey = c.l_partkey)
    ORDER BY min_price DESC, p_partkey, s_name LIMIT 100
    """,
    doc="TPC-H Q2 shape: cheapest in-region supplier per part — the "
    "CORRELATED SCALAR-MIN subquery, compiled as aggregate-then-"
    "rejoin (groupBy min on the candidate frame + equi-join back), "
    "the third argmin form next to q02's window argmax and "
    "topk_per_group's row_number cut: no per-group window state, "
    "partial-aggregable, ties kept — the shape to prefer when groups "
    "are huge and only the extreme row survives. Adapted to the "
    "testdata (no partsupp table): candidates are EUROPE lineitems. "
    "Region/nation/supplier dims broadcast; the candidate frame "
    "shuffles once on partkey for the min and reuses that exchange "
    "for the rejoin. Top-100 -> TakeOrderedAndProject",
)
def tpch_q2_min_cost_supp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part")
    # the candidate frame carries the dim attributes through, so the
    # argmin rejoin never touches the dims again (no self-join)
    cand = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("l_partkey", "l_extendedprice", "s_name", "n_name")
    )
    mins = cand.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("__min_price")
    )
    winners = cand.join(mins, "l_partkey").filter(
        F.col("l_extendedprice") == F.col("__min_price")
    )
    return (
        winners.join(F.broadcast(p), winners["l_partkey"] == p["p_partkey"])
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            "n_name",
            F.round("l_extendedprice", 6).alias("min_price"),
        )
        .orderBy(F.col("min_price").desc(), "p_partkey", "s_name")
        .limit(100)
    )


@_q(
    "tpch_q13_custdist",
    """
    WITH co AS (
      SELECT c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape: distribution of orders per customer "
    "INCLUDING zero-order customers — the LEFT JOIN + COUNT(col) + "
    "re-aggregate double grouping; the join predicate carries the "
    "non-key filter (pushed to the orders scan under the LEFT join "
    "rewrite), so excluded orders count as absent, not as dropped "
    "customers. First groupBy shuffles (custkey) pairs; the second "
    "aggregates the per-customer counts — output is the tiny count "
    "histogram. Adapted filter: non-URGENT orders (testdata has no "
    "o_comment)",
)
def tpch_q13_custdist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    co = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        co.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@_q(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(l_discount AS DECIMAL(3,2)))
                     AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '2000-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '2001-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 forecasting revenue change: the purest "
    "scan-dominated classic — three conjunctive filters all pushed "
    "to the parquet scan (date range, discount band, quantity cap), "
    "one exact DECIMAL(12,2)x(3,2) product sum, map-side partial "
    "aggregation into a single-row reduce: ZERO join, ZERO groupBy "
    "shuffle; at 100 TB the plan is min/max-pruned row groups + one "
    "all-reduce. Discount literals compare against the same parquet "
    "doubles on both engines; the sum leaves decimal via the "
    "correctly-rounded VARCHAR roundtrip",
)
def tpch_q6_forecast_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2000-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("2001-01-01").cast("date"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(3,2)")
        )
        .cast("double")
        .alias("revenue")
    )


@_q(
    "tpch_q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l.l_discount AS DECIMAL(3,2)))
                     AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND CAST(l.l_shipdate AS DATE) >= DATE '2000-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 volume shipping: bilateral trade between two "
    "nations by year — the two-role dimension pattern (nation joins "
    "TWICE, once through the supplier leg, once through the "
    "customer leg) plus a disjunctive cross-leg predicate. Plan: "
    "nation/supplier/customer broadcast; the nation-pair filter "
    "cannot push below the joins (it correlates both legs) but the "
    "date filter pushes to the lineitem scan; one groupBy shuffle "
    "on the tiny (nation, nation, year) key. Exact decimal volume, "
    "VARCHAR-roundtrip output, fully-ordered deterministic result",
)
def tpch_q7_volume_shipping_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") >= F.lit("2000-01-01").cast("date")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("__n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("__n2key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(s), s["s_suppkey"] == li["l_suppkey"])
        .join(F.broadcast(n1), F.col("__n1key") == s["s_nationkey"])
        .join(F.broadcast(n2), F.col("__n2key") == c["c_nationkey"])
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return (
        j.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@_q(
    "tpch_q8_market_share",
    """
    WITH vol AS (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l.l_discount AS DECIMAL(3,2)) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n2.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY')
    SELECT o_year,
           ROUND(CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                               THEN volume
                               ELSE CAST(0 AS DECIMAL(16,4)) END) AS VARCHAR) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
    doc="TPC-H Q8 national market share: NATION_3 suppliers' slice "
    "of AMERICA customers' ECONOMY-part revenue by order year — the "
    "conditional-share-of-total pattern over a six-dim snowflake "
    "(nation joins twice again). Both numerator and denominator "
    "accumulate as exact DECIMAL(16,4) before ONE double division "
    "(a ratio is ulp-insulated: 1e-16 relative error sits 10 "
    "orders below the 6dp grain). All dims broadcast; region/type "
    "filters cut the fact before the groupBy; one tiny (year) "
    "shuffle",
)
def tpch_q8_market_share_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = n.select(
        F.col("n_nationkey").alias("__n2key"),
        F.col("n_regionkey").alias("__n2region"),
    )
    n1 = n.select(
        F.col("n_nationkey").alias("__n1key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n2), F.col("__n2key") == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == F.col("__n2region"))
        .join(F.broadcast(s), s["s_suppkey"] == li["l_suppkey"])
        .join(F.broadcast(n1), F.col("__n1key") == s["s_nationkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
            ).alias("volume"),
            "supp_nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("supp_nation") == "NATION_3", F.col("volume")
                    ).otherwise(F.lit(0).cast("decimal(16,4)"))
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@_q(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                           * CAST(1 - l.l_discount AS DECIMAL(3,2))
                         - CAST(l.l_quantity AS DECIMAL(12,0))
                           * (CAST(p.p_retailprice AS DECIMAL(12,2))
                              * CAST(0.6 AS DECIMAL(2,1))))
                     AS VARCHAR) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9 product-type profit: per supplier-nation per year, "
    "profit = revenue minus cost over name-matched parts. Adapted "
    "to the testdata (no partsupp.ps_supplycost): unit cost is the "
    "documented proxy 0.6 * p_retailprice, keeping the shape — a "
    "LIKE-filtered part dim, a four-join fact expansion, and a "
    "subtraction of two money products — intact. Every term is "
    "exact decimal (2dp x 2dp, integer qty x 3dp cost), so the "
    "group sums are order-exact; output via the correctly-rounded "
    "VARCHAR roundtrip. Part/supplier/nation broadcast; the LIKE "
    "filter cuts part BEFORE its join (predicate pushdown into the "
    "dim scan); one (nation, year) groupBy shuffle",
)
def tpch_q9_product_profit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(3,2)") - F.col("l_quantity").cast("decimal(12,0)") * (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit("0.6").cast("decimal(2,1)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), s["s_suppkey"] == li["l_suppkey"])
        .join(F.broadcast(n), n["n_nationkey"] == s["s_nationkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@_q(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * CAST(1 - l.l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE), 6) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '2001-01-01'
      AND o.o_orderdate < TIMESTAMP '2001-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 returned-item reporting: top-20 customers by "
    "revenue lost to returns in a quarter. The quarter filter "
    "pushes to the orders scan and the returnflag filter to the "
    "lineitem scan BEFORE the join, so the joined fact is ~1/12 x "
    "~1/3 of lineitem; nation broadcasts; per-customer groups are "
    "a handful of rows (exact decimal sums; the 6dp-rounded value "
    "plus the unique custkey tiebreak makes the top-20 cut "
    "deterministic) and the LIMIT compiles to "
    "TakeOrderedAndProject — no global sort",
)
def tpch_q10_returned_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(o, o["o_custkey"] == c["c_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
                ).cast("double"),
                6,
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@_q(
    "tpch_q11_important_parts",
    """
    WITH cand AS (
      SELECT l.l_partkey,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - l.l_discount AS DECIMAL(3,2)) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'),
    per AS (
      SELECT l_partkey, SUM(val) AS value FROM cand GROUP BY l_partkey),
    tot AS (SELECT SUM(value) AS total FROM per)
    SELECT per.l_partkey AS p_partkey,
           ROUND(CAST(per.value AS DOUBLE), 6) AS part_value
    FROM per CROSS JOIN tot
    WHERE per.value > tot.total * CAST(0.001 AS DECIMAL(6,4))
    ORDER BY part_value DESC, p_partkey
    """,
    doc="TPC-H Q11 important stock: parts whose in-region revenue "
    "exceeds a FRACTION of the region total — the "
    "share-of-global-scalar HAVING pattern. Adapted to the testdata "
    "(no partsupp): value is ASIA-supplier lineitem revenue. The "
    "cut compares exact decimals on BOTH sides (group sum vs total "
    "x exact decimal 0.001), so membership is engine- and "
    "partitioning-exact — only the displayed value rounds to 6dp. "
    "Plan: region/nation/supplier broadcast, one partkey groupBy, "
    "a 1-row broadcast total joined back; nothing row-scale moves "
    "twice",
)
def tpch_q11_important_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cand = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), n["n_nationkey"] == s["s_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .select(
            "l_partkey",
            (
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
            ).alias("__val"),
        )
    )
    per = cand.groupBy("l_partkey").agg(F.sum("__val").alias("__value"))
    tot = per.agg(F.sum("__value").alias("__total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .filter(
            F.col("__value")
            > F.col("__total") * F.lit("0.001").cast("decimal(6,4)")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("__value").cast("double"), 6).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


@_q(
    "tpch_q12_late_shipments",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE)
            > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY
      AND CAST(l.l_shipdate AS DATE) >= DATE '2000-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '2001-01-01'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
    doc="TPC-H Q12 shipping modes / late lines: conditional priority "
    "counts over lines that shipped late. Adapted to the testdata "
    "(no l_shipmode/commitdate/receiptdate): 'late' is shipdate "
    "more than 60 days after the order date, grouped by linestatus "
    "— the cross-table date-arithmetic predicate (it references "
    "BOTH sides, so it evaluates post-join while the year filter "
    "still pushes to the lineitem scan) and the dual conditional "
    "count are the capability. One equi-join shuffle on orderkey, "
    "one 2-row groupBy",
)
def tpch_q12_late_shipments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2000-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("2001-01-01").cast("date"))
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 60)
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@_q(
    "tpch_q14_promo_revenue",
    """
    SELECT ROUND(100.0
                 * CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                      * CAST(1 - l.l_discount AS DECIMAL(3,2))
                                 ELSE CAST(0 AS DECIMAL(16,4)) END) AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                            * CAST(1 - l.l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE), 6) AS promo_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '2000-09-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '2000-10-01'
    """,
    doc="TPC-H Q14 promotion effect: promo-typed parts' percentage "
    "of one month's revenue. The testdata's p_type is already the "
    "category ('PROMO'), so the LIKE 'PROMO%%' prefix becomes "
    "equality. Month filter pushes to the lineitem scan, part "
    "broadcasts, single-row conditional-share readout; both sums "
    "exact decimal with ONE final double division (ratio is "
    "ulp-insulated)",
)
def tpch_q14_promo_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2000-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("2000-10-01").cast("date"))
    )
    p = load(spark, sf_dir, "part")
    vol = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(3,2)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(
                        F.lit(0).cast("decimal(16,4)")
                    )
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@_q(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(1 - l_discount AS DECIMAL(3,2))) AS total_rev
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '2000-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '2000-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           ROUND(CAST(rev.total_rev AS DOUBLE), 6) AS total_revenue
    FROM rev
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 top supplier: the revenue VIEW + scalar-MAX "
    "subquery classic — per-supplier quarter revenue, then exactly "
    "the supplier(s) hitting the maximum (ties kept, per the spec). "
    "The max comparison happens on exact DECIMAL revenue, so the "
    "winner set is engine- and partitioning-exact; only the display "
    "value rounds. Plan: one suppkey groupBy (map-side combined), a "
    "1-row broadcast max joined back — the aggregate-then-rejoin "
    "argmax, third use of the q2/q15 pattern; supplier dim "
    "broadcasts",
)
def tpch_q15_top_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2000-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("2000-04-01").cast("date"))
    )
    s = load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
        ).alias("__total_rev")
    )
    mx = rev.agg(F.max("__total_rev").alias("__max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("__total_rev") == F.col("__max_rev"))
        .join(F.broadcast(s), s["s_suppkey"] == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("__total_rev").cast("double"), 6).alias(
                "total_revenue"
            ),
        )
        .orderBy("s_suppkey")
    )


@_q(
    "tpch_q16_supplier_cnt",
    """
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    ok_supp AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0)
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 5, 9, 15, 20)
      AND pr.l_suppkey IN (SELECT s_suppkey FROM ok_supp)
    GROUP BY p.p_brand, p.p_type, CAST(p.p_size AS BIGINT)
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
    """,
    doc="TPC-H Q16 parts/supplier relationship: distinct supplier "
    "counts per (brand, type, size) bucket with a NOT-this-brand "
    "filter and an excluded-supplier subquery. Adapted to the "
    "testdata (no partsupp, no s_comment): the part-supplier "
    "relation is DISTINCT lineitem pairs and the 'complaints' "
    "exclusion is suppliers with negative account balance, kept as "
    "a semi-join (the spec's NOT IN has no NULLs here). Pairs "
    "dedup first — the COUNT DISTINCT shuffles (brand,type,size, "
    "suppkey) pairs, never raw lineitem; part and the supplier "
    "filter broadcast. Fully-ordered deterministic output",
)
def tpch_q16_supplier_cnt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 5, 9, 15, 20)
    )
    ok = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0)
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(ok.select("s_suppkey")),
            pairs["l_suppkey"] == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy(
            "p_brand", "p_type", F.col("p_size").cast("long").alias("p_size")
        )
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@_q(
    "tpch_q17_small_qty_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, AVG(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT ROUND(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / 7.0, 6) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa    ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#7'
      AND l.l_quantity < 0.2 * pa.avg_qty
    """,
    doc="TPC-H Q17 small-quantity-order revenue: lines whose "
    "quantity is under 20%% of their part's average — the "
    "correlated per-group AVG subquery, compiled as "
    "aggregate-then-rejoin on partkey. Quantities are "
    "integer-valued doubles, so each part's sum/count average and "
    "the 0.2x threshold are bit-identical on both engines; the "
    "kept-line price sum is exact decimal with one final /7 "
    "division. The brand filter cuts part to ~4%% before its "
    "broadcast join; the per-part average is a partkey-keyed "
    "aggregate whose exchange co-partitions with the rejoin",
)
def tpch_q17_small_qty_revenue_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#7")
    pa = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.avg("l_quantity").alias("__avg_qty")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(pa, li["l_partkey"] == F.col("__pk"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("__avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast(
                    "double"
                )
                / F.lit(7.0),
                6,
            ).alias("avg_yearly")
        )
    )


@_q(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l.l_discount AS DECIMAL(3,2)))
                     AS VARCHAR) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 discounted revenue: the disjunction-of-"
    "conjunctions predicate (three brand/size/quantity bands "
    "OR-ed) spanning BOTH join sides — the shape that tests an "
    "optimizer's ability to split a cross-side OR: the "
    "part-only disjuncts (brand+size) reduce the broadcast side, "
    "the quantity bounds (1..30 overall) derive a scan-level "
    "filter, and the full predicate evaluates post-join. Exact "
    "decimal sum, VARCHAR-roundtrip output, single-row reduce "
    "(a bare aggregate keeps the row even when nothing matches)",
)
def tpch_q19_disjunctive_revenue_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@_q(
    "tpch_q20_dominant_supplier",
    """
    WITH sp AS (
      SELECT l.l_suppkey, l.l_partkey,
             CAST(SUM(l.l_quantity) AS BIGINT) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'ECONOMY'
        AND CAST(l.l_shipdate AS DATE) >= DATE '2000-01-01'
        AND CAST(l.l_shipdate AS DATE) < DATE '2001-01-01'
      GROUP BY l.l_suppkey, l.l_partkey),
    pt AS (
      SELECT l_partkey,
             CAST(SUM(qty) AS BIGINT) AS total_qty,
             CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM sp GROUP BY l_partkey),
    dominant AS (
      SELECT DISTINCT sp.l_suppkey
      FROM sp JOIN pt ON pt.l_partkey = sp.l_partkey
      WHERE 2 * sp.qty * pt.n_supp > 3 * pt.total_qty
        AND pt.n_supp >= 2)
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q20 potential part promotion: suppliers holding a "
    "dominant share of a part's flow — the nested "
    "IN(SELECT..WHERE correlated-aggregate-threshold) shape. "
    "Adapted to the testdata (no partsupp.ps_availqty): a supplier "
    "qualifies on a part if its year-2000 shipped quantity exceeds "
    "1.5x the part's per-supplier mean, written CROSS-MULTIPLIED "
    "(2*qty*n_supp > 3*total) so the comparison is exact BIGINT — "
    "no division, engine-exact membership at any scale. Plan: one "
    "(supp, part) groupBy, one part rollup, an equi-join back on "
    "partkey (the threshold is scale-free, so the dominant set "
    "stays non-degenerate at every SF), then a semi join into the "
    "region-filtered supplier dim (broadcast)",
)
def tpch_q20_dominant_supplier_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("2000-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("2001-01-01").cast("date"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    sp = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("long").alias("__qty"))
    )
    pt = sp.groupBy(F.col("l_partkey").alias("__ptk")).agg(
        F.sum("__qty").cast("long").alias("__total_qty"),
        F.count("*").cast("long").alias("__n_supp"),
    )
    dominant = (
        sp.join(pt, sp["l_partkey"] == F.col("__ptk"))
        .filter(
            (F.col("__n_supp") >= 2)
            & (
                F.lit(2) * F.col("__qty") * F.col("__n_supp")
                > F.lit(3) * F.col("__total_qty")
            )
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), n["n_nationkey"] == s["s_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .join(dominant, s["s_suppkey"] == dominant["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@_q(
    "tpch_q22_global_sales_opportunity",
    """
    WITH rich AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(c.c_acctbal AS DECIMAL(12,2)) AS bal
      FROM customer c),
    thr AS (
      SELECT SUM(bal) AS pos_sum,
             CAST(COUNT(*) AS BIGINT) AS pos_cnt
      FROM rich WHERE bal > 0),
    elig AS (
      -- cross-multiplied threshold: bal > avg(positive bal), written
      -- bal * cnt > sum so both sides stay exact DECIMAL (no
      -- engine-dependent decimal division)
      SELECT r.c_custkey, r.c_nationkey, r.bal
      FROM rich r CROSS JOIN thr
      WHERE r.bal * thr.pos_cnt > thr.pos_sum
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = r.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(CAST(SUM(e.bal) AS DOUBLE), 6) AS totacctbal
    FROM elig e
    JOIN nation n ON n.n_nationkey = e.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="TPC-H Q22 global sales opportunity: customers richer than "
    "the average positive balance with NO RECENT ORDERS (none since "
    "2000-01-01; every testdata customer has SOME order, so the "
    "spec's dormancy window keeps the anti join non-vacuous) — "
    "scalar AVG subquery + NOT EXISTS anti join + rollup. Adapted "
    "to the testdata (no c_phone): grouped by nation instead of "
    "phone prefix. The above-average cut is CROSS-MULTIPLIED (bal "
    "> sum) so membership compares exact decimals — decimal "
    "division rounds differently per engine and a double average "
    "is summation-order dependent; neither can flip a customer "
    "here. Plan: 1-row broadcast threshold, anti join shuffles "
    "only custkeys, nation broadcasts into the tiny rollup",
)
def tpch_q22_global_sales_opportunity_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.col("c_acctbal").cast("decimal(12,2)").alias("__bal"),
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    n = load(spark, sf_dir, "nation")
    thr = c.filter(F.col("__bal") > 0).agg(
        F.sum("__bal").alias("__pos_sum"),
        F.count("*").cast("long").alias("__pos_cnt"),
    )
    elig = (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("__bal") * F.col("__pos_cnt") > F.col("__pos_sum"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    )
    return (
        elig.join(F.broadcast(n), n["n_nationkey"] == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum("__bal").cast("double"), 6).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


#: Poisson(1) inverse-CDF thresholds on a uniform in [0, 1e9) — the
#: SQL mirror of operators/resample.py:_POISSON1_THRESHOLDS.
_POIS_SQL_W = (
    "CASE WHEN {u} < 367879441 THEN 0 WHEN {u} < 735758882 THEN 1 "
    "WHEN {u} < 919698602 THEN 2 WHEN {u} < 981011843 THEN 3 "
    "WHEN {u} < 996340153 THEN 4 ELSE 5 END"
)


@_q(
    "bootstrap_ci_order_value",
    """
    WITH reps AS (SELECT unnest(range(64)) AS b),
    cells AS (
      SELECT o.o_orderstatus, reps.b,
             SUM(({w}) * CAST(o.o_totalprice AS DECIMAL(18,6))) AS num,
             CAST(SUM({w}) AS BIGINT) AS den
      FROM orders o CROSS JOIN reps
      WHERE o.o_orderkey IS NOT NULL
        AND TRY_CAST(o.o_totalprice AS DECIMAL(18,6)) IS NOT NULL
      GROUP BY o.o_orderstatus, reps.b),
    means AS (
      SELECT o_orderstatus, b,
             ROUND(CAST(num AS DOUBLE) / den, 6) AS mean_b
      FROM cells WHERE den > 0),
    ranked AS (
      SELECT o_orderstatus, b, mean_b,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY mean_b, b) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS m
      FROM means),
    ci AS (
      SELECT o_orderstatus,
             CAST(MAX(m) AS BIGINT) AS n_replicates,
             MAX(CASE WHEN rn = FLOOR(m * 0.05) + 1
                      THEN mean_b END) AS ci_lo,
             MAX(CASE WHEN rn = m - FLOOR(m * 0.05)
                      THEN mean_b END) AS ci_hi
      FROM ranked GROUP BY o_orderstatus),
    pt AS (
      -- the operator's admission rule verbatim (resample.py): NULL
      -- ids and values that do not TRY_CAST into DECIMAL(18,6) are
      -- excluded identically on both engines
      SELECT o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS point_mean
      FROM orders
      WHERE o_orderkey IS NOT NULL
        AND TRY_CAST(o_totalprice AS DECIMAL(18,6)) IS NOT NULL
      GROUP BY o_orderstatus)
    SELECT pt.o_orderstatus, pt.n_rows, pt.point_mean,
           ci.n_replicates, ci.ci_lo, ci.ci_hi
    FROM pt LEFT JOIN ci ON ci.o_orderstatus = pt.o_orderstatus
    ORDER BY pt.o_orderstatus
    """.format(
        w=_POIS_SQL_W.format(
            u="(('0x' || substring(md5(CAST(o.o_orderkey AS VARCHAR)"
            " || ':' || CAST(reps.b AS VARCHAR) || ':boot'), 1, 15))"
            "::BIGINT % 1000000000)"
        )
    ),
    doc="deterministic Poisson-bootstrap 90%% CI for mean order value "
    "per status (operators/resample.py:poisson_bootstrap_ci) — the "
    "distribution-free inference rung the closed-form tests can't "
    "cover (Chamandy et al. 2012's one-pass massive-data bootstrap). "
    "Each row's weight in replicate b is the inverse-CDF Poisson(1) "
    "bucket of md5_60(id:b:salt), so BOTH engines draw identical "
    "resamples and the full CI is value-checked, not rows-only. "
    "Exact DECIMAL weighted sums per replicate, one double division, "
    "integer rank selection at floor(m*alpha/2). Plan: explode x64 "
    "BEFORE a map-side combined groupBy — the exchange carries "
    "(status, b) cells, never the exploded fact",
)
def bootstrap_ci_order_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.resample import poisson_bootstrap_ci

    o = load(spark, sf_dir, "orders")
    return poisson_bootstrap_ci(
        o,
        ["o_orderstatus"],
        "o_totalprice",
        "o_orderkey",
        replicates=64,
        alpha=0.1,
    )


#: geofence polygons in integer micro-degrees (x = lon, y = lat) —
#: shared by the Spark builder and (via _fence_edges_sql) the DuckDB
#: oracle so there is exactly one source of truth for the geometry.
_FENCE_POLYGONS = [
    (
        "atlantic_box",
        [
            (-40_000_000, 10_000_000),
            (-10_000_000, 10_000_000),
            (-10_000_000, 40_000_000),
            (-40_000_000, 40_000_000),
        ],
    ),
    (
        "pacific_tri",
        [
            (110_000_000, -20_000_000),
            (170_000_000, 5_000_000),
            (125_000_000, 35_000_000),
        ],
    ),
    (
        "indian_pent",
        [
            (55_000_000, -25_000_000),
            (85_000_000, -20_000_000),
            (90_000_000, 5_000_000),
            (70_000_000, 15_000_000),
            (50_000_000, 0),
        ],
    ),
]


def _fence_edges_sql() -> str:
    rows = []
    for pid, verts in _FENCE_POLYGONS:
        n = len(verts)
        for i in range(n):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % n]
            rows.append(f"('{pid}', {x1}, {y1}, {x2}, {y2})")
    return ", ".join(rows)


@_q(
    "geo_fence_customers",
    """
    WITH pts AS (
      SELECT c_custkey,
             (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                || ':lon'), 1, 15))::BIGINT %% 360000000) - 180000000
               AS px,
             (('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                || ':lat'), 1, 15))::BIGINT %% 120000000) - 60000000
               AS py
      FROM customer),
    edges(poly_id, x1, y1, x2, y2) AS (VALUES %s),
    crossings AS (
      SELECT p.c_custkey, e.poly_id,
             SUM(CASE WHEN ((e.y1 > p.py) <> (e.y2 > p.py))
                       AND (((e.y2 > e.y1) AND
                             ((p.py - e.y1) * (e.x2 - e.x1)
                              - (p.px - e.x1) * (e.y2 - e.y1)) > 0)
                         OR ((e.y2 < e.y1) AND
                             ((p.py - e.y1) * (e.x2 - e.x1)
                              - (p.px - e.x1) * (e.y2 - e.y1)) < 0))
                      THEN 1 ELSE 0 END) AS k
      FROM pts p CROSS JOIN edges e
      GROUP BY p.c_custkey, e.poly_id)
    SELECT c_custkey, poly_id
    FROM crossings WHERE k %% 2 = 1
    ORDER BY c_custkey, poly_id
    """
    % _fence_edges_sql(),
    doc="geofencing join (operators/geo.py:point_in_polygon_join): "
    "which customers' md5-synthesized micro-degree coordinates fall "
    "inside three literal fence polygons, by EXACT-BIGINT ray "
    "casting (half-open straddle rule + division-free "
    "cross-multiplied intersection test — no epsilon, no float "
    "slope, bit-identical verdicts on any engine). The containment "
    "rung of the spatial family next to grid_knn_join's proximity "
    "rung. Spark prunes candidates by per-polygon bounding box "
    "before any edge row is emitted; the DuckDB oracle is the "
    "EXHAUSTIVE points x edges product, so every green row also "
    "proves the bbox rejection drops no true member",
)
def geo_fence_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_hash_col
    from ..operators.geo import point_in_polygon_join

    # the canonical md5_60 hash (dedup.token_hash_col) keyed by
    # custkey+salt, reduced to integer micro-degrees
    def _coord(salt: str, span: int, off: int):
        h = token_hash_col(
            F.concat(F.col("c_custkey").cast("string"), F.lit(salt)),
            "md5_60",
        )
        return F.pmod(h, F.lit(span)) - F.lit(off)

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord(":lon", 360_000_000, 180_000_000).alias("px"),
        _coord(":lat", 120_000_000, 60_000_000).alias("py"),
    )
    return point_in_polygon_join(
        cust, "c_custkey", "px", "py", _FENCE_POLYGONS
    ).orderBy("c_custkey", "poly_id")


@_q(
    "mi_status_priority",
    """
    WITH base AS (
      SELECT o_orderstatus AS a, o_orderpriority AS b
      FROM orders
      WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
    obs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o
            FROM base GROUP BY a, b),
    ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS ra
           FROM base GROUP BY a),
    mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rb
           FROM base GROUP BY b),
    nn AS (SELECT CAST(SUM(ra) AS BIGINT) AS n FROM ma),
    mi AS (
      SELECT SUM((CAST(o AS DOUBLE) / n)
                 * LN((CAST(o AS DOUBLE) * n)
                      / (CAST(ra AS DOUBLE) * rb))
                 / 0.6931471805599453) AS v
      FROM obs JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nn),
    ha AS (
      SELECT -SUM((CAST(ra AS DOUBLE) / n)
                  * LN(CAST(ra AS DOUBLE) / n)
                  / 0.6931471805599453) AS v,
             CAST(MAX(n) AS BIGINT) AS n
      FROM ma CROSS JOIN nn),
    hb AS (
      SELECT -SUM((CAST(rb AS DOUBLE) / n)
                  * LN(CAST(rb AS DOUBLE) / n)
                  / 0.6931471805599453) AS v
      FROM mb CROSS JOIN nn)
    SELECT ha.n,
           ROUND(mi.v, 6) AS mi_bits,
           ROUND(ha.v, 6) AS h_a,
           ROUND(hb.v, 6) AS h_b,
           ROUND(ha.v - mi.v, 6) AS h_a_given_b,
           CASE WHEN LEAST(ha.v, hb.v) > 0
                THEN ROUND(mi.v / LEAST(ha.v, hb.v), 6) END AS redundancy
    FROM mi CROSS JOIN ha CROSS JOIN hb
    """,
    doc="mutual information I(status; priority) in bits "
    "(operators/relational.py:mutual_information) — the "
    "information-theoretic dependence readout next to chi-square's "
    "significance test: how many bits of one column the other "
    "carries, plus marginal entropies, conditional entropy and "
    "normalized redundancy (the feature-selection / leakage-screen "
    "number). Only OBSERVED pairs materialize (x log x -> 0); the "
    "same three map-side-combined aggregates as chi2 with broadcast "
    "marginals; per-cell log terms differ across libm in last ulps "
    "only — the round-6 sum over a handful of cells is 10 orders "
    "above that floor",
)
def mi_status_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import mutual_information

    o = load(spark, sf_dir, "orders")
    return mutual_information(o, "o_orderstatus", "o_orderpriority")


@_q(
    "forecast_scorecard_events",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE), 6)
               AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)),
    scored AS (
      SELECT a.event_type,
             a.v - f.v AS e,
             ABS(a.v - f.v) AS ae,
             CASE WHEN ABS(a.v) + ABS(f.v) > 0
                  THEN 2.0 * ABS(a.v - f.v) / (ABS(a.v) + ABS(f.v))
                  ELSE 0.0 END AS sm
      FROM d a JOIN d f ON f.event_type = a.event_type
                       AND a.day = f.day + INTERVAL 7 DAY),
    naive AS (
      SELECT a.event_type, AVG(ABS(a.v - p.v)) AS nmae
      FROM d a JOIN d p ON p.event_type = a.event_type
                       AND a.day = p.day + INTERVAL 1 DAY
      GROUP BY a.event_type),
    per AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_scored,
             ROUND(AVG(ae), 6) AS mae,
             ROUND(AVG(sm), 6) AS smape,
             ROUND(AVG(e), 6) AS bias,
             AVG(ae) AS mae_raw
      FROM scored GROUP BY event_type)
    SELECT per.event_type, per.n_scored, per.mae, per.smape, per.bias,
           CASE WHEN naive.nmae > 0
                THEN ROUND(per.mae_raw / naive.nmae, 6) END AS mase
    FROM per LEFT JOIN naive ON naive.event_type = per.event_type
    ORDER BY per.event_type
    """,
    doc="forecast-accuracy scorecard "
    "(operators/series.py:forecast_scorecard): MAE / SMAPE / signed "
    "bias / MASE per event type for the seasonal-naive daily-value "
    "forecast — the evaluation rung closing the forecasting loop "
    "(backtest scores, conformal calibrates, this GRADES on the "
    "standard scale-free yardsticks; MASE's denominator is the "
    "in-sample naive-1 MAE per Hyndman-Koehler 2006, NULL on "
    "constant series). Two self-joins of the already-reduced daily "
    "rollup + one per-key aggregate — nothing event-scale moves",
)
def forecast_scorecard_events_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.series import forecast_scorecard

    ev = load_events(spark, sf_dir)
    daily = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("v")
        )
    )
    return forecast_scorecard(
        daily, ["event_type"], "day", "v", period_days=7
    )


@_q(
    "funnel_view_click_purchase",
    """
    WITH e AS (SELECT user_id AS u, ts, event_type AS ty FROM events),
    s1 AS (SELECT u, MIN(ts) AS t FROM e WHERE ty = 'view' GROUP BY u),
    s2 AS (
      SELECT e.u, MIN(e.ts) AS t
      FROM e JOIN s1 ON s1.u = e.u
      WHERE e.ty = 'click' AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 1 DAY
      GROUP BY e.u),
    s3 AS (
      SELECT e.u, MIN(e.ts) AS t
      FROM e JOIN s2 ON s2.u = e.u
      WHERE e.ty = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t + INTERVAL 1 DAY
      GROUP BY e.u),
    c AS (
      SELECT 1 AS step_idx, 'view' AS step,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
      UNION ALL
      SELECT 2, 'click', (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
      UNION ALL
      SELECT 3, 'purchase', (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
    SELECT CAST(step_idx AS BIGINT) AS step_idx, step, n_users,
           CASE WHEN LAG(n_users) OVER (ORDER BY step_idx) > 0
                THEN ROUND(CAST(n_users AS DOUBLE)
                           / LAG(n_users) OVER (ORDER BY step_idx), 6)
           END AS conv_from_prev,
           CASE WHEN FIRST_VALUE(n_users) OVER (ORDER BY step_idx) > 0
                THEN ROUND(CAST(n_users AS DOUBLE)
                           / FIRST_VALUE(n_users)
                             OVER (ORDER BY step_idx), 6)
           END AS conv_from_first
    FROM c ORDER BY step_idx
    """,
    doc="windowed funnel analysis "
    "(operators/sessions.py:funnel_conversion): users completing "
    "view -> click (within 1 day, strictly after) -> purchase "
    "(within 1 day of the click) — the attrition readout that "
    "factors the session family's raw sequences (journeys rank "
    "paths, transitions factor hops, the funnel measures a CHOSEN "
    "path). Per-user MIN timestamps make the definition order-free "
    "and engine-exact; each step is a user-keyed aggregate whose "
    "joins all co-partition on the same key; the conversion readout "
    "is a 3-row lag window",
)
def funnel_view_click_purchase_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.sessions import funnel_conversion

    ev = load_events(spark, sf_dir)
    return funnel_conversion(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within="1 day",
    )


@_q(
    "kanon_customer_release",
    """
    WITH g AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT o_orderpriority)
                  + MAX(CASE WHEN o_orderpriority IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS l
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c_mktsegment, c_nationkey, bal_band),
    thr(k_threshold) AS (VALUES (2), (5), (10))
    SELECT CAST(thr.k_threshold AS BIGINT) AS k_threshold,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN g.n < thr.k_threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS violating_groups,
           CAST(SUM(CASE WHEN g.n < thr.k_threshold THEN g.n ELSE 0 END)
                AS BIGINT) AS violating_rows,
           ROUND(CAST(SUM(CASE WHEN g.n < thr.k_threshold
                               THEN g.n ELSE 0 END) AS DOUBLE)
                 / SUM(g.n), 6) AS pct_rows_at_risk,
           CAST(SUM(CASE WHEN g.l <= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS homogeneous_groups,
           CAST(MIN(g.n) AS BIGINT) AS min_group_size,
           CAST(MIN(g.l) AS BIGINT) AS min_l
    FROM g CROSS JOIN thr
    GROUP BY thr.k_threshold
    ORDER BY k_threshold
    """,
    doc="k-anonymity / l-diversity release audit "
    "(operators/privacy.py:k_anonymity_report): re-identification "
    "risk of publishing the customer-order join keyed by the "
    "(segment, nation, balance-band) quasi-identifiers with order "
    "priority as the sensitive attribute — per threshold k, the "
    "groups/rows/share below k plus sensitive-constant (l=1) group "
    "counts, the homogeneity attack l-diversity exists to catch. "
    "The measurement rung next to curation's PII REDACTION: redact "
    "removes direct identifiers, this audits the indirect ones left "
    "behind. One QI groupBy (map-side combined) to a "
    "|combinations|-sized frame; thresholds broadcast; exact counts "
    "with one final double division",
)
def kanon_customer_release_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import k_anonymity_report

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    rel = c.join(o, o["o_custkey"] == c["c_custkey"], "left").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        "o_orderpriority",
    )
    return k_anonymity_report(
        rel,
        ["c_mktsegment", "c_nationkey", "bal_band"],
        "o_orderpriority",
        thresholds=(2, 5, 10),
    )


@_q(
    "compaction_plan_orders",
    """
    WITH files AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(COUNT(*) AS BIGINT) AS sz
      FROM orders GROUP BY CAST(o_orderdate AS DATE)),
    binned AS (
      SELECT d, sz,
             CAST(COALESCE(SUM(sz) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) // 500 AS grp
      FROM files),
    grouped AS (
      SELECT CAST(grp AS BIGINT) AS group_id,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(sz) AS BIGINT) AS total_size,
             MIN(d) AS first_key,
             MAX(d) AS last_key
      FROM binned GROUP BY grp)
    SELECT 'daily_orders' AS plan, group_id, n_files, total_size,
           first_key, last_key,
           (total_size < 500) AS undersized
    FROM grouped ORDER BY group_id
    """,
    doc="small-file compaction planner "
    "(operators/layout.py:compaction_plan): daily order partitions "
    "(the classic too-many-small-files shape) coalesced into "
    "~500-row output groups by cumulative-sum binning in date order "
    "— the ADJACENT-merge strategy Delta/Iceberg OPTIMIZE uses, "
    "preserving clustering where global bin packing would destroy "
    "it. Exact BIGINT `div` on the running total (a double quotient "
    "truncates wrong past 2^53); the planner's input is per-file "
    "METADATA (n_files rows), so the single-partition ordered "
    "window is listing-sized at any data scale. The layout family's "
    "maintenance rung next to zorder_pruning_parts' placement rung",
)
def compaction_plan_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import compaction_plan

    files = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count("*").cast("long").alias("sz"))
    )
    return compaction_plan(
        files, "sz", "d", target_size=500, plan_name="daily_orders"
    )


@_q(
    "conformal_event_forecast",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE), 6)
               AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)),
    scored AS (
      SELECT a.event_type, a.day,
             ROUND(ABS(a.v - f.v), 6) AS r
      FROM d a JOIN d f ON f.event_type = a.event_type
                       AND a.day = f.day + INTERVAL 7 DAY),
    marked AS (
      SELECT event_type, day, r,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM scored),
    m2 AS (SELECT *, CAST(FLOOR(n * 0.6) AS BIGINT) AS ncal FROM marked),
    q AS (
      SELECT event_type, r AS qhat FROM (
        SELECT event_type, r, ncal,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY r, day) AS rr
        FROM m2 WHERE rn <= ncal)
      WHERE rr = CAST(CEIL((ncal + 1) * 0.8) AS BIGINT)
        AND CAST(CEIL((ncal + 1) * 0.8) AS BIGINT) <= ncal),
    ev AS (SELECT * FROM m2 WHERE rn > ncal)
    SELECT ev.event_type,
           CAST(MAX(ev.ncal) AS BIGINT) AS n_cal,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           MAX(q.qhat) AS qhat,
           CASE WHEN MAX(q.qhat) IS NOT NULL
                THEN ROUND(SUM(CASE WHEN ev.r <= q.qhat
                                    THEN 1 ELSE 0 END) * 1.0
                           / COUNT(*), 6) END AS coverage,
           ROUND(0.8, 6) AS target
    FROM ev LEFT JOIN q ON q.event_type = ev.event_type
    GROUP BY ev.event_type
    ORDER BY ev.event_type
    """,
    doc="split-conformal prediction intervals "
    "(operators/series.py:conformal_backtest_intervals) calibrating "
    "the seasonal-naive forecast on per-type daily value sums: qhat "
    "= the ceil((1-alpha)(n_cal+1))-th smallest calibration "
    "|residual| (the finite-sample conformal rank, not the naive "
    "empirical quantile), eval coverage measured against +/-qhat — "
    "the distribution-free calibration layer the backtest's point "
    "errors lack. Residuals round-6 BEFORE ranking with day "
    "tie-breaks (selection bit-identical cross-engine); everything "
    "runs on the already-reduced daily rollup",
)
def conformal_event_forecast_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.series import conformal_backtest_intervals

    ev = load_events(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
        ).alias("v")
    )
    return conformal_backtest_intervals(
        daily, ["event_type"], "day", "v",
        period_days=7, cal_frac=0.6, alpha=0.2,
    )


@_q(
    "neyman_alloc_doc_sources",
    """
    WITH per AS (
      SELECT source AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(n_chars AS HUGEINT)
                      * CAST(n_chars AS HUGEINT)) AS HUGEINT) AS sxx
      FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
      GROUP BY source),
    sig AS (
      SELECT stratum, n_rows,
             ROUND(SQRT(GREATEST(CASE WHEN n_rows >= 2
               THEN CAST(n_rows * sxx - sx * sx AS DOUBLE)
                    / (n_rows * (n_rows - 1)) ELSE 0 END, 0)), 6)
               AS sigma
      FROM per),
    wtd AS (
      SELECT stratum, n_rows, sigma,
             n_rows * CAST(ROUND(sigma * 1000000, 0) AS BIGINT) AS weight
      FROM sig),
    tot AS (SELECT SUM(CAST(weight AS HUGEINT)) AS wt FROM wtd),
    staged AS (
      SELECT stratum, n_rows, sigma, weight,
             CASE WHEN tot.wt > 0
                  THEN CAST(CAST(weight AS HUGEINT) * 1000 // tot.wt
                            AS BIGINT) ELSE 0 END AS base,
             CASE WHEN tot.wt > 0
                  THEN CAST(CAST(weight AS HUGEINT) * 1000 % tot.wt
                            AS HUGEINT) ELSE 0 END AS rem
      FROM wtd CROSS JOIN tot)
    SELECT stratum, n_rows, sigma,
           CAST(weight AS BIGINT) AS weight,
           -- MAX(weight) OVER () > 0 mirrors the operator's
           -- all-zero-weight guard: a table where every stratum is
           -- constant allocates NOTHING (no remainder top-up)
           CAST(base + CASE WHEN MAX(weight) OVER () > 0
                             AND ROW_NUMBER() OVER (ORDER BY rem DESC,
                                                    stratum ASC)
                                 <= 1000 - SUM(base) OVER ()
                            THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM staged ORDER BY stratum
    """,
    doc="Neyman-optimal sample allocation "
    "(operators/curation.py:neyman_allocation): a 1000-probe "
    "inspection budget split across document sources by n_h ∝ "
    "N_h·σ_h (σ from exact DECIMAL moments of n_chars) — the "
    "variance-minimizing stratified design, sized where strata are "
    "big AND variable; the design-time rung in front of "
    "sample_exact_k_per_group's executors. Integer-exact "
    "largest-remainder arithmetic ((budget·w) div/mod W on "
    "DECIMAL(38,0)), so Σ alloc == budget bit-identically on any "
    "engine. One stratum aggregate + one strata-frame window",
)
def neyman_alloc_doc_sources_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.curation import neyman_allocation

    docs = load(spark, sf_dir, "documents")
    return neyman_allocation(docs, "source", "n_chars", budget=1000)


@_q(
    "cms_token_freq",
    """
    WITH toks AS (
      SELECT unnest(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS term
      FROM documents),
    tk AS (SELECT term FROM toks WHERE term <> ''),
    counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tk GROUP BY term),
    top20 AS (
      SELECT term, tf FROM counts ORDER BY tf DESC, term LIMIT 20),
    rr AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (
      SELECT rr.r,
             ('0x' || substring(md5('cms' || chr(31)
                || CAST(rr.r AS VARCHAR) || chr(31) || tk.term), 1, 15))
               ::BIGINT % 512 AS b,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tk CROSS JOIN rr GROUP BY 1, 2),
    est AS (
      SELECT q.term, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
      FROM (SELECT t.term, rr.r,
                   ('0x' || substring(md5('cms' || chr(31)
                      || CAST(rr.r AS VARCHAR) || chr(31) || t.term),
                      1, 15))::BIGINT % 512 AS b
            FROM top20 t CROSS JOIN rr) q
      LEFT JOIN cells c ON c.r = q.r AND c.b = q.b
      GROUP BY q.term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM tk)
    SELECT t.term, t.tf, e.est,
           CAST(e.est - t.tf AS BIGINT) AS overshoot,
           (e.est - t.tf) <= (3 * n.n_tok) // 512 AS within_bound
    FROM top20 t JOIN est e ON e.term = t.term CROSS JOIN n
    """,
    doc="Count-Min frequency estimates "
    "(operators/sketch.py:count_min_sketch/count_min_lookup): a "
    "4x512 counter grid over document tokens point-queried for the "
    "top-20 true-frequency terms, with the exact counts joined back "
    "as the audit — overshoot >= 0 by construction (CMS never "
    "undercounts) and the (3/width)·N bound baked into the compared "
    "hash. The frequency-ESTIMATE rung next to Misra-Gries' top-k: "
    "arbitrary point queries from O(d·w) mergeable state "
    "(grids add cell-wise — the HLL/KLL/Theta rollup contract). "
    "md5_60 row-salted hashes make the sketch AND every estimate "
    "bit-identical cross-engine: fully value-checked, not rows-only. "
    "Shuffle payload = counter cells (<= partitions·d·w), never "
    "tokens",
)
def cms_token_freq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import count_min_lookup, count_min_sketch
    from ..operators.text import normalize_text_col

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalize_text_col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(
        F.count("*").cast("long").alias("tf")
    )
    top20 = counts.orderBy(F.col("tf").desc(), "term").limit(20)
    sketch = count_min_sketch(toks, "term", depth=4, width=512)
    est = count_min_lookup(sketch, top20.select("term"), "term",
                           depth=4, width=512)
    n_tok = toks.agg(F.count("*").cast("long").alias("n_tok"))
    return (
        top20.join(est, "term")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "term",
            "tf",
            "est",
            (F.col("est") - F.col("tf")).cast("long").alias("overshoot"),
            (
                (F.col("est") - F.col("tf"))
                <= F.expr("(3 * n_tok) div 512")
            ).alias("within_bound"),
        )
    )


@_q(
    "anova_event_values",
    """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DECIMAL(18,6)) AS v
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL),
    per AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS gn,
             SUM(CAST(v AS DECIMAL(38,6))) AS s,
             SUM(CAST(v * v AS DECIMAL(38,12))) AS ss
      FROM base GROUP BY g),
    agg AS (
      SELECT CAST(SUM(gn) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(CAST(SUM(CAST(s AS DECIMAL(38,6))) AS VARCHAR)
                  AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(ss AS DECIMAL(38,12))) AS VARCHAR)
                  AS DOUBLE) AS sxx,
             SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                 / CAST(gn AS DOUBLE)) AS sb
      FROM per)
    SELECT n, k,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(n - k AS BIGINT) AS df2,
           CASE WHEN k >= 2 AND n - k > 0
                     AND (sxx - sx * sx / n) - (sb - sx * sx / n) > 0
                THEN ROUND(((sb - sx * sx / n) / (k - 1))
                           / (((sxx - sx * sx / n) - (sb - sx * sx / n))
                              / (n - k)), 6) END AS f_stat,
           CASE WHEN k >= 2 AND sxx - sx * sx / n > 0
                THEN ROUND((sb - sx * sx / n) / (sxx - sx * sx / n), 6)
           END AS eta_sq
    FROM agg
    """,
    doc="one-way ANOVA across event types "
    "(operators/relational.py:anova_oneway): F and eta-squared from "
    "per-group EXACT DECIMAL moments — the k-group generalization "
    "completing the two-sample family (Welch means, Mann-Whitney "
    "ranks, KS CDFs, chi-square categories). One map-side-combined "
    "groupBy to k moment rows + a k-row reduce; the only double "
    "summation is the k-term between-group sum (k tiny). No p-value "
    "by design — the F CDF has no deterministic cross-engine builtin",
)
def anova_event_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import anova_oneway

    ev = load_events(spark, sf_dir)
    return anova_oneway(ev, "event_type", "value")


@_q(
    "assortativity_cust_supp",
    """
    WITH e AS (
      SELECT DISTINCT 'c:' || CAST(o.o_custkey AS VARCHAR) AS a,
             's:' || CAST(l.l_suppkey AS VARCHAR) AS b
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    doubled AS (
      SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d
            FROM doubled GROUP BY a),
    paired AS (
      SELECT dx.d AS x, dy.d AS y
      FROM doubled j
      JOIN deg dx ON dx.a = j.a
      JOIN deg dy ON dy.a = j.b),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                  AS DOUBLE) AS syy
      FROM paired),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT nn.n_nodes, m.n_pairs,
           CASE WHEN m.n_pairs * sxx - sx * sx > 0
                     AND m.n_pairs * syy - sy * sy > 0
                THEN ROUND((m.n_pairs * sxy - sx * sy)
                           / SQRT((m.n_pairs * sxx - sx * sx)
                                  * (m.n_pairs * syy - sy * sy)), 6)
           END AS r
    FROM m CROSS JOIN nn
    """,
    doc="degree assortativity of the customer-supplier purchase "
    "graph (operators/graph.py:degree_assortativity): Pearson r of "
    "endpoint degrees over the doubled edge list — bipartite "
    "purchase graphs skew NEGATIVE (big buyers meet many small "
    "suppliers); the one-number structural summary next to the "
    "degree stats the iterative family conditions on. Exact BIGINT "
    "degrees and DECIMAL(38,0) moments -> one identical double "
    "closed form; one node-sized degree agg + two edge shuffles "
    "(the CC/pagerank exchange shape) + a 1-row reduce",
)
def assortativity_cust_supp_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.graph import degree_assortativity

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return degree_assortativity(edges, "src", "dst")


# --------------------------------------------------------------------
# round-8 wave: containment dedup, feature-pipeline transforms
# (LOO target encoding, quantile normalization, feature hashing,
# integer PCA), survey estimation (Horvitz-Thompson), RFM
# segmentation, and the explicit GROUPING SETS shape
# --------------------------------------------------------------------


@_q(
    "dedup_containment",
    """
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents),
    toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM norm),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t) - 2, 1) + 1),
             i -> array_to_string(t[i:i+2], ' ')))) AS s FROM toks),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    directed AS (
      SELECT id_a, id_b, common FROM pairs
      UNION ALL
      SELECT id_b AS id_a, id_a AS id_b, common FROM pairs)
    SELECT d.id_a, d.id_b,
           ROUND(d.common * 1.0 / sa.sz, 6) AS containment
    FROM directed d JOIN sizes sa ON sa.doc_id = d.id_a
    WHERE d.common * 1.0 / sa.sz >= 0.6
    """,
    doc="directed n-gram containment pairs C(A->B) = |A∩B|/|A| >= 0.6 "
    "(operators/dedup.py:ngram_containment_pairs) — the ASYMMETRIC "
    "near-dup detector Jaccard cannot express: a short document "
    "quoted inside a long one scores J ~ |A|/|B| (invisible) but "
    "containment 1.0. Most training-set leakage is "
    "containment-shaped. Auto plan selection like the Jaccard "
    "sibling: the inverted-index 3-shuffle plan on tame shingle "
    "frequencies, the asymmetric prefix-probe plan (only A's "
    "rarest-first prefix probes the FULL index — pigeonhole-complete "
    "since |A∩B| >= ceil(t|A|)) once sum(df^2) blows past 32x "
    "sum(df). Both directions of each undirected pair emit from ONE "
    "aggregate via F.inline, never a union",
)
def dedup_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_containment_pairs

    docs = load(spark, sf_dir, "documents")
    return ngram_containment_pairs(docs, "doc_id", "text", n=3, threshold=0.6)


@_q(
    "target_encoding_priority",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'),
    g AS (
      SELECT o_orderpriority,
             SUM(x) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY o_orderpriority)
    SELECT b.o_orderkey, b.o_orderpriority,
           CAST(CAST(b.x AS VARCHAR) AS DOUBLE) AS o_totalprice,
           CASE WHEN g.n > 1
                THEN ROUND(CAST(CAST(g.s - b.x AS VARCHAR) AS DOUBLE)
                           / (g.n - 1), 6) END AS loo_encoding
    FROM base b JOIN g USING (o_orderpriority)
    """,
    doc="leave-one-out target encoding of order priority on the "
    "cents-exact order value "
    "(operators/relational.py:target_encode_loo): enc_i = "
    "(S_g - x_i)/(n_g - 1) — the high-cardinality categorical "
    "feature that never leaks the row's own label (singletons emit "
    "NULL, no synthetic prior). ONE window shuffle on the category "
    "key — no aggregate re-join; numerator stays exact DECIMAL "
    "(unscaled ~1e10 at sf0.1, three orders under 2^53), one double "
    "division per row, round-6. 2001 slice bounds the compare frame",
)
def target_encoding_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import target_encode_loo

    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    return target_encode_loo(
        orders, "o_orderpriority", "o_totalprice", ["o_orderkey"]
    )


@_q(
    "rfm_customer_segments",
    """
    WITH per AS (
      SELECT o_custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                       DATE '2001-09-01') AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, recency_days, frequency,
             CAST(CAST(m AS VARCHAR) AS DOUBLE) AS monetary,
             6 - ntile(5) OVER (ORDER BY recency_days, o_custkey)
               AS r_score,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY m, o_custkey) AS m_score
      FROM per)
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           frequency, monetary,
           CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
             || CAST(m_score AS VARCHAR) AS rfm,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                THEN 'champion'
                WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    doc="RFM quintile segmentation "
    "(operators/relational.py:rfm_scores): per-customer recency/"
    "frequency/cents-exact monetary, each scored 1-5 by ntile(5) "
    "over a TOTAL order (metric, custkey) — both engines implement "
    "standard SQL ntile, so tie handling is identical — plus the "
    "concatenated code and a coarse label ladder. One customer-key "
    "groupBy shuffle; the three ntile windows run over the "
    "AGGREGATED per-customer frame (3-4 orders smaller than the "
    "fact table; past ~1e8 customers swap exact ntile for boundary "
    "joins off group_percentiles — the exact rank form is what the "
    "oracle pins)",
)
def rfm_customer_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import rfm_scores

    orders = load(spark, sf_dir, "orders")
    return rfm_scores(
        orders, "o_custkey", "o_orderdate", "o_totalprice", "2001-09-01"
    )


@_q(
    "ht_total_by_priority",
    """
    WITH marked AS (
      SELECT o_orderpriority AS stratum,
             CAST(o_totalprice AS DECIMAL(18,2)) AS x,
             100 + 50 * (('0x' || substring(md5(o_orderpriority), 1, 15))
                         ::BIGINT % 8) AS rate,
             ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
               ::BIGINT % 1000 AS h
      FROM orders),
    per AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n_pop,
             CAST(SUM(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
             CAST(MAX(rate) AS BIGINT) AS rate_permille,
             SUM(CASE WHEN h < rate THEN x END) AS s,
             SUM(CASE WHEN h < rate
                      THEN CAST(x * x AS DECIMAL(38,4)) END) AS q,
             SUM(x) AS tt
      FROM marked GROUP BY stratum)
    SELECT stratum, n_pop, n_sampled, rate_permille,
           ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE) * 1000.0
                 / rate_permille, 6) AS ht_total,
           ROUND(sqrt(CAST(CAST(q AS VARCHAR) AS DOUBLE)
                      * (1000.0 - rate_permille) * 1000.0
                      / (rate_permille * rate_permille)), 6) AS ht_se,
           ROUND(CAST(CAST(tt AS VARCHAR) AS DOUBLE), 6) AS true_total,
           ROUND((CAST(CAST(s AS VARCHAR) AS DOUBLE) * 1000.0
                  / rate_permille
                  - CAST(CAST(tt AS VARCHAR) AS DOUBLE))
                 / CAST(CAST(tt AS VARCHAR) AS DOUBLE), 6) AS rel_err
    FROM per ORDER BY stratum
    """,
    doc="stratified Poisson sampling + Horvitz-Thompson estimation "
    "(operators/relational.py:horvitz_thompson_total): "
    "deterministic-by-hash membership (md5_60 per-mille — replayable "
    "on any engine), per-stratum rates 100-450‰ derived from the "
    "stratum name hash, HT total = S·1000/rate with its exact "
    "Poisson-design variance, the TRUE total as audit column. The "
    "'scan 0.x%, estimate the total, KNOW the error bar' primitive a "
    "100 TB pipeline audits itself with; x² sums pass 2^53 unscaled "
    "at sf0.1, so the oracle routes every decimal sum through the "
    "VARCHAR roundtrip. One groupBy, map-side combined",
)
def ht_total_by_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import token_hash_col
    from ..operators.relational import horvitz_thompson_total

    orders = load(spark, sf_dir, "orders")
    rate = (
        F.lit(100)
        + F.lit(50)
        * F.pmod(token_hash_col(F.col("o_orderpriority"), "md5_60"), F.lit(8))
    )
    return horvitz_thompson_total(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey", rate
    )


@_q(
    "quantile_normalize_doclen",
    """
    WITH vals AS (
      SELECT doc_id, source AS grp, CAST(n_chars AS DOUBLE) AS v
      FROM documents WHERE n_chars IS NOT NULL),
    n AS (SELECT COUNT(*) AS nt FROM vals),
    pooled AS (
      SELECT row_number() OVER (ORDER BY v, doc_id) AS pr, v AS pv
      FROM vals),
    ranked AS (
      SELECT doc_id, grp, v,
             row_number() OVER (PARTITION BY grp ORDER BY v, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY grp) AS ng
      FROM vals),
    pos AS (
      SELECT doc_id, grp, v,
             CASE WHEN ng > 1
                  THEN CAST(rn - 1 AS BIGINT)
                       * (SELECT nt - 1 FROM n)
                  ELSE (SELECT nt - 1 FROM n) END AS num,
             CASE WHEN ng > 1 THEN CAST(ng - 1 AS BIGINT)
                  ELSE 2 END AS den
      FROM ranked)
    SELECT p.doc_id, p.grp AS source, p.v AS n_chars,
           ROUND(lo.pv + ((p.num % p.den) * 1.0 / p.den)
                         * (COALESCE(hi.pv, lo.pv) - lo.pv), 6)
             AS normalized
    FROM pos p
    JOIN pooled lo ON lo.pr - 1 = p.num // p.den
    LEFT JOIN pooled hi ON hi.pr - 2 = p.num // p.den
    """,
    doc="quantile normalization of per-source document-length "
    "distributions onto the pooled distribution "
    "(operators/relational.py:quantile_normalize) — the "
    "feature-alignment transform that makes 'p90 length' mean the "
    "same thing across corpus sources before mixing/thresholding. "
    "Interpolation is EXACT-integer: pooled position num/den = "
    "(rn-1)(N-1)/(ng-1) kept rational (integer div/mod — never a "
    "double multiply whose floor could straddle an ulp differently "
    "per engine), one double interpolation at the end, round-6. "
    "Singletons map to the pooled median by the same arithmetic. One "
    "group window + one pooled rank (single-task over the value "
    "frame; at 100 TB the pooled reference becomes a merged KLL "
    "sketch — the exact form is what the oracle pins) + two "
    "rank-equi joins",
)
def quantile_normalize_doclen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import quantile_normalize

    docs = load(spark, sf_dir, "documents")
    return quantile_normalize(docs, "source", "n_chars", "doc_id").select(
        "doc_id",
        "source",
        "n_chars",
        "normalized",
    )


@_q(
    "feature_hash_vocab",
    """
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents),
    toks AS (
      SELECT doc_id, unnest(string_split(nt, ' ')) AS tok FROM norm),
    b AS (
      SELECT doc_id, tok,
             ('0x' || substring(md5(tok), 1, 15))::BIGINT % 256 AS bucket
      FROM toks WHERE tok <> '')
    SELECT bucket,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS collision_tokens,
           CAST(COUNT(*) AS BIGINT) AS tf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    doc="hashing-trick feature audit "
    "(operators/text.py:feature_hash_stats): bag-of-words tokens "
    "hash into 256 fixed slots (pmod(md5_60, 256) — the "
    "engine-portable hash, so the bucketing replays identically in "
    "the oracle) and the table reports each slot's collision load "
    "(distinct vocabulary), tf, and df. The feature-engineering rung "
    "of the text stack: downstream models train on hashed counts "
    "with NO vocabulary broadcast — key cardinality is fixed at 256 "
    "at plan time, the point of feature hashing at 100 TB. One "
    "bucket-keyed groupBy",
)
def feature_hash_vocab_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import feature_hash_stats

    docs = load(spark, sf_dir, "documents")
    return feature_hash_stats(docs, "doc_id", "text", n_buckets=256)


def _pca_oracle_sql() -> str:
    """Unrolled HUGEINT power iteration replaying
    operators/relational.py:pca_top_component verbatim: scatter
    matrix M = n·Σxx − Σx·Σxᵀ from exact moments, 12 iterations of
    v ← trunc(M·v · 10^6 / max|M·v|) (DuckDB ``//`` truncates toward
    zero — ``_trunc_div`` mirrors that, NOT Python floor), sign
    pinned by the largest-|component|, loadings and the ppm-exact
    explained ratio emitted after one double division each."""
    it = """
    ,u{k} AS MATERIALIZED (
      SELECT m11*v1 + m12*v2 + m13*v3 AS u1,
             m12*v1 + m22*v2 + m23*v3 AS u2,
             m13*v1 + m23*v2 + m33*v3 AS u3, m11, m12, m13, m22, m23, m33
      FROM v{p}),
    v{k} AS MATERIALIZED (
      SELECT CASE WHEN greatest(abs(u1), abs(u2), abs(u3)) = 0 THEN u1
                  ELSE (u1 * 1000000::HUGEINT)
                       // greatest(abs(u1), abs(u2), abs(u3)) END AS v1,
             CASE WHEN greatest(abs(u1), abs(u2), abs(u3)) = 0 THEN u2
                  ELSE (u2 * 1000000::HUGEINT)
                       // greatest(abs(u1), abs(u2), abs(u3)) END AS v2,
             CASE WHEN greatest(abs(u1), abs(u2), abs(u3)) = 0 THEN u3
                  ELSE (u3 * 1000000::HUGEINT)
                       // greatest(abs(u1), abs(u2), abs(u3)) END AS v3,
             m11, m12, m13, m22, m23, m33
      FROM u{k})"""
    chain = "".join(it.format(k=k, p=k - 1) for k in range(1, 13))
    return (
        """
    WITH f AS (
      SELECT CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS x1,
             CAST(p_size AS BIGINT) AS x2,
             CAST(length(p_name) AS BIGINT) AS x3
      FROM part),
    mo AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(x1::HUGEINT) AS s1, SUM(x2::HUGEINT) AS s2,
             SUM(x3::HUGEINT) AS s3,
             SUM(x1::HUGEINT * x1) AS p11, SUM(x1::HUGEINT * x2) AS p12,
             SUM(x1::HUGEINT * x3) AS p13, SUM(x2::HUGEINT * x2) AS p22,
             SUM(x2::HUGEINT * x3) AS p23, SUM(x3::HUGEINT * x3) AS p33
      FROM f),
    m AS (
      SELECT n*p11 - s1*s1 AS m11, n*p12 - s1*s2 AS m12,
             n*p13 - s1*s3 AS m13, n*p22 - s2*s2 AS m22,
             n*p23 - s2*s3 AS m23, n*p33 - s3*s3 AS m33, n
      FROM mo),
    v0 AS (
      SELECT 1000000::HUGEINT AS v1, 1000000::HUGEINT AS v2,
             1000000::HUGEINT AS v3, m11, m12, m13, m22, m23, m33
      FROM m)"""
        + chain
        + """
    ,signed AS (
      SELECT CASE WHEN (CASE
                WHEN abs(v1) >= abs(v2) AND abs(v1) >= abs(v3) THEN v1
                WHEN abs(v2) >= abs(v3) THEN v2 ELSE v3 END) < 0
             THEN -v1 ELSE v1 END AS v1,
             CASE WHEN (CASE
                WHEN abs(v1) >= abs(v2) AND abs(v1) >= abs(v3) THEN v1
                WHEN abs(v2) >= abs(v3) THEN v2 ELSE v3 END) < 0
             THEN -v2 ELSE v2 END AS v2,
             CASE WHEN (CASE
                WHEN abs(v1) >= abs(v2) AND abs(v1) >= abs(v3) THEN v1
                WHEN abs(v2) >= abs(v3) THEN v2 ELSE v3 END) < 0
             THEN -v3 ELSE v3 END AS v3,
             m11, m12, m13, m22, m23, m33
      FROM v12),
    fin AS (
      SELECT v1, v2, v3,
             greatest(abs(v1), abs(v2), abs(v3)) AS vmax,
             v1*(m11*v1 + m12*v2 + m13*v3)
             + v2*(m12*v1 + m22*v2 + m23*v3)
             + v3*(m13*v1 + m23*v2 + m33*v3) AS num,
             v1*v1 + v2*v2 + v3*v3 AS den,
             m11 + m22 + m33 AS tr
      FROM signed),
    ppm AS (
      SELECT v1, v2, v3, vmax,
             CASE WHEN den * tr > 0
                  THEN num // ((den * tr) // 1000000::HUGEINT)
                  ELSE 0 END AS ppm
      FROM fin),
    n1 AS (SELECT n FROM m)
    SELECT f.feature,
           ROUND(CAST(CASE f.feature
                   WHEN 'price_cents' THEN p.v1
                   WHEN 'size' THEN p.v2
                   ELSE p.v3 END AS DOUBLE) / CAST(p.vmax AS DOUBLE), 6)
             AS loading,
           ROUND(CAST(p.ppm AS DOUBLE) / 1000000.0, 6)
             AS explained_ratio,
           CAST((SELECT n FROM n1) AS BIGINT) AS n
    FROM (VALUES ('price_cents'), ('size'), ('name_len')) AS f(feature)
    CROSS JOIN ppm p
    """
    )


@_q(
    "pca_parts_features",
    _pca_oracle_sql(),
    doc="dominant principal component of (price-cents, size, "
    "name-length) over part via EXACT-INTEGER power iteration "
    "(operators/relational.py:pca_top_component — the pagerank "
    "discipline applied to linear algebra): one map-side-combined "
    "moment aggregate (n, Σx, Σxx — 9 numbers), the k×k scatter "
    "matrix and 12 renormalized iterations run on plain ints "
    "(driver-side, k=3-bounded, like kmeans' k-row collect), "
    "truncating division matching DuckDB HUGEINT ``//`` (which "
    "truncates toward zero, NOT floor — measured), sign pinned "
    "positive on the largest loading. The oracle replays every "
    "iteration verbatim in an unrolled MATERIALIZED HUGEINT CTE "
    "chain — bit-identical linear algebra across engines, no float "
    "accumulation anywhere",
)
def pca_parts_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import pca_top_component

    part = load(spark, sf_dir, "part")
    return pca_top_component(
        part,
        {
            "price_cents": (
                F.col("p_retailprice").cast("decimal(12,2)") * 100
            ).cast("long"),
            "size": F.col("p_size"),
            "name_len": F.length("p_name"),
        },
    )


@_q(
    "grouping_sets_status_priority",
    """
    SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2
                + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                     AS VARCHAR) AS DOUBLE) AS total_value
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="explicit GROUPING SETS — the two one-dimension margins plus "
    "the grand total WITHOUT the cross cells (the report shape CUBE "
    "overproduces and ROLLUP cannot express; completes the "
    "grouping-sets family: pivot / rollup_hierarchy / "
    "cube_status_priority / this). Same single shared "
    "partial-aggregation pass and grouping-ID bitmask discipline as "
    "the CUBE sibling; exact decimal totals via the VARCHAR "
    "roundtrip on the oracle side",
)
def grouping_sets_status_priority_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias(
                "o_orderpriority"
            ),
            "gid",
            "n_orders",
            "total_value",
        )
    )


@_q(
    "sse_changepoint_daily",
    f"""
    WITH r AS MATERIALIZED ({_DAILY_ROLLUP_SQL}),
    q AS (
      SELECT event_type, day,
             CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT) AS x
      FROM r),
    b AS (
      SELECT event_type, day, x,
             SUM(x) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS sl,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS nl,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(x) OVER (PARTITION BY event_type) AS s
      FROM q),
    cand AS (
      SELECT event_type, day AS split_at, sl, nl,
             s - sl AS sr, n - nl AS nr
      FROM b WHERE nl < n AND n >= 2),
    scored AS (
      SELECT event_type, split_at, sl, nl, sr, nr,
             ((sl::HUGEINT * sl * nr + sr::HUGEINT * sr * nl)
              * 1000000) // (nl::HUGEINT * nr) AS score
      FROM cand),
    pick AS (
      SELECT event_type, split_at, sl, nl, sr, nr, score,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY score DESC, split_at) AS rn
      FROM scored)
    SELECT event_type, split_at,
           CAST(nl AS BIGINT) AS n_before,
           CAST(nr AS BIGINT) AS n_after,
           ROUND(sl / 1000000.0 / nl, 6) AS mean_before,
           ROUND(sr / 1000000.0 / nr, 6) AS mean_after,
           ROUND(sr / 1000000.0 / nr - sl / 1000000.0 / nl, 6) AS shift,
           CAST(score AS VARCHAR) AS score
    FROM pick WHERE rn = 1 ORDER BY event_type
    """,
    doc="exact single-changepoint localization per event type "
    "(operators/series.py:sse_changepoint): the split of the daily "
    "value series minimizing SSE_left + SSE_right — the binary-"
    "segmentation step behind PELT-style detectors, and the offline "
    "LEVEL-SHIFT localizer next to CUSUM's sequential alarm "
    "(cusum_daily_drift says 'drifting since about here'; this names "
    "THE split under an optimality criterion). Minimizing SSE is "
    "maximizing S_L^2/n_L + S_R^2/n_R (prefix sums; the sum-of-"
    "squares term cancels across candidates), so the whole detector "
    "is one (key, day) sort window + a per-key argmax — no "
    "iteration, no UDF. Cross-engine exactness: values quantize to "
    "micros BIGINTs, the argmax score is the DETERMINISTIC integer "
    "floor((S_L^2 n_R + S_R^2 n_L) * 1e6 / (n_L n_R)) in "
    "DECIMAL(38,0) via the subtract-pmod floor-quotient form (plain "
    "decimal `div` RETURNS BIGINT and wraps past 2^63 — measured; "
    "all terms positive so the floor equals DuckDB HUGEINT `//` "
    "truncation), ties broken on the earliest split, and the score "
    "emits as a STRING (the fingerprint_orders bare-decimal lesson). "
    "Floats appear only in the reported means, rounded round-6",
)
def sse_changepoint_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import sse_changepoint

    ev = load_events(spark, sf_dir)
    rollup = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return sse_changepoint(rollup, ["event_type"], "day", "v")


