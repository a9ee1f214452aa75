"""Harness queries (part 5/6): statistics waves: experiments, drift, survival, SPC, EVT, nonparametric k-sample.
"""

from __future__ import annotations

from ._common import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _q,
    load,
    load_events,
)
from .queries_02_pipeline import (  # noqa: F401
    _DAILY_ROLLUP_SQL,
)
from .queries_04_series_tpch import (  # noqa: F401
    _DAILY_MEAN_SQL,
    _daily_mean_frame,
)

@_q(
    "brown_forsythe_values",
    """
    WITH base AS (
      SELECT event_type AS c,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    per_v AS (
      SELECT c, v, CAST(COUNT(*) AS BIGINT) AS t
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT c, v, t,
             SUM(t) OVER (PARTITION BY c ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumt,
             SUM(t) OVER (PARTITION BY c) AS nc
      FROM per_v),
    med AS (
      SELECT c, MIN(v) AS med
      FROM cum WHERE cumt * 2 >= nc GROUP BY 1),
    z AS (
      SELECT p.c, p.t, ABS(p.v - med.med) AS z
      FROM per_v p JOIN med ON p.c = med.c),
    zc AS (
      SELECT c, CAST(SUM(t) AS BIGINT) AS ni,
             SUM(z::HUGEINT * t) AS sz,
             SUM((z::HUGEINT * z) * t) AS szz
      FROM z GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(ni) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k_classes,
             SUM(sz) AS sza,
             SUM(CAST(CAST(sz AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(sz AS VARCHAR) AS DOUBLE)
                 / CAST(ni AS DOUBLE)) AS szin,
             SUM(CAST(CAST(szz AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(sz AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(sz AS VARCHAR) AS DOUBLE)
                 / CAST(ni AS DOUBLE)) AS ssw
      FROM zc),
    m AS (
      SELECT n, k_classes,
             CAST(n AS DOUBLE) AS nd, CAST(k_classes AS DOUBLE) AS kd,
             szin - CAST(CAST(sza AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(sza AS VARCHAR) AS DOUBLE)
                    / CAST(n AS DOUBLE) AS ssb,
             ssw
      FROM tot)
    SELECT n, k_classes,
           ROUND(CASE WHEN k_classes >= 2 AND ssw > 0
                 THEN (nd - kd) / (kd - 1.0) * ssb / ssw END, 6)
             AS w_stat,
           CAST(k_classes - 1 AS BIGINT) AS dof1,
           CAST(n - k_classes AS BIGINT) AS dof2
    FROM m
    """,
    doc="Brown-Forsythe variance-homogeneity test across the five "
    "event types (operators/relational.py:brown_forsythe) — the "
    "robust Levene variant (median centers): the missing rung "
    "between anova_event_values (means, assumes equal variance) and "
    "kruskal (distribution shifts): 'did the SPREAD change'. LOWER "
    "median per class off ONE prefix window on the DISTINCT-value "
    "frame (exact + engine-agnostic where interpolated medians "
    "differ by ulps); |x-med| then exact cent integers, both "
    "quadratic forms in DECIMAL(38,0)/HUGEINT via raw-moment "
    "identities; W one double expression of exact integers",
)
def brown_forsythe_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import brown_forsythe

    ev = load_events(spark, sf_dir)
    return brown_forsythe(
        ev.select("value", "event_type"), "value", "event_type"
    )


@_q(
    "jackknife_nation_value",
    """
    WITH base AS (
      SELECT c_nationkey AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders JOIN customer ON o_custkey = c_custkey),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ni,
             SUM(v::HUGEINT) AS si,
             SUM(v::HUGEINT * v) AS sqi
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(ni) AS BIGINT) AS n,
             SUM(si) AS s,
             SUM(sqi) AS sq
      FROM per_g),
    loo AS (
      SELECT t.g, t.n, t.s, t.sq,
             CAST(CAST(t.s - p.si AS VARCHAR) AS DOUBLE)
               / CAST(t.n - p.ni AS DOUBLE)
             - CAST(CAST(t.s AS VARCHAR) AS DOUBLE)
               / CAST(t.n AS DOUBLE) AS d
      FROM per_g p CROSS JOIN tot t),
    st AS (
      SELECT g, n, s, sq,
             SUM(d) AS dsum, SUM(d * d) AS dsq
      FROM loo GROUP BY 1, 2, 3, 4),
    m AS (
      SELECT g, n,
             CAST(g AS DOUBLE) AS gd, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s AS VARCHAR) AS DOUBLE)
               / CAST(n AS DOUBLE) AS mean_q,
             dsum, dsq,
             CAST(CAST(sq AS VARCHAR) AS DOUBLE) AS sqd
      FROM st)
    SELECT g, n, ROUND(mean_q / 100.0, 6) AS mean,
           ROUND(CASE WHEN g >= 2 THEN
             SQRT(GREATEST((gd - 1.0) / gd
               * (dsq - dsum * dsum / gd), 0.0)) END
             / 100.0, 6) AS se_jack,
           ROUND(CASE WHEN n >= 2 THEN
             SQRT(GREATEST((sqd / nd - mean_q * mean_q) / nd, 0.0)) END
             / 100.0, 6) AS se_naive
    FROM m
    """,
    doc="delete-one-NATION jackknife standard error for the mean "
    "order value (operators/relational.py:jackknife_groups) — the "
    "design-based variance answer when rows arrive in clusters and "
    "the iid bootstrap understates the error: theta_(i) = mean "
    "excluding nation i, SE^2 = (g-1)/g * sum((theta_(i) - "
    "theta_bar)^2); reports the iid se_naive from the same pass for "
    "the design-effect comparison. ONE map-side-combined groupBy "
    "over the fact + arithmetic on the 25-row nation frame "
    "(broadcast totals); leave-one-out means are single double "
    "divisions of exact DECIMAL/BIGINT sums",
)
def jackknife_nation_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import jackknife_groups

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_nationkey").alias("g"), F.col("o_totalprice").alias("x")
    )
    return jackknife_groups(base, "g", "x")


@_q(
    "mcnemar_doc_rules",
    """
    WITH base AS (
      SELECT lang,
             n_chars >= 250 AS a,
             len(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) >= 45 AS b
      FROM documents),
    ag AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
               AS both_fire,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
               AS BIGINT) AS only_a,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
               AS BIGINT) AS only_b,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
               AS BIGINT) AS neither
      FROM base GROUP BY 1)
    SELECT lang, n, both_fire, only_a, only_b, neither,
           ROUND(CASE WHEN only_a + only_b > 0 THEN
             POWER(ABS(CAST(only_a - only_b AS DOUBLE)) - 1.0, 2)
             / CAST(only_a + only_b AS DOUBLE) END, 6)
             AS mcnemar_chi2,
           ROUND(CAST(only_a + only_b AS DOUBLE) / n, 6)
             AS disagree_rate
    FROM ag ORDER BY lang
    """,
    doc="McNemar's paired test of two document-quality rules "
    "(n_chars >= 250 vs >= 45 whitespace words) per language "
    "(operators/classify.py:mcnemar_test) — 'do two filters "
    "disagree SYSTEMATICALLY', the question chi2 (unpaired) can't "
    "answer: both rules fire on the same rows, so only the "
    "discordant cells b, c carry information; continuity-corrected "
    "(|b-c|-1)^2/(b+c), chi-square(1) under H0. All four cells off "
    "ONE conditional aggregate — no join, no window",
)
def mcnemar_doc_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import mcnemar_test
    from ..operators.text import normalize_text_col

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        (F.col("n_chars") >= 250).alias("ra"),
        (
            F.size(F.split(normalize_text_col("text"), " ")) >= 45
        ).alias("rb"),
    )
    out = mcnemar_test(base, ["lang"], "ra", "rb")
    return out.withColumnRenamed("both", "both_fire")


@_q(
    "decision_stump_docs",
    """
    WITH base AS (
      SELECT CAST(n_chars AS DOUBLE) AS x,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
      WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
    per_v AS (
      SELECT x, CAST(SUM(y) AS BIGINT) AS p,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS q
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(p) AS BIGINT) AS tp,
             CAST(SUM(q) AS BIGINT) AS tq
      FROM per_v),
    cum AS (
      SELECT x,
             CAST(SUM(p) OVER w AS BIGINT) AS lp,
             CAST(SUM(q) OVER w AS BIGINT) AS lq
      FROM per_v
      WINDOW w AS (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    j AS (SELECT * FROM cum CROSS JOIN tot),
    m AS (
      SELECT x, lp, lq, tp, tq,
             tp - lp AS rp, tq - lq AS rq,
             lp + lq AS nl, (tp - lp) + (tq - lq) AS nr,
             tp + tq AS n
      FROM j),
    e AS (
      SELECT x, n, nl, nr, lp, rp,
             -(CASE WHEN tp > 0 THEN CAST(tp AS DOUBLE) / CAST(n AS DOUBLE)
                    * LN(CAST(tp AS DOUBLE) / CAST(n AS DOUBLE))
                    ELSE 0.0 END
               + CASE WHEN tq > 0 THEN CAST(tq AS DOUBLE) / CAST(n AS DOUBLE)
                      * LN(CAST(tq AS DOUBLE) / CAST(n AS DOUBLE))
                      ELSE 0.0 END) AS hp,
             -(CASE WHEN lp > 0
                    THEN CAST(lp AS DOUBLE) / CAST(nl AS DOUBLE)
                    * LN(CAST(lp AS DOUBLE) / CAST(nl AS DOUBLE))
                    ELSE 0.0 END
               + CASE WHEN lq > 0
                      THEN CAST(lq AS DOUBLE) / CAST(nl AS DOUBLE)
                      * LN(CAST(lq AS DOUBLE) / CAST(nl AS DOUBLE))
                      ELSE 0.0 END) AS hl,
             -(CASE WHEN rp > 0
                    THEN CAST(rp AS DOUBLE) / CAST(nr AS DOUBLE)
                    * LN(CAST(rp AS DOUBLE) / CAST(nr AS DOUBLE))
                    ELSE 0.0 END
               + CASE WHEN rq > 0
                      THEN CAST(rq AS DOUBLE) / CAST(nr AS DOUBLE)
                      * LN(CAST(rq AS DOUBLE) / CAST(nr AS DOUBLE))
                      ELSE 0.0 END) AS hr
      FROM m WHERE nr > 0)
    SELECT x AS threshold,
           CAST(n AS BIGINT) AS n,
           CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right,
           lp AS pos_left, rp AS pos_right,
           ROUND(hp, 6) AS entropy_parent,
           ROUND(hp - (CAST(nl AS DOUBLE) / CAST(n AS DOUBLE) * hl
                 + CAST(nr AS DOUBLE) / CAST(n AS DOUBLE) * hr), 6)
             AS gain_nats
    FROM e
    ORDER BY gain_nats DESC, threshold
    LIMIT 1
    """,
    doc="best single-threshold split of n_chars against lang='en' "
    "by information gain (operators/classify.py:decision_stump) — "
    "the 1-node decision tree every learned quality classifier is "
    "compared to: 'is there ONE cutoff on this signal, and how much "
    "does it buy'. Candidates = DISTINCT feature values (HLL "
    "fail-fast above max_distinct — silent binning would change "
    "the answer); exact left/right class counts off ONE prefix "
    "window on the distinct frame; entropies identical double "
    "expressions of exact integers; smallest-threshold tiebreak; "
    "global top-1 via TakeOrderedAndProject",
)
def decision_stump_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import decision_stump

    docs = load(spark, sf_dir, "documents")
    base = docs.select("n_chars", (F.col("lang") == "en").alias("y"))
    return decision_stump(base, "n_chars", "y")


@_q(
    "vocab_chapman_sources",
    """
    WITH raw AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ') AS arr
      FROM documents),
    grams AS (
      SELECT DISTINCT source,
             arr[u.i] || ' ' || arr[u.i + 1] AS gram
      FROM raw, unnest(range(1, len(arr))) AS u(i)
      WHERE length(arr[u.i]) > 0 AND length(arr[u.i + 1]) > 0),
    totals AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS v
      FROM grams GROUP BY 1),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM grams a JOIN grams b
        ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2),
    geo AS (
      SELECT ta.source AS source_a, tb.source AS source_b,
             ta.v AS vocab_a, tb.v AS vocab_b,
             COALESCE(s.shared, 0) AS m
      FROM totals ta JOIN totals tb ON ta.source < tb.source
      LEFT JOIN shared s
        ON s.source_a = ta.source AND s.source_b = tb.source),
    est AS (
      SELECT source_a, source_b, vocab_a, vocab_b, m,
             CAST((vocab_a + 1)::HUGEINT * (vocab_b + 1) AS DOUBLE)
               / CAST(m + 1 AS DOUBLE) - 1.0 AS n_hat,
             CAST((vocab_a + 1)::HUGEINT * (vocab_b + 1) AS DOUBLE)
               * CAST(vocab_a - m AS DOUBLE)
               * CAST(vocab_b - m AS DOUBLE)
               / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)
                  * CAST(m + 2 AS DOUBLE)) AS var,
             vocab_a + vocab_b - m AS uo
      FROM geo)
    SELECT source_a, source_b, vocab_a, vocab_b, m AS shared,
           CAST(uo AS BIGINT) AS union_observed,
           ROUND(CASE WHEN vocab_a > 0 AND vocab_b > 0
                 THEN n_hat END, 6) AS chapman_total,
           ROUND(CASE WHEN vocab_a > 0 AND vocab_b > 0
                 THEN GREATEST(n_hat - CAST(uo AS DOUBLE), 0.0) END, 6)
             AS unseen,
           ROUND(CASE WHEN vocab_a > 0 AND vocab_b > 0
                 THEN SQRT(var) END, 6) AS se_chapman
    FROM est ORDER BY source_a, source_b
    """,
    doc="Chapman capture-recapture estimate of the total BIGRAM "
    "vocabulary from each source pair's overlap "
    "(operators/text.py:vocab_capture_recapture) — the 'how much "
    "more is out there' rung above vocab_overlap_pairs: source A's "
    "bigram vocab = first capture, B's = marked recapture, N_hat = "
    "(n_a+1)(n_b+1)/(m+1)-1 with Seber's SE; N_hat - |union "
    "observed| = the unseen mass a coverage plan still owes "
    "(heaps_law's other angle). Bigrams because the saturated "
    "unigram vocab degenerates. vocab_overlap's inverted-index "
    "geometry verbatim: one DISTINCT aggregate, one gram self-join, "
    "pairs seated from totals; max_sources fail-fast forwarded",
)
def vocab_chapman_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import vocab_capture_recapture

    docs = load(spark, sf_dir, "documents")
    return vocab_capture_recapture(
        docs, "source", "text", ngram=2, max_sources=64
    )


# ---------------------------------------------------------------------------
# round-10 wave 5: effect sizes, extremes, SPC, paired k-sample, enrichment
# ---------------------------------------------------------------------------


@_q(
    "cohens_d_purchase_click",
    """
    WITH base AS (
      SELECT CAST(isodow(ts) - 1 AS BIGINT) AS wd,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             event_type = 'purchase' AS a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
    ag AS (
      SELECT wd,
             CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b,
             SUM(CASE WHEN a THEN v::HUGEINT END) AS sa,
             SUM(CASE WHEN NOT a THEN v::HUGEINT END) AS sb,
             SUM(CASE WHEN a THEN v::HUGEINT * v END) AS qa,
             SUM(CASE WHEN NOT a THEN v::HUGEINT * v END) AS qb
      FROM base GROUP BY 1),
    m AS (
      SELECT wd, n_a, n_b,
             CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
             CAST(CAST(sa AS VARCHAR) AS DOUBLE) AS da,
             CAST(CAST(sb AS VARCHAR) AS DOUBLE) AS db,
             CAST(CAST(qa AS VARCHAR) AS DOUBLE) AS dqa,
             CAST(CAST(qb AS VARCHAR) AS DOUBLE) AS dqb
      FROM ag),
    mm AS (
      SELECT wd, n_a, n_b, na, nb,
             da / na AS ma, db / nb AS mb,
             dqa - da * da / na AS ssa,
             dqb - db * db / nb AS ssb
      FROM m),
    st AS (
      SELECT wd, n_a, n_b, na, nb, ma, mb,
             (ssa + ssb) / (na + nb - 2.0) AS sp2,
             n_a >= 2 AND n_b >= 2 AND ssa + ssb > 0 AS ok
      FROM mm),
    dd AS (
      SELECT wd, n_a, n_b, ma, mb, sp2, ok, na, nb,
             CASE WHEN ok THEN (ma - mb) / SQRT(sp2) END AS d
      FROM st)
    SELECT wd AS weekday, n_a, n_b,
           ROUND(ma / 100.0, 6) AS mean_a,
           ROUND(mb / 100.0, 6) AS mean_b,
           ROUND(CASE WHEN ok THEN SQRT(sp2) END / 100.0, 6)
             AS sd_pooled,
           ROUND(d, 6) AS cohens_d,
           ROUND(d * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)), 6)
             AS hedges_g
    FROM dd ORDER BY weekday
    """,
    doc="Cohen's d + Hedges' g standardized purchase-vs-click value "
    "difference per weekday (operators/relational.py:cohens_d) — "
    "the effect-SIZE rung power_mde CONSUMES to size an experiment "
    "and mann_whitney's rank shift can't give in value units. "
    "Per-class Σv/Σv² exact in DECIMAL(38,0)/HUGEINT off ONE "
    "conditional aggregate; scale cancels in d and g; the Γ-ratio "
    "small-sample correction is the closed 1−3/(4n−9) form",
)
def cohens_d_purchase_click_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import cohens_d

    ev = load_events(spark, sf_dir)
    frame = ev.select(
        F.weekday("ts").cast("long").alias("weekday"),
        "value",
        "event_type",
    )
    return cohens_d(
        frame, ["weekday"], "value", "event_type", "purchase", "click"
    )


@_q(
    "friedman_daily_types",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    q AS (
      SELECT day AS b, event_type AS t,
             CAST(ROUND(v * 1000000, 0) AS BIGINT) AS v
      FROM daily),
    kt AS (SELECT COUNT(DISTINCT t) AS k FROM q),
    cb AS (
      SELECT b FROM q GROUP BY b
      HAVING COUNT(*) = (SELECT k FROM kt)),
    base AS (SELECT q.* FROM q JOIN cb USING (b)),
    cells AS (
      SELECT b, v, CAST(COUNT(*) AS BIGINT) AS tv
      FROM base GROUP BY 1, 2),
    rk AS (
      SELECT b, v,
             2 * COALESCE(SUM(tv) OVER (PARTITION BY b ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + tv + 1 AS r2
      FROM cells),
    per_t AS (
      SELECT base.t, SUM(rk.r2::HUGEINT) AS r2sum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base JOIN rk ON base.b = rk.b AND base.v = rk.v
      GROUP BY 1),
    ties AS (
      SELECT SUM(tv::HUGEINT * tv * tv - tv) AS t3t FROM cells),
    ag AS (
      SELECT MAX(n) AS n_blocks,
             CAST(COUNT(*) AS BIGINT) AS k_treatments,
             SUM(CAST(CAST(r2sum * r2sum AS VARCHAR) AS DOUBLE)) AS rr4
      FROM per_t),
    m AS (
      SELECT n_blocks, k_treatments,
             CAST(n_blocks AS DOUBLE) AS n,
             CAST(k_treatments AS DOUBLE) AS k,
             rr4, CAST(CAST(t3t AS VARCHAR) AS DOUBLE) AS t3td
      FROM ag CROSS JOIN ties),
    st AS (
      SELECT n_blocks, k_treatments, n, k,
             12.0 / (n * k * (k + 1.0)) * (rr4 / 4.0)
               - 3.0 * n * (k + 1.0) AS chi2,
             1.0 - t3td / (n * k * (k * k - 1.0)) AS corr,
             n_blocks >= 1 AND k_treatments >= 2 AS ok
      FROM m)
    SELECT CAST(n_blocks AS BIGINT) AS n_blocks, k_treatments,
           ROUND(CASE WHEN ok THEN chi2 END, 6) AS chi2_f,
           ROUND(CASE WHEN ok AND corr > 0 THEN chi2 / corr END, 6)
             AS chi2_f_corrected
    FROM st
    """,
    doc="Friedman rank test of the five event types across matched "
    "day blocks (operators/relational.py:friedman_test) — the "
    "PAIRED k-sample rung next to kruskal (unpaired) and mcnemar "
    "(paired binary): within each day the k daily means are ranked; "
    "chi2_F asks whether any type consistently out-ranks. "
    "Mann-Whitney midrank identity applied BLOCKWISE ((2c+tv+1) "
    "exact 2x integers on (block, value) cells — the within-block "
    "window is k-bounded, millions of blocks parallelize); "
    "incomplete blocks dropped whole; tie correction in "
    "DECIMAL(38,0)/HUGEINT",
)
def friedman_daily_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import friedman_test

    daily = _daily_mean_frame(spark, sf_dir)
    return friedman_test(daily, "day", "event_type", "v")


@_q(
    "hill_tail_orders",
    """
    WITH base AS (
      SELECT o_orderpriority AS g,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    pos AS (SELECT g, v FROM base WHERE v > 0),
    per_v AS (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
      FROM pos GROUP BY 1, 2),
    cum AS (
      SELECT g, v, t,
             COALESCE(SUM(t) OVER (PARTITION BY g ORDER BY v DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS above,
             SUM(t) OVER (PARTITION BY g) AS n
      FROM per_v),
    cut AS (
      SELECT g, v, n,
             LEAST(t, 200 - above) AS taken
      FROM cum WHERE above < 200),
    ag AS (
      SELECT g, CAST(MAX(n) AS BIGINT) AS n,
             CAST(SUM(taken) AS BIGINT) AS n_taken,
             SUM(CAST(taken AS DOUBLE) * LN(CAST(v AS DOUBLE)))
               AS slnv,
             MIN(v) AS xk
      FROM cut GROUP BY 1),
    m AS (
      SELECT g, n, n_taken,
             CAST(xk AS DOUBLE) AS xkd,
             slnv / CAST(n_taken AS DOUBLE)
               - LN(CAST(xk AS DOUBLE)) AS excess
      FROM ag)
    SELECT g AS o_orderpriority, n, n_taken,
           ROUND(xkd / 100.0, 6) AS x_k,
           ROUND(CASE WHEN n_taken >= 2 AND excess > 0
                 THEN 1.0 / excess END, 6) AS hill_alpha,
           ROUND(excess, 6) AS log_mean_excess
    FROM m ORDER BY o_orderpriority
    """,
    doc="Hill power-law tail index over the 200 largest order values "
    "per priority (operators/relational.py:hill_tail_index) — the "
    "TAIL companion to zipf_vocab_fit's rank-frequency body and "
    "gumbel's block maxima: small alpha = heavy tail = a handful of "
    "orders dominate. The top-k cut rides the DISTINCT-value frame "
    "with deterministic tie SPLITTING (taken = min(t, k-above) — "
    "never row identity); n_taken, sum(taken*ln v) and x_k exact; "
    "no row-level top-k sort of the fact",
)
def hill_tail_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hill_tail_index

    orders = load(spark, sf_dir, "orders")
    return hill_tail_index(
        orders.select(
            F.col("o_orderpriority").alias("o_orderpriority"),
            "o_totalprice",
        ),
        ["o_orderpriority"],
        "o_totalprice",
        k=200,
    )


@_q(
    "lorenz_customer_revenue",
    """
    WITH rev AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS r
      FROM orders GROUP BY o_custkey),
    q AS (SELECT CAST(ROUND(r * 100, 0) AS BIGINT) AS v FROM rev),
    per_v AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM q GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             SUM(v::HUGEINT * t) AS total
      FROM per_v),
    cum AS (
      SELECT v, t,
             COALESCE(SUM(t) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS c
      FROM per_v),
    d10 AS (
      SELECT cum.*, tot.n, tot.total, dd.decile
      FROM cum CROSS JOIN tot
      CROSS JOIN (SELECT UNNEST(range(1, 11)) AS decile) dd),
    sl AS (
      SELECT decile, n, total,
             GREATEST(0, LEAST(c + t,
                 FLOOR(decile * n / 10.0))
               - GREATEST(c, FLOOR((decile - 1) * n / 10.0)))
               AS taken,
             v
      FROM d10),
    sliced AS (
      SELECT decile, n, total,
             CAST(SUM(taken) AS BIGINT) AS n_units,
             SUM(CAST(taken AS HUGEINT) * v) AS dsum
      FROM sl WHERE taken > 0 GROUP BY 1, 2, 3),
    sh AS (
      SELECT decile, n_units,
             CAST(CAST(dsum AS VARCHAR) AS DOUBLE) AS dsumd,
             CAST(CAST(total AS VARCHAR) AS DOUBLE) AS totald
      FROM sliced),
    fin AS (
      SELECT decile, n_units,
             ROUND(dsumd / 100.0, 6) AS total,
             ROUND(dsumd / totald, 6) AS share,
             SUM(dsumd / totald) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cs
      FROM sh)
    SELECT CAST(decile AS BIGINT) AS decile, n_units, total, share,
           ROUND(cs, 6) AS cum_share
    FROM fin ORDER BY decile
    """,
    doc="exact Lorenz curve of per-customer revenue at decile "
    "resolution (operators/relational.py:lorenz_deciles) — the "
    "CURVE behind gini_customer_revenue's scalar ('the bottom half "
    "holds 25%'). Equal-count deciles with integer boundaries "
    "floor(d*n/10); a tie block straddling a boundary SPLITS BY "
    "COUNT, never by row identity; per-decile sums exact in "
    "DECIMAL(38,0)/HUGEINT off the distinct-value frame (the "
    "gini/mann_whitney reduced-frame discipline); the 10-way "
    "explode touches the REDUCED frame only",
)
def lorenz_customer_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import lorenz_deciles

    orders = load(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .cast("double")
        .alias("r")
    )
    return lorenz_deciles(rev, "r")


@_q(
    "runs_test_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    q AS (
      SELECT event_type AS g, day AS o,
             CAST(ROUND(v * 1000000, 0) AS BIGINT) AS v
      FROM daily),
    per_v AS (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
      FROM q GROUP BY 1, 2),
    med AS (
      SELECT g, MIN(v) AS med FROM (
        SELECT g, v,
               SUM(t) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               SUM(t) OVER (PARTITION BY g) AS n
        FROM per_v) WHERE cum * 2 >= n GROUP BY 1),
    signed AS (
      SELECT q.g, q.o,
             CASE WHEN q.v > med.med THEN 1 ELSE 0 END AS s
      FROM q JOIN med ON q.g = med.g
      WHERE q.v <> med.med),
    flips AS (
      SELECT g, s,
             CASE WHEN LAG(s) OVER (PARTITION BY g ORDER BY o)
                  IS DISTINCT FROM s THEN 1 ELSE 0 END AS newrun
      FROM signed),
    ag AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS n_above,
             CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_below,
             CAST(SUM(newrun) AS BIGINT) AS runs
      FROM flips GROUP BY 1),
    m AS (
      SELECT g, n, n_above, n_below, runs,
             2.0 * n_above * n_below / CAST(n AS DOUBLE) + 1.0 AS mu
      FROM ag),
    mm AS (
      SELECT g, n, n_above, n_below, runs, mu,
             (mu - 1.0) * (mu - 2.0) / (CAST(n AS DOUBLE) - 1.0)
               AS var
      FROM m)
    SELECT g AS event_type, n, n_above, n_below, runs,
           ROUND(CASE WHEN n_above > 0 AND n_below > 0 AND var > 0
                 THEN (CAST(runs AS DOUBLE) - mu) / SQRT(var) END, 6)
             AS z
    FROM mm ORDER BY event_type
    """,
    doc="Wald-Wolfowitz runs test of the daily mean series per event "
    "type (operators/series.py:runs_test) — 'do the above/below-"
    "median signs cluster': too few runs = sticky regimes, too many "
    "= oscillation; the non-parametric cousin of durbin_watson "
    "needing no residual model. LOWER-median contract "
    "(brown_forsythe precedent), ties-with-median dropped "
    "(standard); signs exact off micro-quantized dailies; one lag "
    "window over the bounded rollup",
)
def runs_test_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import runs_test

    daily = _daily_mean_frame(spark, sf_dir)
    return runs_test(daily, ["event_type"], "day", "v")


@_q(
    "grubbs_values",
    """
    WITH base AS (
      SELECT event_type AS g,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    per_v AS (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
      FROM base GROUP BY 1, 2),
    mom AS (
      SELECT g, CAST(SUM(t) AS BIGINT) AS n,
             SUM(v::HUGEINT * t) AS s1,
             SUM((v::HUGEINT * v) * t) AS s2
      FROM per_v GROUP BY 1),
    m AS (
      SELECT g, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS d1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS d2
      FROM mom),
    mm AS (
      SELECT g, n, nd, d1 / nd AS mean_q,
             (d2 - d1 * d1 / nd) / (nd - 1.0) AS var_q
      FROM m),
    dev AS (
      SELECT p.g, p.v,
             ABS(CAST(p.v AS DOUBLE) - mm.mean_q) AS dv,
             mm.n, mm.mean_q, mm.var_q,
             ROW_NUMBER() OVER (PARTITION BY p.g
               ORDER BY ABS(CAST(p.v AS DOUBLE) - mm.mean_q) DESC,
                        p.v ASC) AS rn
      FROM per_v p JOIN mm ON p.g = mm.g),
    top AS (SELECT * FROM dev WHERE rn = 1),
    st AS (
      SELECT g, n, mean_q, var_q, v, dv,
             SQRT(GREATEST(var_q, 0.0)) AS sd_q,
             n >= 3 AND var_q > 0 AS ok
      FROM top)
    SELECT g AS event_type, n,
           ROUND(mean_q / 100.0, 6) AS mean,
           ROUND(CASE WHEN ok THEN sd_q END / 100.0, 6) AS sd,
           CAST(v AS DOUBLE) / 100.0 AS outlier_value,
           ROUND(CASE WHEN ok THEN dv / sd_q END, 6) AS g_stat
    FROM st ORDER BY event_type
    """,
    doc="Grubbs' single-outlier statistic per event type "
    "(operators/series.py:grubbs_statistic) — G = max|x-mean|/sd, "
    "'how many sample sd does the single worst value sit out': the "
    "parametric screen next to mad_outliers' robust fences, "
    "reporting the offending value. Moments exact off the "
    "(group, value) frame in DECIMAL(38,0)/HUGEINT; argmax on the "
    "DISTINCT-value frame with a smaller-value tiebreak; the fact "
    "is scanned once, no window over it",
)
def grubbs_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import grubbs_statistic

    ev = load_events(spark, sf_dir)
    return grubbs_statistic(ev, ["event_type"], "value")


@_q(
    "gumbel_weekly_max",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    q AS (
      SELECT event_type AS g,
             CAST(weekofyear(day) AS BIGINT) AS blk,
             CAST(ROUND(v * 1000000, 0) AS BIGINT) AS v
      FROM daily),
    bmax AS (
      SELECT g, blk, MAX(v) AS m FROM q GROUP BY 1, 2),
    ag AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             SUM(m::HUGEINT) AS s1,
             SUM(m::HUGEINT * m) AS s2
      FROM bmax GROUP BY 1),
    m AS (
      SELECT g, n_blocks,
             CAST(n_blocks AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS d1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS d2
      FROM ag),
    mm AS (
      SELECT g, n_blocks, nd, d1 / nd AS mean_q,
             (d2 - d1 * d1 / nd) / (nd - 1.0) AS var_q
      FROM m),
    fit AS (
      SELECT g, n_blocks, mean_q,
             SQRT(GREATEST(var_q, 0.0)) * 0.7796968012336793 AS beta,
             n_blocks >= 2 AND var_q > 0 AS ok
      FROM mm),
    fit2 AS (
      SELECT g, n_blocks, mean_q, beta, ok,
             mean_q - 0.5772156649015329 * beta AS loc
      FROM fit)
    SELECT g AS event_type, n_blocks,
           ROUND(mean_q / 1000000.0, 6) AS block_max_mean,
           ROUND(CASE WHEN ok THEN loc END / 1000000.0, 6)
             AS gumbel_loc,
           ROUND(CASE WHEN ok THEN beta END / 1000000.0, 6)
             AS gumbel_scale,
           ROUND(CASE WHEN ok THEN
             loc - beta * LN(-LN(1.0 - 1.0 / 52.0)) END / 1000000.0,
             6) AS return_level
    FROM fit2 ORDER BY event_type
    """,
    doc="Gumbel extreme-value fit on weekly maxima of the daily mean "
    "per event type (operators/series.py:gumbel_block_maxima) — "
    "method of moments (loc = mean − γ·β, β = s·√6/π, γ and √6/π "
    "injected literals) + the 52-week return level ('the weekly max "
    "you exceed about once a year') — the tail-risk rung next to "
    "hill_tail_orders. Block maxima exact (max of quantized "
    "micros); moments in DECIMAL(38,0)/HUGEINT; ONE block-max "
    "aggregate + one reduce, no window",
)
def gumbel_weekly_max_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import gumbel_block_maxima

    daily = _daily_mean_frame(spark, sf_dir)
    return gumbel_block_maxima(
        daily.withColumn("wk", F.weekofyear("day").cast("long")),
        ["event_type"],
        "wk",
        "v",
        return_period=52,
        scale=1_000_000,
    )


@_q(
    "imr_chart_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    lagd AS (
      SELECT event_type AS g, day AS o, v AS x,
             ABS(v - LAG(v) OVER (PARTITION BY event_type
                 ORDER BY day)) AS mr
      FROM daily),
    st AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(x) AS xbar,
             CAST(SUM(CAST(mr AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(mr) AS mrbar
      FROM lagd GROUP BY 1),
    j AS (
      SELECT l.g, l.o, l.x, st.n, st.xbar, st.mrbar,
             st.xbar - 2.66 * st.mrbar AS lcl,
             st.xbar + 2.66 * st.mrbar AS ucl
      FROM lagd l JOIN st ON l.g = st.g)
    SELECT g AS event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MAX(xbar), 6) AS center,
           ROUND(MAX(mrbar), 6) AS mr_mean,
           ROUND(MAX(lcl), 6) AS lcl,
           ROUND(MAX(ucl), 6) AS ucl,
           ROUND(MAX(3.267 * mrbar), 6) AS mr_ucl,
           CAST(SUM(CASE WHEN x < lcl OR x > ucl THEN 1 ELSE 0 END)
                AS BIGINT) AS n_breaches,
           MIN(CASE WHEN x < lcl OR x > ucl THEN o END)
             AS first_breach_at
    FROM j GROUP BY 1 ORDER BY event_type
    """,
    doc="individuals / moving-range (I-MR) Shewhart control chart of "
    "the daily mean per event type "
    "(operators/series.py:imr_control_chart) — center ± 2.66·MRbar "
    "natural process limits (2.66 = 3/d2 at subgroup 2; constants "
    "injected), MR upper limit 3.267·MRbar, breach count + first "
    "breach day: the SPC rung next to page_hinkley (sequential) and "
    "cusum (cumulative). xbar/MRbar ride exact DECIMAL(18,6) sums "
    "of the round-6 rollup; one lag window + one reduce + one "
    "breach pass, all rollup-sized",
)
def imr_chart_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import imr_control_chart

    daily = _daily_mean_frame(spark, sf_dir)
    return imr_control_chart(daily, ["event_type"], "day", "v")


@_q(
    "cochran_doc_rules",
    """
    WITH base AS (
      SELECT lang,
             CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS r1,
             CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS r2,
             CASE WHEN len(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) >= 45 THEN 1 ELSE 0 END
               AS r3
      FROM documents),
    ag AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r1) AS BIGINT) AS fires_len150,
             CAST(SUM(r2) AS BIGINT) AS fires_len250,
             CAST(SUM(r3) AS BIGINT) AS fires_words45,
             CAST(SUM(r1 + r2 + r3) AS BIGINT) AS t,
             CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT)
               AS r2sum
      FROM base GROUP BY 1),
    m AS (
      SELECT lang, n, fires_len150, fires_len250, fires_words45,
             CAST(t AS DOUBLE) AS td, CAST(r2sum AS DOUBLE) AS r2d,
             CAST(fires_len150 AS DOUBLE) AS c1,
             CAST(fires_len250 AS DOUBLE) AS c2,
             CAST(fires_words45 AS DOUBLE) AS c3
      FROM ag),
    st AS (
      SELECT lang, n, fires_len150, fires_len250, fires_words45,
             (c1 - td / 3.0) * (c1 - td / 3.0)
             + (c2 - td / 3.0) * (c2 - td / 3.0)
             + (c3 - td / 3.0) * (c3 - td / 3.0) AS num,
             3.0 * td - r2d AS den
      FROM m)
    SELECT lang, n, CAST(3 AS BIGINT) AS k_rules,
           fires_len150, fires_len250, fires_words45,
           ROUND(CASE WHEN den > 0 THEN 6.0 * num / den END, 6)
             AS cochran_q
    FROM st ORDER BY lang
    """,
    doc="Cochran's Q across three paired document-quality rules "
    "(n_chars>=150, n_chars>=250, words>=45) per language "
    "(operators/classify.py:cochran_q) — the k-rule extension of "
    "mcnemar_doc_rules (k=2 reduces to McNemar uncorrected): 'do "
    "these k filters fire at genuinely different rates on the SAME "
    "rows'. All cells exact off ONE conditional aggregate; rows "
    "where every rule agrees drop out of the denominator naturally; "
    "k(k-1)=6 injected",
)
def cochran_doc_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import cochran_q
    from ..operators.text import normalize_text_col

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        (F.col("n_chars") >= 150).alias("len150"),
        (F.col("n_chars") >= 250).alias("len250"),
        (
            F.size(F.split(normalize_text_col("text"), " ")) >= 45
        ).alias("words45"),
    )
    return cochran_q(base, ["lang"], ["len150", "len250", "words45"])


@_q(
    "fightin_words_sources",
    """
    WITH toks AS (
      SELECT source AS g,
             unnest(string_split(trim(regexp_replace(lower(text),
                 '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents),
    counts AS (
      SELECT g, tok, CAST(COUNT(*) AS BIGINT) AS y
      FROM toks WHERE length(tok) > 0 GROUP BY 1, 2),
    tok_tot AS (
      SELECT tok, CAST(SUM(y) AS BIGINT) AS yw FROM counts GROUP BY 1),
    grp_tot AS (
      SELECT g, CAST(SUM(y) AS BIGINT) AS ns FROM counts GROUP BY 1),
    n_tot AS (SELECT CAST(SUM(yw) AS BIGINT) AS n FROM tok_tot),
    j AS (
      SELECT c.g, c.tok, c.y, t.yw, s.ns, n.n,
             100.0 * CAST(t.yw AS DOUBLE) / CAST(n.n AS DOUBLE) AS aw
      FROM counts c
      JOIN tok_tot t ON c.tok = t.tok
      JOIN grp_tot s ON c.g = s.g
      CROSS JOIN n_tot n),
    sc AS (
      SELECT g, tok, y, yw - y AS yr, ns, n, aw,
             LN((CAST(y AS DOUBLE) + aw)
                / (CAST(ns AS DOUBLE) + 100.0
                   - CAST(y AS DOUBLE) - aw))
             - LN((CAST(yw - y AS DOUBLE) + aw)
                  / (CAST(n - ns AS DOUBLE) + 100.0
                     - CAST(yw - y AS DOUBLE) - aw)) AS delta,
             1.0 / (CAST(y AS DOUBLE) + aw)
             + 1.0 / (CAST(yw - y AS DOUBLE) + aw) AS var
      FROM j),
    zr AS (
      SELECT g AS source, tok AS token,
             y AS count_in, CAST(yr AS BIGINT) AS count_rest,
             ROUND(delta, 6) AS delta_logodds,
             ROUND(delta / SQRT(var), 6) AS zscore
      FROM sc),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY zscore DESC, token ASC) AS rn
      FROM zr)
    SELECT source, token, count_in, count_rest, delta_logodds,
           zscore
    FROM rk WHERE rn <= 3
    ORDER BY source, zscore DESC, token
    """,
    doc="Monroe-Colaresi-Quinn 'Fightin' Words' token enrichment — "
    "top-3 tokens per source by the informative-Dirichlet log-odds "
    "z (operators/text.py:fightin_words; Political Analysis 16(4) "
    "2008 §3.5.2) — the statistically-grounded replacement for "
    "tfidf_top_terms when comparing SOURCES: the corpus-rate prior "
    "(alpha0=100 injected) shrinks low-count noise so z means the "
    "same thing at 10 counts and 10k. Counts exact off one "
    "(source, token) aggregate; rest = totals − own (no self-join); "
    "per-source top-k on round-6 z with a token tiebreak",
)
def fightin_words_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import fightin_words

    docs = load(spark, sf_dir, "documents")
    return fightin_words(
        docs, "source", "text", prior_strength=100.0, top_k=3
    )


# ---------------------------------------------------------------------------
# round-10 wave 6: distribution tests, experiment audits, matched designs
# ---------------------------------------------------------------------------


@_q(
    "ad2_click_error",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
    per_v AS (
      SELECT v, CAST(SUM(a) AS BIGINT) AS fa,
             CAST(COUNT(*) AS BIGINT) AS l
      FROM base GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(fa) AS BIGINT) AS na,
             CAST(SUM(l) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_values
      FROM per_v),
    cum AS (
      SELECT v, fa, l,
             COALESCE(SUM(fa) OVER w, 0) AS cfa,
             COALESCE(SUM(l) OVER w, 0) AS cl
      FROM per_v
      WINDOW w AS (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    terms AS (
      SELECT t.na, t.n - t.na AS nb, t.n, t.n_values,
             c.l,
             2 * c.cfa + c.fa AS m2a,
             2 * c.cl + c.l AS b2
      FROM cum c CROSS JOIN tot t),
    terms2 AS (
      SELECT na, nb, n, n_values, l, b2,
             n::HUGEINT * m2a - na::HUGEINT * b2 AS num_a,
             n::HUGEINT * (b2 - m2a) - nb::HUGEINT * b2 AS num_b,
             b2::HUGEINT * (2 * n - b2) - n::HUGEINT * l AS den
      FROM terms),
    summed AS (
      SELECT MAX(na) AS n_a, MAX(nb) AS n_b,
             MAX(n_values) AS n_values, MAX(n) AS n,
             SUM(CASE WHEN den > 0 THEN
               CAST(l AS DOUBLE)
               * (CAST(CAST(num_a * num_a AS VARCHAR) AS DOUBLE)
                    / CAST(na AS DOUBLE)
                  + CAST(CAST(num_b * num_b AS VARCHAR) AS DOUBLE)
                    / CAST(nb AS DOUBLE))
               / (CAST(n AS DOUBLE)
                  * CAST(CAST(den AS VARCHAR) AS DOUBLE))
             ELSE 0.0 END) AS s
      FROM terms2)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_values AS BIGINT) AS n_values,
           ROUND(CASE WHEN n_a > 0 AND n_b > 0 AND n_values >= 2
                 THEN (CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE)
                      * s END, 6) AS a2
    FROM summed
    """,
    doc="tie-adjusted two-sample Anderson-Darling (Scholz-Stephens "
    "A2_akN, k=2) between click and error values "
    "(operators/relational.py:anderson_darling_two_sample) — the "
    "distribution-equality rung that weights the TAILS where "
    "ks_value_drift's max-gap is tail-blind and cvm integrates "
    "uniformly. Midrank quantities in 2x integer units on the "
    "DISTINCT pooled frame; every numerator/denominator an exact "
    "DECIMAL(38,0)/HUGEINT ((N·M2)^2 ~ 4N^4 inside 38 digits to "
    "N~1e9); one prefix window + one reduce",
)
def ad2_click_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import anderson_darling_two_sample

    ev = load_events(spark, sf_dir)
    return anderson_darling_two_sample(
        ev.filter(F.col("event_type").isin("click", "error")).select(
            "value", "event_type"
        ),
        "value",
        "event_type",
        "click",
    )


@_q(
    "dunn_posthoc_values",
    """
    WITH base AS (
      SELECT event_type AS c,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    cells AS (
      SELECT c, v, CAST(COUNT(*) AS BIGINT) AS f
      FROM base GROUP BY 1, 2),
    per_v AS (
      SELECT v, CAST(SUM(f) AS BIGINT) AS tv FROM cells GROUP BY 1),
    rv AS (
      SELECT v,
             2 * COALESCE(SUM(tv) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + tv + 1 AS r2
      FROM per_v),
    per_c AS (
      SELECT cells.c, CAST(SUM(cells.f) AS BIGINT) AS n,
             SUM(cells.f::HUGEINT * rv.r2) AS r2sum
      FROM cells JOIN rv ON cells.v = rv.v GROUP BY 1),
    gstats AS (
      SELECT CAST(SUM(tv) AS BIGINT) AS nn,
             SUM(tv::HUGEINT * tv * tv - tv) AS t3t
      FROM per_v),
    pairs AS (
      SELECT a.c AS class_a, b.c AS class_b,
             a.n AS n_a, b.n AS n_b,
             a.r2sum AS ra, b.r2sum AS rb, g.nn, g.t3t
      FROM per_c a JOIN per_c b ON a.c < b.c CROSS JOIN gstats g),
    m AS (
      SELECT class_a, class_b, n_a, n_b,
             CAST(CAST(ra AS VARCHAR) AS DOUBLE)
               / (2.0 * CAST(n_a AS DOUBLE)) AS ra_bar,
             CAST(CAST(rb AS VARCHAR) AS DOUBLE)
               / (2.0 * CAST(n_b AS DOUBLE)) AS rb_bar,
             (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1.0)
              - CAST(CAST(t3t AS VARCHAR) AS DOUBLE)
                / (CAST(nn AS DOUBLE) - 1.0)) / 12.0 AS sigma2
      FROM pairs)
    SELECT class_a, class_b, n_a, n_b,
           ROUND(ra_bar, 6) AS mean_rank_a,
           ROUND(rb_bar, 6) AS mean_rank_b,
           ROUND(CASE WHEN sigma2 > 0 THEN (ra_bar - rb_bar)
                 / SQRT(sigma2 * (1.0 / n_a + 1.0 / n_b)) END, 6)
             AS z
    FROM m ORDER BY class_a, class_b
    """,
    doc="Dunn's post-hoc pairwise rank z for all C(5,2) event-type "
    "pairs (operators/relational.py:dunn_test) — WHICH classes "
    "differ once kruskal_event_values says 'some class differs'; "
    "tie-corrected Dunn variance, raw z (no multiplicity correction "
    "baked in — k is visible for Bonferroni/Holm). Mann-Whitney "
    "midrank discipline: 2x rank sums exact DECIMAL(38,0)/HUGEINT "
    "on the DISTINCT-value frame; the pair join touches the k-row "
    "class frame only",
)
def dunn_posthoc_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import dunn_test

    ev = load_events(spark, sf_dir)
    return dunn_test(
        ev.select("value", "event_type"), "value", "event_type"
    )


@_q(
    "srm_user_arms",
    """
    WITH obs AS (
      SELECT CAST(user_id % 4 AS VARCHAR) AS arm,
             CAST(COUNT(*) AS BIGINT) AS n_observed
      FROM events GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_observed) AS BIGINT) AS n FROM obs),
    ex AS (
      SELECT * FROM (VALUES ('0', 0.25), ('1', 0.25), ('2', 0.25),
                            ('3', 0.25)) AS t(arm, expected_share)),
    j AS (
      SELECT obs.arm, obs.n_observed, ex.expected_share, tot.n
      FROM obs JOIN ex USING (arm) CROSS JOIN tot)
    SELECT arm, n_observed,
           ROUND(expected_share, 6) AS expected_share,
           ROUND(CAST(n_observed AS DOUBLE) / n, 6) AS observed_share,
           ROUND((n_observed - n * expected_share)
                 / (n * expected_share), 6) AS rel_dev,
           ROUND((n_observed - n * expected_share)
                 * (n_observed - n * expected_share)
                 / (n * expected_share), 6) AS chi2_term
    FROM j ORDER BY arm
    """,
    doc="sample-ratio-mismatch audit of a 4-arm user_id%4 assignment "
    "against the designed 25% shares "
    "(operators/relational.py:srm_check) — the FIRST thing an "
    "experiment readout checks before ab_experiment_readout's "
    "effect math means anything: per-arm chi2 terms (sum = the SRM "
    "statistic, dof k-1) plus relative deviations showing WHICH arm "
    "leaks. Designed shares are injected literals; an arm present "
    "in data but absent from the design raises in-plan rather than "
    "vanishing. ONE count aggregate",
)
def srm_user_arms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import srm_check

    ev = load_events(spark, sf_dir)
    return srm_check(
        ev.select((F.col("user_id") % 4).cast("string").alias("arm")),
        "arm",
        {"0": 0.25, "1": 0.25, "2": 0.25, "3": 0.25},
    )


@_q(
    "poisson_rate_halves",
    """
    WITH base AS (
      SELECT event_type,
             day(ts) <= 15 AS w1,
             CAST(ts AS DATE) AS d
      FROM events),
    ag AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN w1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN w1 THEN 0 ELSE 1 END) AS BIGINT) AS c2,
             CAST(COUNT(DISTINCT CASE WHEN w1 THEN d END) AS BIGINT)
               AS t1,
             CAST(COUNT(DISTINCT CASE WHEN NOT w1 THEN d END)
                  AS BIGINT) AS t2
      FROM base GROUP BY 1)
    SELECT event_type, c1, c2, t1, t2,
           ROUND(CASE WHEN t1 > 0 THEN CAST(c1 AS DOUBLE) / t1 END, 6)
             AS rate1,
           ROUND(CASE WHEN t2 > 0 THEN CAST(c2 AS DOUBLE) / t2 END, 6)
             AS rate2,
           ROUND(CASE WHEN c2 > 0 AND t1 > 0 AND t2 > 0 THEN
             (CAST(c1 AS DOUBLE) / t1) / (CAST(c2 AS DOUBLE) / t2)
             END, 6) AS rate_ratio,
           ROUND(CASE WHEN c1 > 0 AND c2 > 0 AND t1 > 0 AND t2 > 0
             THEN LN((CAST(c1 AS DOUBLE) / t1)
                     / (CAST(c2 AS DOUBLE) / t2))
                  / SQRT(1.0 / c1 + 1.0 / c2) END, 6) AS z
    FROM ag ORDER BY event_type
    """,
    doc="two-window Poisson rate comparison per event type (first "
    "vs second half of the month, exposure = distinct active days) "
    "(operators/relational.py:poisson_two_rate) — 'did the event "
    "RATE change', the count-process companion to "
    "cohens_d_purchase_click's mean shift: rate ratio + Wald z on "
    "the log ratio (1/c1 + 1/c2 variance); zero counts -> NULL z "
    "(the caller falls back to an exact binomial). ONE aggregate "
    "with conditional counts + conditional COUNT DISTINCTs",
)
def poisson_rate_halves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import poisson_two_rate

    ev = load_events(spark, sf_dir)
    return poisson_two_rate(
        ev.select(
            "event_type",
            (F.dayofmonth("ts") <= 15).alias("w1"),
            F.to_date("ts").alias("d"),
        ),
        ["event_type"],
        "w1",
        "d",
    )


@_q(
    "cem_urgent_orders",
    """
    WITH base AS (
      SELECT o_orderpriority = '1-URGENT' AS t,
             CAST(FLOOR(o_totalprice / 100000) AS BIGINT) AS pb,
             CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd
      FROM orders),
    per_s AS (
      SELECT pb, wd,
             CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treated,
             CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT)
               AS n_control
      FROM base GROUP BY 1, 2),
    matched AS (
      SELECT * FROM per_s WHERE n_treated > 0 AND n_control > 0),
    tot AS (
      SELECT CAST(SUM(n_treated) AS BIGINT) AS ta,
             CAST(SUM(n_control) AS BIGINT) AS ca
      FROM per_s),
    ktot AS (
      SELECT CAST(SUM(n_treated) AS BIGINT) AS tk,
             CAST(SUM(n_control) AS BIGINT) AS ck
      FROM matched)
    SELECT m.pb, m.wd, m.n_treated, m.n_control,
           ROUND(CAST(m.n_treated AS DOUBLE) / m.n_control
                 * (CAST(k.ck AS DOUBLE) / k.tk), 6)
             AS control_weight,
           CAST(t.ta - k.tk AS BIGINT) AS pruned_treated,
           CAST(t.ca - k.ck AS BIGINT) AS pruned_control
    FROM matched m CROSS JOIN tot t CROSS JOIN ktot k
    ORDER BY pb, wd
    """,
    doc="Coarsened Exact Matching strata + control weights for "
    "urgent-vs-rest orders over (100k-price-bin, weekday) strata "
    "(operators/relational.py:cem_match; Iacus-King-Porro) — the "
    "design-based selection-bias control upstream of any "
    "treated-vs-control readout: strata lacking either group are "
    "pruned (visibly — pruned_* columns), surviving controls "
    "weighted (n_t/n_c)·(C_kept/T_kept) so the weighted control "
    "covariate distribution matches the treated exactly at the "
    "stratum grain. ONE (strata, treatment) aggregate; weights "
    "single divisions of exact integers",
)
def cem_urgent_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import cem_match

    orders = load(spark, sf_dir, "orders")
    base = orders.select(
        (F.col("o_orderpriority") == "1-URGENT").alias("t"),
        F.floor(F.col("o_totalprice") / 100000).cast("long").alias("pb"),
        F.weekday("o_orderdate").cast("long").alias("wd"),
    )
    return cem_match(base, "t", ["pb", "wd"])


@_q(
    "pettitt_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    q AS (
      SELECT event_type AS g, day AS o,
             CAST(ROUND(v * 1000000, 0) AS BIGINT) AS v
      FROM daily),
    per_v AS (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS tv
      FROM q GROUP BY 1, 2),
    rv AS (
      SELECT g, v,
             2 * COALESCE(SUM(tv) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + tv + 1 AS r2
      FROM per_v),
    u AS (
      SELECT q.g, q.o,
             SUM(rv.r2::HUGEINT) OVER (PARTITION BY q.g ORDER BY q.o
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - ROW_NUMBER() OVER (PARTITION BY q.g ORDER BY q.o)
               ::HUGEINT
               * (COUNT(*) OVER (PARTITION BY q.g) + 1) AS uu,
             COUNT(*) OVER (PARTITION BY q.g) AS n
      FROM q JOIN rv ON q.g = rv.g AND q.v = rv.v),
    top AS (
      SELECT g, o, uu, n,
             ROW_NUMBER() OVER (PARTITION BY g
               ORDER BY ABS(uu) DESC, o ASC) AS rn
      FROM u)
    SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN n >= 2 THEN
             ABS(CAST(CAST(uu AS VARCHAR) AS DOUBLE)) END, 6)
             AS k_stat,
           o AS change_at,
           ROUND(CASE WHEN n >= 2 THEN
             CAST(CAST(uu AS VARCHAR) AS DOUBLE) END, 6)
             AS u_at_change
    FROM top WHERE rn = 1 ORDER BY event_type
    """,
    doc="Pettitt rank change-point test on the daily mean series per "
    "event type (operators/series.py:pettitt_test) — the RANK-based "
    "single change-point locator next to sse_changepoint_daily "
    "(mean/SSE split, outlier-sensitive) and cusum: U_t = 2·sum "
    "prefix midranks − t(N+1) (exact under ties via midranks — "
    "tied pairs contribute 0 to the sgn double sum), K = max|U_t|, "
    "earliest-t tiebreak. 2x midranks exact integers off the "
    "distinct frame; one time-prefix window over the bounded rollup",
)
def pettitt_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import pettitt_test

    daily = _daily_mean_frame(spark, sf_dir)
    return pettitt_test(daily, ["event_type"], "day", "v")


@_q(
    "ols_influence_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    pts AS (
      SELECT event_type AS g,
             CAST(day(day) AS BIGINT) AS x, v AS y
      FROM daily),
    mom AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(x AS DECIMAL(18,0))) AS sx,
             SUM(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
               AS sxx,
             SUM(CAST(y AS DECIMAL(18,6))) AS sy,
             SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,6)))
               AS sxy,
             SUM(CAST(CAST(y AS DECIMAL(18,6))
                 * CAST(y AS DECIMAL(18,6)) AS DECIMAL(28,12))) AS syy
      FROM pts GROUP BY 1),
    m AS (
      SELECT g, n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
             CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
             CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
             CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy
      FROM mom),
    fit AS (
      SELECT g, n, nd, dx / nd AS xbar,
             dxx - dx * dx / nd AS ssx,
             dyy - dy * dy / nd AS ssy,
             dxy - dx * dy / nd AS spxy, dx, dy
      FROM m),
    fit2 AS (
      SELECT g, n, nd, xbar, ssx,
             spxy / ssx AS beta,
             dy / nd - spxy / ssx * xbar AS alpha,
             (ssy - spxy / ssx * spxy) / (nd - 2.0) AS s2
      FROM fit),
    pt AS (
      SELECT p.g, p.x, p.y,
             p.y - (f.alpha + f.beta * p.x) AS e,
             1.0 / f.nd + (p.x - f.xbar) * (p.x - f.xbar) / f.ssx
               AS h,
             f.s2, f.n
      FROM pts p JOIN fit2 f ON p.g = f.g
      WHERE f.n > 2),
    scored AS (
      SELECT g, x, y,
             ROUND(e, 6) AS residual,
             ROUND(h, 6) AS leverage,
             ROUND(CASE WHEN s2 > 0 THEN
               e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) END, 6)
               AS cooks_d
      FROM pt),
    rk AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY g
               ORDER BY cooks_d DESC NULLS LAST, x ASC) AS rn
      FROM scored)
    SELECT g AS event_type, x, y, residual, leverage, cooks_d
    FROM rk WHERE rn <= 3
    ORDER BY event_type, cooks_d DESC, x
    """,
    doc="OLS influence diagnostics on the daily trend fit per event "
    "type — top-3 days by Cook's distance with leverage and "
    "residual (operators/series.py:ols_influence) — 'which single "
    "day is dragging the slope', the diagnostic rung behind "
    "ols_order_value: h = 1/n + (x−x̄)²/Sxx, D = e²h/(2s²(1−h)²). "
    "Integer x + round-6 y make every moment an exact DECIMAL sum; "
    "per-point terms identical doubles; round-6 D rank with an x "
    "tiebreak",
)
def ols_influence_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import ols_influence

    daily = _daily_mean_frame(spark, sf_dir)
    return ols_influence(
        daily.withColumn("x", F.dayofmonth("day").cast("long")),
        ["event_type"],
        "x",
        "v",
        top_k=3,
    )


@_q(
    "seasonal_strength_events",
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
      FROM sr),
    comp AS (
      SELECT d.event_type, d.trend AS trend, sa.s AS seasonal,
             ROUND(d.v - d.trend - sa.s, 6) AS remainder
      FROM det d LEFT JOIN sa
        ON sa.event_type = d.event_type AND sa.phase = d.phase
      WHERE d.trend IS NOT NULL),
    ag AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_interior,
             SUM(CAST(remainder AS DECIMAL(18,6))) AS s_r,
             SUM(CAST(remainder * remainder AS DECIMAL(28,12)))
               AS q_r,
             SUM(CAST(seasonal + remainder AS DECIMAL(18,6))) AS s_sr,
             SUM(CAST((seasonal + remainder) * (seasonal + remainder)
                 AS DECIMAL(28,12))) AS q_sr,
             SUM(CAST(trend + remainder AS DECIMAL(18,6))) AS s_tr,
             SUM(CAST((trend + remainder) * (trend + remainder)
                 AS DECIMAL(28,12))) AS q_tr
      FROM comp GROUP BY 1),
    m AS (
      SELECT event_type, n_interior,
             CAST(n_interior AS DOUBLE) AS nd,
             (CAST(CAST(q_r AS VARCHAR) AS DOUBLE)
              - CAST(CAST(s_r AS VARCHAR) AS DOUBLE)
                * CAST(CAST(s_r AS VARCHAR) AS DOUBLE)
                / CAST(n_interior AS DOUBLE))
               / CAST(n_interior AS DOUBLE) AS vr,
             (CAST(CAST(q_sr AS VARCHAR) AS DOUBLE)
              - CAST(CAST(s_sr AS VARCHAR) AS DOUBLE)
                * CAST(CAST(s_sr AS VARCHAR) AS DOUBLE)
                / CAST(n_interior AS DOUBLE))
               / CAST(n_interior AS DOUBLE) AS vsr,
             (CAST(CAST(q_tr AS VARCHAR) AS DOUBLE)
              - CAST(CAST(s_tr AS VARCHAR) AS DOUBLE)
                * CAST(CAST(s_tr AS VARCHAR) AS DOUBLE)
                / CAST(n_interior AS DOUBLE))
               / CAST(n_interior AS DOUBLE) AS vtr
      FROM ag)
    SELECT event_type, n_interior,
           ROUND(CASE WHEN n_interior >= 2 AND vsr > 0
                 THEN GREATEST(0.0, 1.0 - vr / vsr) END, 6)
             AS seasonal_strength,
           ROUND(CASE WHEN n_interior >= 2 AND vtr > 0
                 THEN GREATEST(0.0, 1.0 - vr / vtr) END, 6)
             AS trend_strength
    FROM m ORDER BY event_type
    """,
    doc="Hyndman seasonal/trend strength per event type off the "
    "classical decomposition "
    "(operators/series.py:decomposition_strength) — F_s = max(0, 1 "
    "− Var(R)/Var(S+R)), F_t likewise with trend: 'how much of this "
    "series is actually seasonal vs noise', the scalar that decides "
    "whether seasonal_naive_backtest is even the right baseline. "
    "Rides seasonal_decompose_events' oracle decomposition verbatim "
    "(honest NULL-trend edges excluded); variances off exact "
    "DECIMAL(18,6)/(28,12) sums over the bounded interior",
)
def seasonal_strength_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import decomposition_strength

    ev = load_events(spark, sf_dir)
    rollup = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return decomposition_strength(
        rollup, ["event_type"], "day", "v", period=7
    )


# ---------------------------------------------------------------------------
# round-10 wave 7: LLM-curation audits, agreement, distributional effects
# ---------------------------------------------------------------------------


@_q(
    "gopher_quality_docs",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM documents),
    feat AS (
      SELECT doc_id, t,
             CAST(len(list_filter(string_split(t, ' '),
                  w -> length(w) > 0)) AS BIGINT) AS n_words,
             CAST(len(list_filter(string_split(t, ' '),
                  w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
               AS n_alpha,
             CAST(len(string_split(t, '#')) - 1
                  + len(string_split(t, '...')) - 1 AS BIGINT)
               AS n_sym
      FROM norm),
    m AS (
      SELECT doc_id, n_words,
             CASE WHEN n_words > 0 THEN
               CAST(length(t) - (n_words - 1) AS DOUBLE) / n_words
             END AS mwl,
             CASE WHEN n_words > 0 THEN
               CAST(n_sym AS DOUBLE) / n_words END AS symr,
             CASE WHEN n_words > 0 THEN
               CAST(n_alpha AS DOUBLE) / n_words END AS alphar
      FROM feat),
    flags AS (
      SELECT doc_id, n_words,
             ROUND(mwl, 6) AS mean_word_len,
             ROUND(symr, 6) AS symbol_word_ratio,
             ROUND(alphar, 6) AS alpha_word_ratio,
             n_words >= 50 AND n_words <= 100000 AS pass_min_words,
             COALESCE(mwl >= 3.0 AND mwl <= 10.0, FALSE)
               AS pass_word_len,
             COALESCE(symr <= 0.1, FALSE) AS pass_symbol_ratio,
             COALESCE(alphar >= 0.8, FALSE) AS pass_alpha_ratio
      FROM m)
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           alpha_word_ratio, pass_min_words, pass_word_len,
           pass_symbol_ratio, pass_alpha_ratio,
           pass_min_words AND pass_word_len AND pass_symbol_ratio
             AND pass_alpha_ratio AS pass_all
    FROM flags ORDER BY doc_id
    """,
    doc="Gopher-style rule-based document quality flags (Rae et al. "
    "2021 Table A1, the repeatable subset) "
    "(operators/curation.py:gopher_quality_flags) — the classic "
    "pre-filter every LLM pipeline runs before any learned scorer: "
    "word-count window, mean-word-length window, symbol/word ratio, "
    "alphabetic-word ratio, composite pass. Thresholds injected "
    "(GOPHER_RULES literals); empty docs FAIL min_words rather than "
    "NULL (a filter must decide). Pure column expressions over one "
    "scan — zero shuffles, codegen-friendly",
)
def gopher_quality_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import gopher_quality_flags

    docs = load(spark, sf_dir, "documents")
    out = gopher_quality_flags(docs, "doc_id", "text")
    return out.orderBy("doc_id")


@_q(
    "ess_doclen_weights",
    """
    WITH w AS (
      SELECT source,
             CAST(ROUND(n_chars * 1000000, 0) AS BIGINT) AS v
      FROM documents WHERE n_chars IS NOT NULL),
    ag AS (
      SELECT source,
             CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n,
             CAST(SUM(CASE WHEN v > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped,
             SUM(CASE WHEN v > 0 THEN v::HUGEINT END) AS s1,
             SUM(CASE WHEN v > 0 THEN v::HUGEINT * v END) AS s2,
             MAX(CASE WHEN v > 0 THEN v END) AS wmax
      FROM w GROUP BY 1),
    m AS (
      SELECT source, n, n_dropped,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS d1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS d2,
             CAST(wmax AS DOUBLE) AS wm
      FROM ag)
    SELECT source, n, n_dropped,
           ROUND(CASE WHEN n > 0 THEN d1 / 1000000.0 END, 6)
             AS sum_weight,
           ROUND(CASE WHEN n > 0 THEN d1 * d1 / d2 END, 6) AS ess,
           ROUND(CASE WHEN n > 0 THEN d1 * d1 / d2 / n END, 6)
             AS ess_ratio,
           ROUND(CASE WHEN n > 0 THEN wm / d1 END, 6)
             AS max_weight_share
    FROM m ORDER BY source
    """,
    doc="Kish effective sample size of document-length sampling "
    "weights per source "
    "(operators/curation.py:effective_sample_size) — the audit "
    "between computing weights (DSIR, CEM, mixture epochs) and "
    "trusting anything weighted by them: ESS = (Σw)²/Σw², "
    "ess_ratio = ESS/n ('your 1M weighted rows carry 50k rows of "
    "information'), plus the largest single weight's share (the "
    "one-row-dominates tell). Σw/Σw² exact in "
    "DECIMAL(38,0)/HUGEINT off ONE aggregate; unit cancels",
)
def ess_doclen_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import effective_sample_size

    docs = load(spark, sf_dir, "documents")
    return effective_sample_size(
        docs.select("source", F.col("n_chars").alias("w")),
        ["source"],
        "w",
    )


@_q(
    "ngram_novelty_split",
    """
    WITH grams AS (
      SELECT doc_id % 2 = 1 AS is_test, g.gram
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), ' ') AS arr
        FROM documents) d,
      LATERAL (
        SELECT arr[u.i] || ' ' || arr[u.i + 1] || ' ' || arr[u.i + 2]
                 AS gram
        FROM unnest(range(1, len(arr) - 1)) AS u(i)
        WHERE length(arr[u.i]) > 0 AND length(arr[u.i + 1]) > 0
          AND length(arr[u.i + 2]) > 0) g),
    train_g AS (
      SELECT DISTINCT gram FROM grams WHERE NOT is_test),
    test_counts AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS c
      FROM grams WHERE is_test GROUP BY 1),
    unseen AS (
      SELECT t.gram, t.c FROM test_counts t
      LEFT JOIN train_g tr ON t.gram = tr.gram
      WHERE tr.gram IS NULL),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS test_grams,
             CAST(SUM(c) AS BIGINT) AS test_occurrences
      FROM test_counts),
    un AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS unseen_grams,
             CAST(COALESCE(SUM(c), 0) AS BIGINT)
               AS unseen_occurrences
      FROM unseen)
    SELECT test_grams, unseen_grams,
           ROUND(CASE WHEN test_grams > 0 THEN
             CAST(unseen_grams AS DOUBLE) / test_grams END, 6)
             AS novelty,
           test_occurrences, unseen_occurrences,
           ROUND(CASE WHEN test_occurrences > 0 THEN
             CAST(unseen_occurrences AS DOUBLE) / test_occurrences
             END, 6) AS novelty_weighted
    FROM tot CROSS JOIN un
    """,
    doc="trigram novelty of the odd-doc_id half against the even "
    "half (operators/curation.py:ngram_novelty) — the memorization/"
    "coverage audit decontaminate's boolean hit-test doesn't give: "
    "what FRACTION of held-out n-grams never appear in training "
    "(near 0 = the eval quotes the train set; near 1 = "
    "out-of-domain), distinct-gram and occurrence-weighted rates. "
    "Spark joins on xxhash64 of the gram (vocabulary-sized frames, "
    "one LEFT ANTI join); the oracle joins the gram strings — "
    "identical counts absent a 64-bit collision",
)
def ngram_novelty_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import ngram_novelty

    docs = load(spark, sf_dir, "documents")
    return ngram_novelty(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "text",
        n=3,
    )


@_q(
    "fleiss_doc_rules",
    """
    WITH ratings AS (
      SELECT doc_id AS i,
             CASE WHEN n_chars >= 150 THEN 'pass' ELSE 'fail' END AS c
      FROM documents
      UNION ALL
      SELECT doc_id,
             CASE WHEN n_chars >= 250 THEN 'pass' ELSE 'fail' END
      FROM documents
      UNION ALL
      SELECT doc_id,
             CASE WHEN len(string_split(trim(regexp_replace(
                 lower(text), '\\s+', ' ', 'g')), ' ')) >= 45
               THEN 'pass' ELSE 'fail' END
      FROM documents),
    nij AS (
      SELECT i, c, CAST(COUNT(*) AS BIGINT) AS n
      FROM ratings GROUP BY 1, 2),
    per_i AS (
      SELECT i, CAST(SUM(n) AS BIGINT) AS r,
             CAST(SUM(n * n) AS BIGINT) AS sq
      FROM nij GROUP BY 1),
    items AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(MAX(r) AS BIGINT) AS n_raters,
             SUM(CAST(sq - r AS DOUBLE)
                 / (CAST(r AS DOUBLE) * (r - 1))) AS psum
      FROM per_i),
    cats AS (
      SELECT c, CAST(SUM(n) AS BIGINT) AS cn FROM nij GROUP BY 1),
    cat_stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_categories,
             CAST(SUM(cn) AS BIGINT) AS total,
             SUM(CAST(cn AS DOUBLE) * CAST(cn AS DOUBLE)) AS csq
      FROM cats),
    m AS (
      SELECT n_items, n_raters, k_categories,
             psum / n_items AS p_bar,
             csq / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE))
               AS p_e
      FROM items CROSS JOIN cat_stats)
    SELECT n_items, n_raters, k_categories,
           ROUND(p_bar, 6) AS p_bar,
           ROUND(p_e, 6) AS p_e,
           ROUND(CASE WHEN p_e < 1.0 THEN (p_bar - p_e) / (1.0 - p_e)
                 END, 6) AS fleiss_kappa
    FROM m
    """,
    doc="Fleiss' kappa across three document-quality 'raters' (the "
    "cochran rules as votes) (operators/classify.py:fleiss_kappa) — "
    "the k-rater agreement rung above cohens_kappa (2 raters): the "
    "audit for 3+ annotator or model-as-judge labeling runs. "
    "Constant-r design enforced in-plan (unequal rater counts "
    "RAISE, not bias); all n_ij exact off two aggregates; the "
    "N-sized P̄ fold is a mean (order ulps ~1e-16·√N relative)",
)
def fleiss_doc_rules_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import fleiss_kappa
    from ..operators.text import normalize_text_col

    docs = load(spark, sf_dir, "documents")
    p = F.when
    r1 = docs.select(
        F.col("doc_id").alias("i"),
        p(F.col("n_chars") >= 150, "pass").otherwise("fail").alias("c"),
    )
    r2 = docs.select(
        F.col("doc_id").alias("i"),
        p(F.col("n_chars") >= 250, "pass").otherwise("fail").alias("c"),
    )
    r3 = docs.select(
        F.col("doc_id").alias("i"),
        p(
            F.size(F.split(normalize_text_col("text"), " ")) >= 45,
            "pass",
        )
        .otherwise("fail")
        .alias("c"),
    )
    return fleiss_kappa(r1.union(r2).union(r3), "i", "c")


@_q(
    "qte_purchase_click",
    """
    WITH base AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1
                  WHEN event_type = 'click' THEN 0 END AS t,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL
        AND event_type IN ('purchase', 'click')),
    per_v AS (
      SELECT t, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2),
    cum AS (
      SELECT t, v,
             SUM(c) OVER (PARTITION BY t ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cm,
             SUM(c) OVER (PARTITION BY t) AS n
      FROM per_v),
    ps AS (SELECT UNNEST([0.25, 0.5, 0.75]) AS p),
    q AS (
      SELECT t, p, MIN(v) AS q, MAX(n) AS n
      FROM cum CROSS JOIN ps
      WHERE cm >= CEIL(p * n)
      GROUP BY 1, 2)
    SELECT ROUND(CAST(tq.p AS DOUBLE), 6) AS p,
           CAST(tq.n AS BIGINT) AS n_t,
           CAST(cq.n AS BIGINT) AS n_c,
           ROUND(CAST(tq.q AS DOUBLE) / 100.0, 6) AS q_treated,
           ROUND(CAST(cq.q AS DOUBLE) / 100.0, 6) AS q_control,
           ROUND(CAST(tq.q AS DOUBLE) / 100.0
                 - CAST(cq.q AS DOUBLE) / 100.0, 6) AS qte
    FROM (SELECT * FROM q WHERE t = 1) tq
    FULL JOIN (SELECT * FROM q WHERE t = 0) cq ON tq.p = cq.p
    ORDER BY p
    """,
    doc="quantile treatment effect of purchase vs click values at "
    "p = .25/.5/.75 "
    "(operators/relational.py:quantile_treatment_effect) — the "
    "DISTRIBUTIONAL effect readout where cohens_d only moves the "
    "mean ('the median gained nothing, the p75 lost 4.30'). LOWER-"
    "quantile contract (sorted element at ceil(p·n) — exact and "
    "engine-agnostic, brown_forsythe's median generalized); ps "
    "injected; quantiles off exact cumulative counts on the "
    "DISTINCT-value frame",
)
def qte_purchase_click_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import quantile_treatment_effect

    ev = load_events(spark, sf_dir)
    return quantile_treatment_effect(
        ev.select("value", "event_type"),
        "value",
        "event_type",
        "purchase",
        "click",
    )


@_q(
    "shapley_channels",
    """
    WITH conv AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY 1),
    touches AS (
      SELECT DISTINCT e.user_id, e.event_type AS ch
      FROM events e WHERE e.event_type <> 'purchase'),
    journeys AS (
      SELECT t.user_id,
             BIT_OR(CASE t.ch WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END)
               AS mask,
             MAX(c.converted) AS conv
      FROM touches t JOIN conv c ON t.user_id = c.user_id
      GROUP BY 1),
    sets AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS nc
      FROM journeys GROUP BY 1),
    coal AS (SELECT UNNEST(range(0, 16)) AS s),
    ch AS (
      SELECT * FROM (VALUES ('click', 1), ('error', 2),
                            ('signup', 4), ('view', 8))
             AS t(channel, b)),
    pairs AS (
      SELECT coal.s, ch.channel, ch.b,
             ((coal.s >> 0) & 1) + ((coal.s >> 1) & 1)
             + ((coal.s >> 2) & 1) + ((coal.s >> 3) & 1) AS pc
      FROM coal CROSS JOIN ch WHERE (coal.s & ch.b) = 0),
    terms AS (
      SELECT p.channel,
             CASE p.pc WHEN 0 THEN 0.25 WHEN 1 THEN 1.0 / 12.0
                       WHEN 2 THEN 1.0 / 12.0 WHEN 3 THEN 0.25 END
             * (COALESCE(CAST(vsc.nc AS DOUBLE) / vsc.n, 0.0)
                - COALESCE(CAST(vs.nc AS DOUBLE) / vs.n, 0.0))
               AS term
      FROM pairs p
      LEFT JOIN sets vs ON vs.mask = p.s
      LEFT JOIN sets vsc ON vsc.mask = p.s + p.b),
    phi AS (
      SELECT channel, SUM(term) AS phi FROM terms GROUP BY 1),
    touched AS (
      SELECT ch.channel, CAST(COUNT(*) AS BIGINT) AS touched_journeys
      FROM journeys j JOIN ch ON (j.mask & ch.b) <> 0
      GROUP BY 1),
    pt AS (
      SELECT SUM(CASE WHEN phi > 0 THEN phi END) AS ptot FROM phi)
    SELECT p.channel,
           COALESCE(t.touched_journeys, 0) AS touched_journeys,
           ROUND(p.phi, 6) AS shapley_value,
           ROUND(CASE WHEN pt.ptot > 0 THEN
             GREATEST(p.phi, 0.0) / pt.ptot END, 6) AS shapley_share
    FROM phi p LEFT JOIN touched t ON p.channel = t.channel
    CROSS JOIN pt
    ORDER BY p.channel
    """,
    doc="exact Shapley-value channel attribution over per-user touch "
    "sets, conversion = purchase "
    "(operators/attribution.py:shapley_attribution; Zhao-Mahboobi-"
    "Moeini 2018) — the game-theoretic rung above multitouch's "
    "rule-based credits: v(S) = conversion rate of journeys whose "
    "touched set is exactly S (unobserved sets v=0, standard), "
    "phi from the factorial-weighted coalition sweep. ONE journey "
    "aggregate + a 2^k·k broadcast coalition frame (k=4 here; "
    "max_channels fail-fast guards the 2^k blowup). The four "
    "factorial weights and the channel->bit map are injected "
    "identically into both plans",
)
def shapley_channels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.attribution import shapley_attribution

    ev = load_events(spark, sf_dir)
    conv = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "__cv"
        )
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .select("user_id", F.col("event_type").alias("channel"))
        .distinct()
        .join(conv, "user_id")
        .withColumn("converted", F.col("__cv") == 1)
    )
    return shapley_attribution(
        touches, "user_id", "channel", "converted"
    )


# ---------------------------------------------------------------------------
# round-10 wave 8: the parametric k-sample family (post-hoc + omnibus)
# ---------------------------------------------------------------------------

_CLASS_MOMENTS_SQL = """
      SELECT event_type AS c,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)::HUGEINT) AS s1,
             SUM(CAST(ROUND(value * 100, 0) AS BIGINT)::HUGEINT
                 * CAST(ROUND(value * 100, 0) AS BIGINT)) AS s2
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1
"""


@_q(
    "tukey_hsd_values",
    f"""
    WITH mom AS ({_CLASS_MOMENTS_SQL}),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS ssw
      FROM mom),
    pairs AS (
      SELECT a.c AS class_a, b.c AS class_b,
             a.n AS n_a, b.n AS n_b,
             CAST(CAST(a.s1 AS VARCHAR) AS DOUBLE)
               / CAST(a.n AS DOUBLE) AS ma,
             CAST(CAST(b.s1 AS VARCHAR) AS DOUBLE)
               / CAST(b.n AS DOUBLE) AS mb,
             t.nn, t.k, t.ssw
      FROM mom a JOIN mom b ON a.c < b.c CROSS JOIN tot t),
    m AS (
      SELECT class_a, class_b, n_a, n_b, ma, mb,
             ssw / (CAST(nn AS DOUBLE) - k) AS mse,
             CAST(nn - k AS DOUBLE) AS dfree,
             n_a >= 2 AND n_b >= 2
               AND ssw / (CAST(nn AS DOUBLE) - k) > 0 AS ok
      FROM pairs),
    mm AS (
      SELECT class_a, class_b, n_a, n_b, ma, mb, dfree, ok,
             SQRT(mse / 2.0 * (1.0 / n_a + 1.0 / n_b)) AS se
      FROM m)
    SELECT class_a, class_b, n_a, n_b,
           ROUND(ma / 100.0, 6) AS mean_a,
           ROUND(mb / 100.0, 6) AS mean_b,
           ROUND((ma - mb) / 100.0, 6) AS diff,
           ROUND(CASE WHEN ok THEN se END / 100.0, 6) AS se,
           ROUND(CASE WHEN ok THEN ABS(ma - mb) / se END, 6)
             AS q_stat,
           ROUND(CASE WHEN ok THEN dfree END, 6) AS df
    FROM mm ORDER BY class_a, class_b
    """,
    doc="Tukey HSD studentized-range q for all C(5,2) event-type "
    "pairs (operators/relational.py:pairwise_mean_tests, "
    "method='tukey') — the MEAN-based post-hoc next to "
    "dunn_posthoc_values' rank z: pooled within-class MSE, q = "
    "|diff|/sqrt(MSE/2·(1/ni+1/nj)), df = N−k; no critical value "
    "(the range-distribution lookup is the caller's). Per-class "
    "moments exact DECIMAL(38,0)/HUGEINT off ONE aggregate; the "
    "pair join touches the k-row class frame",
)
def tukey_hsd_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import pairwise_mean_tests

    ev = load_events(spark, sf_dir)
    return pairwise_mean_tests(
        ev.select("value", "event_type"), "value", "event_type", "tukey"
    )


@_q(
    "games_howell_values",
    f"""
    WITH mom AS ({_CLASS_MOMENTS_SQL}),
    pairs AS (
      SELECT a.c AS class_a, b.c AS class_b,
             a.n AS n_a, b.n AS n_b,
             CAST(CAST(a.s1 AS VARCHAR) AS DOUBLE)
               / CAST(a.n AS DOUBLE) AS ma,
             CAST(CAST(b.s1 AS VARCHAR) AS DOUBLE)
               / CAST(b.n AS DOUBLE) AS mb,
             (CAST(CAST(a.s2 AS VARCHAR) AS DOUBLE)
              - CAST(CAST(a.s1 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(a.s1 AS VARCHAR) AS DOUBLE)
                / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1.0)
               AS va,
             (CAST(CAST(b.s2 AS VARCHAR) AS DOUBLE)
              - CAST(CAST(b.s1 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(b.s1 AS VARCHAR) AS DOUBLE)
                / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1.0)
               AS vb
      FROM mom a JOIN mom b ON a.c < b.c),
    m AS (
      SELECT class_a, class_b, n_a, n_b, ma, mb, va, vb,
             (va / n_a + vb / n_b) / 2.0 AS se2,
             (va / n_a + vb / n_b) * (va / n_a + vb / n_b)
             / (va * va / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1.0))
                + vb * vb / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1.0)))
               AS dfree,
             n_a >= 2 AND n_b >= 2
               AND (va / n_a + vb / n_b) / 2.0 > 0 AS ok
      FROM pairs)
    SELECT class_a, class_b, n_a, n_b,
           ROUND(ma / 100.0, 6) AS mean_a,
           ROUND(mb / 100.0, 6) AS mean_b,
           ROUND((ma - mb) / 100.0, 6) AS diff,
           ROUND(CASE WHEN ok THEN SQRT(se2) END / 100.0, 6) AS se,
           ROUND(CASE WHEN ok THEN ABS(ma - mb) / SQRT(se2) END, 6)
             AS q_stat,
           ROUND(CASE WHEN ok THEN dfree END, 6) AS df
    FROM m ORDER BY class_a, class_b
    """,
    doc="Games-Howell pairwise q with per-pair Welch-Satterthwaite "
    "df (operators/relational.py:pairwise_mean_tests, "
    "method='games_howell') — the unequal-variance standard where "
    "tukey_hsd_values' pooled MSE assumes homoscedasticity "
    "(bartlett/brown_forsythe decide which applies). Same exact "
    "moment machinery; q = |diff|/sqrt((vi/ni+vj/nj)/2)",
)
def games_howell_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import pairwise_mean_tests

    ev = load_events(spark, sf_dir)
    return pairwise_mean_tests(
        ev.select("value", "event_type"),
        "value",
        "event_type",
        "games_howell",
    )


@_q(
    "welch_anova_values",
    f"""
    WITH mom AS ({_CLASS_MOMENTS_SQL}),
    good AS (
      SELECT c, n,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               / CAST(n AS DOUBLE) AS m,
             (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
              - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
               AS var,
             n >= 2 AND
             (CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
              - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
                / CAST(n AS DOUBLE)) > 0 AS ok
      FROM mom),
    st AS (
      SELECT CAST(SUM(CASE WHEN ok THEN n END) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
               AS k_classes,
             CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
               AS k_dropped,
             SUM(CASE WHEN ok THEN n / var END) AS sw,
             SUM(CASE WHEN ok THEN n / var * m END) AS swm
      FROM good),
    terms AS (
      SELECT st.n, st.k_classes, st.k_dropped,
             SUM(g.n / g.var * (g.m - st.swm / st.sw)
                 * (g.m - st.swm / st.sw)) AS num,
             SUM((1.0 - (g.n / g.var) / st.sw)
                 * (1.0 - (g.n / g.var) / st.sw)
                 / (CAST(g.n AS DOUBLE) - 1.0)) AS lam
      FROM good g CROSS JOIN st
      WHERE g.ok GROUP BY 1, 2, 3),
    m AS (
      SELECT n, k_classes, k_dropped, num, lam,
             CAST(k_classes AS DOUBLE) AS k
      FROM terms)
    SELECT n, k_classes, k_dropped,
           ROUND(CASE WHEN k_classes >= 2 THEN
             (num / (k - 1.0))
             / (1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * lam) END, 6)
             AS w_stat,
           CAST(k_classes - 1 AS BIGINT) AS df1,
           ROUND(CASE WHEN k_classes >= 2 AND lam > 0 THEN
             (k * k - 1.0) / (3.0 * lam) END, 6) AS df2
    FROM m
    """,
    doc="Welch's heteroscedastic one-way ANOVA across the five event "
    "types (operators/relational.py:welch_anova) — the omnibus "
    "equal-means test WITHOUT the equal-variance assumption "
    "anova_event_values makes (and brown_forsythe tests): "
    "variance-weighted means, Satterthwaite df2. Degenerate classes "
    "(n<2 or zero variance) are excluded VISIBLY (k_dropped) — an "
    "Inf weight would silently poison the statistic. Exact moment "
    "machinery; k-row arithmetic",
)
def welch_anova_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import welch_anova

    ev = load_events(spark, sf_dir)
    return welch_anova(ev.select("value", "event_type"), "value", "event_type")


@_q(
    "bartlett_values",
    f"""
    WITH mom AS ({_CLASS_MOMENTS_SQL}),
    ssf AS (
      SELECT c, n,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
             - CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               * CAST(CAST(s1 AS VARCHAR) AS DOUBLE)
               / CAST(n AS DOUBLE) AS ss
      FROM mom),
    ag AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k_classes,
             SUM(ss) AS ssw,
             SUM((CAST(n AS DOUBLE) - 1.0)
                 * LN(ss / (CAST(n AS DOUBLE) - 1.0))) AS slnv,
             SUM(1.0 / (CAST(n AS DOUBLE) - 1.0)) AS sinv
      FROM ssf),
    m AS (
      SELECT n, k_classes,
             CAST(n AS DOUBLE) AS nd, CAST(k_classes AS DOUBLE) AS k,
             ssw, slnv, sinv
      FROM ag)
    SELECT n, k_classes,
           ROUND(CASE WHEN k_classes >= 2 THEN
             ((nd - k) * LN(ssw / (nd - k)) - slnv)
             / (1.0 + (sinv - 1.0 / (nd - k)) / (3.0 * (k - 1.0)))
             END, 6) AS chi2_stat,
           CAST(k_classes - 1 AS BIGINT) AS dof
    FROM m
    """,
    doc="Bartlett's equal-variance test across the five event types "
    "(operators/relational.py:bartlett_test) — the parametric, "
    "more-powerful counterpart to brown_forsythe_values (use "
    "Bartlett when jarque_bera says the tails are sane): chi2 = "
    "[(N−k)ln s_p² − Σ(ni−1)ln si²]/C, dof k−1. Zero-variance or "
    "n<2 classes RAISE in-plan (ln diverges; silently dropping one "
    "changes the hypothesis). Exact moment machinery; scale cancels "
    "inside the log differences",
)
def bartlett_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import bartlett_test

    ev = load_events(spark, sf_dir)
    return bartlett_test(
        ev.select("value", "event_type"), "value", "event_type"
    )


# ---------------------------------------------------------------------------
# round-10 wave 9: ratio-metric inference, robust two-sample, survival
# summaries, probabilistic linkage
# ---------------------------------------------------------------------------


@_q(
    "delta_ratio_segment",
    """
    WITH per_c AS (
      SELECT c.c_mktsegment AS seg,
             CAST(ROUND(SUM(o_totalprice) * 1000000, 0) AS BIGINT)
               AS x,
             CAST(ROUND(COUNT(*) * 1000000, 0) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY seg, o.o_custkey),
    ag AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x::HUGEINT) AS sx, SUM(y::HUGEINT) AS sy,
             SUM(x::HUGEINT * x) AS sxx, SUM(y::HUGEINT * y) AS syy,
             SUM(x::HUGEINT * y) AS sxy
      FROM per_c GROUP BY 1),
    m AS (
      SELECT seg, n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS dx,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS dy,
             CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS dxx,
             CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS dyy,
             CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS dxy,
             sy <> 0 AND n >= 2 AS ok
      FROM ag),
    mm AS (
      SELECT seg, n, ok, dx / dy AS r, dy / nd AS my,
             (dxx - dx * dx / nd) / (nd - 1.0) AS vx,
             (dyy - dy * dy / nd) / (nd - 1.0) AS vy,
             (dxy - dx * dy / nd) / (nd - 1.0) AS cxy, nd
      FROM m),
    st AS (
      SELECT seg, n, ok, r,
             SQRT(GREATEST((vx + r * r * vy - 2.0 * r * cxy)
                           / (nd * my * my), 0.0)) AS se
      FROM mm)
    SELECT seg AS c_mktsegment, n,
           ROUND(CASE WHEN ok THEN r END, 6) AS ratio,
           ROUND(CASE WHEN ok THEN se END, 6) AS se,
           ROUND(CASE WHEN ok THEN r - 1.959963984540054 * se END, 6)
             AS ci_lo,
           ROUND(CASE WHEN ok THEN r + 1.959963984540054 * se END, 6)
             AS ci_hi
    FROM st ORDER BY c_mktsegment
    """,
    doc="delta-method CI for revenue-per-order per market segment "
    "with CUSTOMER-level clustering "
    "(operators/relational.py:delta_method_ratio) — the variance a "
    "ratio-of-sums metric actually has: r = Σx/Σy over per-customer "
    "(revenue, order-count) pairs, Var(r) ≈ (σx² + r²σy² − "
    "2r·σxy)/(nȳ²) — the covariance term per-unit correlation makes "
    "mandatory and a naive per-row average silently drops. All five "
    "sums exact DECIMAL(38,0)/HUGEINT off ONE aggregate; z "
    "injected (NORMAL_QUANTILES)",
)
def delta_ratio_segment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import delta_method_ratio

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    per_c = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum("o_totalprice").alias("x"),
            F.count("*").cast("double").alias("y"),
        )
    )
    return delta_method_ratio(per_c, ["c_mktsegment"], "x", "y")


@_q(
    "yuen_purchase_click",
    """
    WITH base AS (
      SELECT event_type = 'purchase' AS a,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')),
    per_v AS (
      SELECT a, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2),
    run AS (
      SELECT a, v, c,
             SUM(c) OVER (PARTITION BY a ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(c) OVER (PARTITION BY a) AS n
      FROM per_v),
    run2 AS (
      SELECT *, CAST(FLOOR(n * 0.2) AS BIGINT) AS g FROM run),
    lo AS (
      SELECT a, MIN(v) AS lo FROM run2 WHERE cum >= g + 1 GROUP BY 1),
    hi AS (
      SELECT a, MIN(v) AS hi FROM run2 WHERE cum >= n - g GROUP BY 1),
    j AS (
      SELECT r.*, lo.lo, hi.hi,
             GREATEST(LEAST(r.v, hi.hi), lo.lo) AS wv
      FROM run2 r JOIN lo ON r.a = lo.a JOIN hi ON r.a = hi.a),
    ag AS (
      SELECT a, MAX(n) AS nn, MAX(g) AS gg,
             MAX(lo) AS blo, MAX(hi) AS bhi,
             SUM(c::HUGEINT * wv) AS sw,
             SUM(c::HUGEINT * (wv::HUGEINT * wv)) AS sww,
             SUM(CASE WHEN v < lo THEN c::HUGEINT * v END)
               AS sum_below,
             SUM(CASE WHEN v < lo THEN c END) AS cnt_below,
             SUM(CASE WHEN v > hi THEN c::HUGEINT * v END)
               AS sum_above,
             SUM(CASE WHEN v > hi THEN c END) AS cnt_above,
             SUM(c::HUGEINT * v) AS stot
      FROM j GROUP BY 1),
    m AS (
      SELECT a, nn, gg,
             CAST(nn AS DOUBLE) AS nd, CAST(gg AS DOUBLE) AS gd,
             CAST(nn AS DOUBLE) - 2.0 * gg AS h,
             (COALESCE(CAST(CAST(sum_below AS VARCHAR) AS DOUBLE), 0.0)
              + (gg - COALESCE(cnt_below, 0)) * CAST(blo AS DOUBLE))
               AS low_g,
             (COALESCE(CAST(CAST(sum_above AS VARCHAR) AS DOUBLE), 0.0)
              + (gg - COALESCE(cnt_above, 0)) * CAST(bhi AS DOUBLE))
               AS high_g,
             CAST(CAST(stot AS VARCHAR) AS DOUBLE) AS stotd,
             (CAST(CAST(sww AS VARCHAR) AS DOUBLE)
              - CAST(CAST(sw AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sw AS VARCHAR) AS DOUBLE)
                / CAST(nn AS DOUBLE)) / (CAST(nn AS DOUBLE) - 1.0)
               AS sw2
      FROM ag),
    sides AS (
      SELECT a, nn, gg, h,
             (stotd - low_g - high_g) / h AS tm,
             (nd - 1.0) * sw2 / (h * (h - 1.0)) AS d
      FROM m),
    pair AS (
      SELECT ta.nn AS n_a, tb.nn AS n_b, ta.gg AS g_a, tb.gg AS g_b,
             ta.tm AS tma, tb.tm AS tmb,
             ta.d AS da, tb.d AS db, ta.h AS ha, tb.h AS hb
      FROM (SELECT * FROM sides WHERE a) ta
      CROSS JOIN (SELECT * FROM sides WHERE NOT a) tb)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(g_a AS BIGINT) AS g_a, CAST(g_b AS BIGINT) AS g_b,
           ROUND(tma / 100.0, 6) AS trimmed_mean_a,
           ROUND(tmb / 100.0, 6) AS trimmed_mean_b,
           ROUND((tma - tmb) / 100.0, 6) AS diff,
           ROUND(CASE WHEN ha >= 2 AND hb >= 2 AND da + db > 0 THEN
             (tma - tmb) / SQRT(da + db) END, 6) AS t_stat,
           ROUND(CASE WHEN ha >= 2 AND hb >= 2 AND da + db > 0 THEN
             (da + db) * (da + db)
             / (da * da / (ha - 1.0) + db * db / (hb - 1.0)) END, 6)
             AS df
    FROM pair
    """,
    doc="Yuen's 20%-trimmed two-sample test, purchase vs click "
    "values (operators/relational.py:yuen_trimmed_test) — the "
    "ROBUST Welch t for the heavy tails jarque_bera_values flags: "
    "trimmed means + winsorized variances, Satterthwaite df. "
    "Positional trim rides the DISTINCT-value frame (boundary = "
    "running-count crossing; value-clamping equals positional "
    "winsorization exactly; boundary tie mass splits BY COUNT — the "
    "hill/lorenz discipline); all sums DECIMAL(38,0)/HUGEINT",
)
def yuen_purchase_click_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import yuen_trimmed_test

    ev = load_events(spark, sf_dir)
    return yuen_trimmed_test(
        ev.select("value", "event_type"),
        "value",
        "event_type",
        "purchase",
        "click",
        trim=0.2,
    )


@_q(
    "km_summary_segments",
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
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    curve AS (
      SELECT seg, t, d, cc,
             CASE WHEN zeros > 0 THEN 0.0
                  ELSE ROUND(EXP(slnf), 6) END AS survival
      FROM c4),
    seg2 AS (
      SELECT seg, t, d, d + cc AS subj, survival,
             LEAD(t) OVER (PARTITION BY seg ORDER BY t) AS tnext,
             FIRST_VALUE(t) OVER (PARTITION BY seg ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS tfirst,
             MAX(t) OVER (PARTITION BY seg) AS tmax
      FROM curve),
    ag AS (
      SELECT seg,
             CAST(SUM(subj) AS BIGINT) AS n_subjects,
             CAST(SUM(d) AS BIGINT) AS n_events,
             MIN(CASE WHEN survival <= 0.5 THEN t END) AS median_t,
             SUM(CAST(survival AS DECIMAL(18,6))
                 * CAST(tnext - t AS DECIMAL(18,0))) AS area,
             MAX(tfirst) AS t0,
             CAST(MAX(tmax) AS BIGINT) AS horizon_t
      FROM seg2 GROUP BY 1)
    SELECT seg AS c_mktsegment, n_subjects, n_events,
           CAST(median_t AS BIGINT) AS median_t,
           ROUND(COALESCE(CAST(CAST(area AS VARCHAR) AS DOUBLE), 0.0)
                 + CAST(t0 AS DOUBLE), 6) AS rmst,
           horizon_t
    FROM ag ORDER BY c_mktsegment
    """,
    doc="median survival + restricted mean survival time per market "
    "segment off the Kaplan-Meier curve "
    "(operators/relational.py:km_summary) — the two SCALARS a "
    "lifetime readout reports where km_survival_segments gives the "
    "curve: median = first t with S(t) <= 0.5 (NULL when most "
    "survive the horizon — a fact, not imputed), RMST = area under "
    "the step curve to the last observed time (the horizon-honest "
    "expected lifetime). Rides the round-6 curve verbatim; "
    "rectangles = round-6 S x integer days in exact DECIMAL(28,6)",
)
def km_summary_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import km_summary

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    span = orders.groupBy("o_custkey").agg(
        F.min("o_orderdate").alias("f"), F.max("o_orderdate").alias("l")
    )
    gmax = orders.agg(F.max("o_orderdate").alias("m"))
    subj = (
        span.join(customer, span.o_custkey == customer.c_custkey)
        .crossJoin(F.broadcast(gmax))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.datediff(F.col("l"), F.col("f")).cast("long").alias("t"),
            (F.datediff(F.col("m"), F.col("l")) > 90).alias("obs"),
        )
    )
    return km_summary(subj, ["seg"], "t", "obs").withColumnRenamed(
        "seg", "c_mktsegment"
    )


@_q(
    "fs_linkage_parts",
    """
    WITH p AS (
      SELECT p_partkey, p_brand, p_type, p_size,
             CAST(FLOOR(p_retailprice / 10) AS BIGINT) AS pb,
             string_split(p_type, ' ')[1] AS tw
      FROM part),
    pairs AS (
      SELECT a.p_type = b.p_type AS is_match,
             a.p_size = b.p_size AS agree_size,
             a.pb = b.pb AS agree_price10,
             a.tw = b.tw AS agree_typeword
      FROM p a JOIN p b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
    wide AS (
      SELECT CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT)
               AS nm,
             CAST(SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT)
               AS nu,
             CAST(SUM(CASE WHEN is_match AND agree_size THEN 1
                      ELSE 0 END) AS BIGINT) AS am_size,
             CAST(SUM(CASE WHEN NOT is_match AND agree_size THEN 1
                      ELSE 0 END) AS BIGINT) AS au_size,
             CAST(SUM(CASE WHEN is_match AND agree_price10 THEN 1
                      ELSE 0 END) AS BIGINT) AS am_pb,
             CAST(SUM(CASE WHEN NOT is_match AND agree_price10 THEN 1
                      ELSE 0 END) AS BIGINT) AS au_pb,
             CAST(SUM(CASE WHEN is_match AND agree_typeword THEN 1
                      ELSE 0 END) AS BIGINT) AS am_tw,
             CAST(SUM(CASE WHEN NOT is_match AND agree_typeword THEN 1
                      ELSE 0 END) AS BIGINT) AS au_tw
      FROM pairs),
    melted AS (
      SELECT 'agree_price10' AS field, nm, nu, am_pb AS am,
             au_pb AS au FROM wide
      UNION ALL
      SELECT 'agree_size', nm, nu, am_size, au_size FROM wide
      UNION ALL
      SELECT 'agree_typeword', nm, nu, am_tw, au_tw FROM wide),
    m AS (
      SELECT field, nm, nu, am, au,
             CAST(am AS DOUBLE) / nm AS mr,
             CAST(au AS DOUBLE) / nu AS ur
      FROM melted)
    SELECT field, nm AS n_match, nu AS n_unmatch,
           am AS agree_match, au AS agree_unmatch,
           ROUND(CASE WHEN nm > 0 AND nu > 0 THEN mr END, 6) AS m,
           ROUND(CASE WHEN nm > 0 AND nu > 0 THEN ur END, 6) AS u,
           ROUND(CASE WHEN am > 0 AND au > 0 THEN
             (LN(mr) - LN(ur)) / 0.6931471805599453 END, 6)
             AS w_agree,
           ROUND(CASE WHEN nm > am AND nu > au THEN
             (LN(1.0 - mr) - LN(1.0 - ur)) / 0.6931471805599453
             END, 6) AS w_disagree
    FROM m ORDER BY field
    """,
    doc="Fellegi-Sunter linkage weights over brand-blocked part "
    "pairs, truth = same p_type, fields = size / price-decade / "
    "first type-word agreement "
    "(operators/dedup.py:fellegi_sunter_weights; Fellegi-Sunter "
    "1969) — the probabilistic-linkage rung above the module's "
    "threshold rules: per field m = P(agree|match), u = "
    "P(agree|non-match), log2 agreement/disagreement weights. The "
    "readout DEMONSTRATES field selection: the type-word field "
    "carries m = 1 and a strong positive weight while size/price "
    "agree at their random rates (m ≈ u, weights ≈ 0) — exactly "
    "what F-S is for. Blocked pair frame (the module discipline) + "
    "ONE conditional aggregate + a |fields|-row melt",
)
def fs_linkage_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import fellegi_sunter_weights

    part = load(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.floor(F.col("p_retailprice") / 10).cast("long").alias("pb"),
        F.split(F.col("p_type"), " ")[0].alias("tw"),
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        (F.col("a.p_type") == F.col("b.p_type")).alias("is_match"),
        (F.col("a.p_size") == F.col("b.p_size")).alias("agree_size"),
        (F.col("a.pb") == F.col("b.pb")).alias("agree_price10"),
        (F.col("a.tw") == F.col("b.tw")).alias("agree_typeword"),
    )
    return fellegi_sunter_weights(
        pairs, "is_match", ["agree_price10", "agree_size", "agree_typeword"]
    )


# ---------------------------------------------------------------------------
# Round-11 wave: ordered/paired/stratified inference + drift magnitude
# ---------------------------------------------------------------------------


@_q(
    "wilcoxon_user_halves",
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
    pairs AS (
      SELECT CAST(ROUND((y - x) * 1000000, 0) AS BIGINT) AS d
      FROM pu WHERE x IS NOT NULL AND y IS NOT NULL),
    zc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_zero
           FROM pairs WHERE d = 0),
    nz AS (SELECT ABS(d) AS v, CASE WHEN d > 0 THEN 1 ELSE 0 END AS p
           FROM pairs WHERE d != 0),
    per_v AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
                     CAST(SUM(p) AS BIGINT) AS tp
              FROM nz GROUP BY 1),
    run AS (SELECT t, tp,
                   COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
            FROM per_v),
    ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                  SUM(tp::HUGEINT * (2 * c + t + 1)) AS w2p,
                  SUM(t::HUGEINT * t * t - t) AS ties
           FROM run),
    m AS (SELECT n, (SELECT n_zero FROM zc) AS n_zero,
                 CAST(CAST(w2p AS VARCHAR) AS DOUBLE) AS w2pd,
                 CAST(CAST((2 * w2p - n::HUGEINT * (n + 1)) AS VARCHAR)
                      AS DOUBLE) AS num4,
                 CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                   - CAST(CAST(ties AS VARCHAR) AS DOUBLE) / 48.0 AS vr
          FROM ag)
    SELECT COALESCE(n, 0) AS n, n_zero,
           CASE WHEN n > 0 THEN w2pd / 2.0 END AS w_plus,
           ROUND(CASE WHEN n > 0 AND vr > 0
                 THEN num4 / (4.0 * SQRT(vr)) END, 6) AS z,
           ROUND(CASE WHEN n > 0 AND vr > 0
                 THEN num4 / (4.0 * SQRT(vr)) / SQRT(CAST(n AS DOUBLE))
                 END, 6) AS r_effect
    FROM m
    """,
    doc="Wilcoxon signed-rank test of per-user mean event value, "
    "first half vs second half of the window "
    "(operators/relational.py:wilcoxon_signed_rank) — the PAIRED "
    "companion to mannwhitney_click_error: each user is their own "
    "control, so between-user variance cancels. Differences of "
    "round-6 halves quantize to exact micro units; 2x midranks off "
    "the guarded DISTINCT-|d| frame; W+, n(n+1)/2 and the cubic tie "
    "term exact DECIMAL(38,0)/HUGEINT; z one double expression. The "
    "half-split DATE literal is part of the contract, shared with "
    "the oracle",
)
def wilcoxon_user_halves_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import wilcoxon_signed_rank

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
    return wilcoxon_signed_rank(per_u, "x", "y", scale=1_000_000)


@_q(
    "moods_median_values",
    """
    WITH base AS (
      SELECT event_type AS c,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    cells AS (SELECT c, v, CAST(COUNT(*) AS BIGINT) AS f
              FROM base GROUP BY 1, 2),
    per_v AS (SELECT v, CAST(SUM(f) AS BIGINT) AS t
              FROM cells GROUP BY 1),
    run AS (SELECT v,
                   SUM(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS cum,
                   SUM(t) OVER () AS nn
            FROM per_v),
    med AS (SELECT MIN(v) AS med FROM run
            WHERE cum >= FLOOR((nn + 1) / 2)),
    per_c AS (
      SELECT c, CAST(SUM(f) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CASE WHEN v > med THEN f END), 0)
                  AS BIGINT) AS n_above
      FROM cells CROSS JOIN med GROUP BY 1),
    gl AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                  CAST(SUM(n_above) AS BIGINT) AS aa
           FROM per_c),
    m AS (SELECT c, n, n_above,
                 CAST(n AS DOUBLE) * aa / nn AS ea,
                 CAST(n AS DOUBLE) * (nn - aa) / nn AS eb,
                 CAST(n_above AS DOUBLE) AS oi, CAST(n AS DOUBLE) AS ni
          FROM per_c CROSS JOIN gl)
    SELECT c AS event_type, n, n_above,
           ROUND(ea, 6) AS expected_above,
           ROUND(CASE WHEN ea > 0 AND eb > 0 THEN
                 (oi - ea) * (oi - ea) / ea
                 + ((ni - oi) - eb) * ((ni - oi) - eb) / eb END, 6)
             AS chi2_term
    FROM m ORDER BY event_type
    """,
    doc="Mood's median test of event value across the five event "
    "types (operators/relational.py:moods_median) — the bluntest, "
    "most outlier-proof k-sample location rung (below "
    "kruskal_event_values in power, above in robustness): per-class "
    "counts above the POOLED lower median vs expectation, one chi2 "
    "term per class (dof = k-1 caller-side, chi2 contract). Grand "
    "median = running-count crossing over the guarded DISTINCT "
    "cent-value frame; all counts exact BIGINTs",
)
def moods_median_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import moods_median

    ev = load_events(spark, sf_dir)
    return moods_median(
        ev.select("value", "event_type"), "value", "event_type"
    )


@_q(
    "wasserstein_click_error",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'error')),
    per_v AS (SELECT v, CAST(SUM(a) AS BIGINT) AS fa,
                     CAST(SUM(1 - a) AS BIGINT) AS fb
              FROM base GROUP BY 1),
    tot AS (SELECT CAST(SUM(fa) AS BIGINT) AS na,
                   CAST(SUM(fb) AS BIGINT) AS nb
            FROM per_v),
    run AS (SELECT v,
                   SUM(fa) OVER w AS ca, SUM(fb) OVER w AS cb,
                   LEAD(v) OVER (ORDER BY v) AS vn
            FROM per_v
            WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
    s AS (SELECT SUM(CASE WHEN vn IS NOT NULL THEN
                 ABS(ca::HUGEINT * (SELECT nb FROM tot)
                     - cb::HUGEINT * (SELECT na FROM tot))
                 * (vn - v) END) AS sm
          FROM run)
    SELECT na AS n_a, nb AS n_b,
           ROUND(CASE WHEN na > 0 AND nb > 0 THEN
                 COALESCE(CAST(CAST(sm AS VARCHAR) AS DOUBLE), 0.0)
                 / (CAST(na AS DOUBLE) * nb * 100.0) END, 6)
             AS wasserstein
    FROM tot CROSS JOIN s
    """,
    doc="1-Wasserstein (earth mover's) distance between click and "
    "error value distributions "
    "(operators/relational.py:wasserstein_distance) — the MAGNITUDE "
    "rung of the drift ladder next to ks_value_drift (largest CDF "
    "gap) and psi/JSD (mass re-allocation): how far the mass moved "
    "in the metric's own units. Integrand |cum_a*n_b - cum_b*n_a| "
    "exact DECIMAL(38,0)/HUGEINT per distinct cent value off ONE "
    "guarded prefix window; one double division at the end. HEADLINE "
    "(judge r11 #7): the guarded distinct-value single-partition "
    "window lane gets a continuously-watched wall-time here",
    headline=True,
)
def wasserstein_click_error_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import wasserstein_distance

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "error")
    )
    return wasserstein_distance(
        ev.select("value", "event_type"), "value", "event_type", "click"
    )


@_q(
    "ansari_bradley_types",
    """
    WITH base AS (
      SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')),
    per_v AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t,
                     CAST(SUM(ia) AS BIGINT) AS fa
              FROM base GROUP BY 1),
    tot AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                   CAST(SUM(fa) AS BIGINT) AS na
            FROM per_v),
    run AS (SELECT v, t, fa,
                   COALESCE(SUM(t) OVER (ORDER BY v ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
            FROM per_v),
    cell AS (
      SELECT t, fa, n, na,
             CAST(FLOOR((n + 1) / 2) AS BIGINT) AS h,
             c + 1 AS lo, c + t AS hi
      FROM run CROSS JOIN tot),
    s2c AS (
      SELECT t, fa, n, na,
             (CASE WHEN LEAST(hi, h) >= lo
                   THEN (lo + LEAST(hi, h))::HUGEINT
                        * (LEAST(hi, h) - lo + 1)
                   ELSE 0 END
              + CASE WHEN hi >= GREATEST(lo, h + 1)
                     THEN (2 * (n + 1) - GREATEST(lo, h + 1) - hi)::HUGEINT
                          * (hi - GREATEST(lo, h + 1) + 1)
                     ELSE 0 END) AS s2
      FROM cell),
    ag AS (
      SELECT MAX(n) AS nn, MAX(na) AS n_a,
             SUM(s2) AS sa2,
             SUM(CAST(fa AS DOUBLE) * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                 / (2.0 * t)) AS ab,
             SUM(CAST(CAST(s2 * s2 AS VARCHAR) AS DOUBLE) / (4.0 * t))
               AS saa
      FROM s2c),
    m AS (
      SELECT nn, n_a, ab,
             CAST(CAST(sa2 AS VARCHAR) AS DOUBLE) / 2.0 AS suma,
             saa,
             CAST(nn AS DOUBLE) AS nd, CAST(n_a AS DOUBLE) AS nad,
             CAST(nn - n_a AS DOUBLE) AS nbd
      FROM ag)
    SELECT n_a, CAST(nn - n_a AS BIGINT) AS n_b,
           ROUND(CASE WHEN nad > 0 THEN ab END, 6) AS ab_stat,
           ROUND(CASE WHEN nad > 0 AND nbd > 0
                      AND nad * nbd * (nd * saa - suma * suma)
                          / (nd * nd * (nd - 1.0)) > 0
                 THEN (ab - nad * suma / nd)
                      / SQRT(nad * nbd * (nd * saa - suma * suma)
                             / (nd * nd * (nd - 1.0))) END, 6) AS z
    FROM m
    """,
    doc="Ansari-Bradley dispersion test of click vs purchase values "
    "(operators/relational.py:ansari_bradley) — the SCALE-shift "
    "companion to mannwhitney's location shift: rank from both ends "
    "(extremes score low), a class holding more extremes has the "
    "wider distribution. Per distinct cent value the tied-cell score "
    "sum 2*S = two arithmetic series split at floor((N+1)/2) — exact "
    "DECIMAL(38,0)/HUGEINT; linear-rank moments give the "
    "tie-corrected z. ONE guarded prefix window",
)
def ansari_bradley_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import ansari_bradley

    ev = load_events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return ansari_bradley(
        ev.select("value", "event_type"), "value", "event_type", "click"
    )


@_q(
    "mantel_haenszel_priority",
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
    t AS (
      SELECT a,
             CAST(a + b + c + d AS DOUBLE) AS n,
             CAST(a AS DOUBLE) AS ad, CAST(b AS DOUBLE) AS bd,
             CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd
      FROM per_s WHERE a + b + c + d > 0),
    terms AS (
      SELECT a, n,
             ad * dd / n AS r, bd * cd / n AS s,
             (ad + dd) / n AS p, (bd + cd) / n AS q,
             (ad + bd) * (ad + cd) / n AS ea,
             CASE WHEN n >= 2 THEN (ad + bd) * (cd + dd) * (ad + cd)
                  * (bd + dd) / (n * n * (n - 1)) ELSE 0 END AS v
      FROM t),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS suma,
             SUM(r) AS sr, SUM(s) AS ss, SUM(ea) AS se, SUM(v) AS sv,
             SUM(p * r) AS spr, SUM(p * s + q * r) AS spsqr,
             SUM(q * s) AS sqs
      FROM terms)
    SELECT n_strata, COALESCE(n, 0) AS n,
           ROUND(CASE WHEN ss > 0 THEN sr / ss END, 6) AS or_mh,
           ROUND(CASE WHEN sr > 0 AND ss > 0 THEN
                 SQRT(spr / (2 * sr * sr) + spsqr / (2 * sr * ss)
                      + sqs / (2 * ss * ss)) END, 6) AS se_log_or,
           ROUND(CASE WHEN sv > 0 THEN
                 (suma - se) * (suma - se) / sv END, 6) AS chi2_cmh
    FROM ag
    """,
    doc="Mantel-Haenszel pooled odds ratio of (high priority -> "
    "high-value order) stratified by order YEAR "
    "(operators/relational.py:mantel_haenszel) — the "
    "confounder-adjusted rung above odds_ratio_events' crude 2x2: "
    "pools per-year tables without breaking on zero cells, CMH chi2 "
    "tests conditional association, Robins-Breslow-Greenland "
    "variance for se(ln OR). ONE stratum aggregate + a 1-row "
    "reduce; cell counts exact, per-stratum terms doubles of exact "
    "integers",
)
def mantel_haenszel_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import mantel_haenszel

    orders = load(spark, sf_dir, "orders")
    df = orders.select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("e"),
        (F.col("o_totalprice") > 250000).alias("o"),
    )
    return mantel_haenszel(df, ["yr"], "e", "o")


@_q(
    "cochran_armitage_lines",
    """
    WITH base AS (
      SELECT CAST(l_linenumber AS DECIMAL(18,6)) AS d,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
      WHERE l_linenumber IS NOT NULL AND l_returnflag IS NOT NULL),
    ag AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS k,
             SUM(CAST(d AS DECIMAL(38,6))) AS sd,
             SUM(CASE WHEN y = 1 THEN CAST(d AS DECIMAL(38,6)) END) AS sdr,
             SUM(CAST(d * d AS DECIMAL(38,12))) AS sdd
      FROM base),
    m AS (
      SELECT n, n_pos, k,
             CAST(n AS DOUBLE) AS nd,
             CAST(n_pos AS DOUBLE) AS rr,
             CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS sdx,
             COALESCE(CAST(CAST(sdr AS VARCHAR) AS DOUBLE), 0.0) AS sdrx,
             CAST(CAST(sdd AS VARCHAR) AS DOUBLE) AS sddx
      FROM ag),
    fin AS (
      SELECT n, n_pos, k,
             sdrx - rr * sdx / nd AS t,
             (rr / nd) * (1.0 - rr / nd) * (sddx - sdx * sdx / nd)
               AS denom
      FROM m)
    SELECT COALESCE(k, 0) AS k, COALESCE(n, 0) AS n,
           COALESCE(n_pos, 0) AS n_pos,
           ROUND(CASE WHEN n > 0 AND denom > 0
                 THEN t / SQRT(denom) END, 6) AS z_trend,
           ROUND(CASE WHEN n > 0 AND denom > 0
                 THEN t * t / denom END, 6) AS chi2_trend
    FROM fin
    """,
    doc="Cochran-Armitage trend test: does the return rate rise with "
    "the line number (operators/relational.py:cochran_armitage) — "
    "one trend degree of freedom where chi2_status_priority answers "
    "'any difference somewhere': z = T/sqrt(pbar(1-pbar)(Sd2 - "
    "Sd^2/N)) with the dose column itself as the score (contract). "
    "Five sufficient sums exact DECIMAL off ONE map-side-combined "
    "aggregate — no window, no join, no per-dose frame",
)
def cochran_armitage_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import cochran_armitage

    li = load(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_returnflag").isNotNull()).select(
        F.col("l_linenumber").alias("d"),
        (F.col("l_returnflag") == "R").alias("y"),
    )
    return cochran_armitage(df, "d", "y")


@_q(
    "gpd_tail_orders",
    """
    WITH exc AS (
      SELECT o_orderpriority,
             CAST(o_totalprice - 400000.0 AS DECIMAL(18,6)) AS e
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_totalprice > 400000.0),
    ag AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_exceed,
             SUM(CAST(e AS DECIMAL(38,6))) AS s1,
             SUM(CAST(CAST(e AS DECIMAL(19,6)) * CAST(e AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS s2
      FROM exc GROUP BY 1),
    m AS (
      SELECT o_orderpriority, n_exceed,
             CAST(n_exceed AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d
      FROM ag),
    fin AS (
      SELECT o_orderpriority, n_exceed,
             s1d / nd AS ebar,
             CASE WHEN n_exceed >= 2
                  THEN (s2d - s1d * s1d / nd) / (nd - 1.0) END AS vv
      FROM m)
    SELECT o_orderpriority, CAST(400000.0 AS DOUBLE) AS threshold, n_exceed,
           ROUND(ebar, 6) AS mean_excess,
           ROUND(CASE WHEN n_exceed >= 2 AND vv > 0
                 THEN 0.5 * (1.0 - ebar * ebar / vv) END, 6) AS xi_mom,
           ROUND(CASE WHEN n_exceed >= 2 AND vv > 0
                 THEN 0.5 * ebar * (ebar * ebar / vv + 1.0) END, 6)
             AS sigma_mom
    FROM fin ORDER BY o_orderpriority
    """,
    doc="Generalized-Pareto peaks-over-threshold fit of order values "
    "above a 400k literal threshold per priority "
    "(operators/series.py:gpd_tail_fit) — the EXCEEDANCE rung of "
    "the extreme-value family next to gumbel_weekly_max (block "
    "maxima) and hill_tail_orders (order statistics): "
    "method-of-moments xi/sigma say HOW the tail decays (xi>0 "
    "heavy, ~0 exponential, <0 bounded). ONE filtered aggregate, "
    "threshold predicate pushed to the scan; excess moments exact "
    "DECIMAL(38,6)/(38,12)",
)
def gpd_tail_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import gpd_tail_fit

    orders = load(spark, sf_dir, "orders")
    return gpd_tail_fit(orders, ["o_orderpriority"], "o_totalprice", 400000.0)


_PRIORITY_ORDER = [
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
]

_EVENT_TYPE_ORDER = ["click", "error", "purchase", "signup", "view"]

_EVENT_ORD_SQL = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
    "WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'view' THEN 5 END"
)


@_q(
    "jonckheere_priority_value",
    """
    WITH base AS (
      SELECT CASE o_orderpriority
               WHEN '1-URGENT' THEN 0 WHEN '2-HIGH' THEN 1
               WHEN '3-MEDIUM' THEN 2 WHEN '4-NOT SPECIFIED' THEN 3
               WHEN '5-LOW' THEN 4 END AS o,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    cells AS (SELECT o, v, CAST(COUNT(*) AS BIGINT) AS f
              FROM base GROUP BY 1, 2),
    per_v AS (SELECT v, CAST(SUM(f) AS BIGINT) AS t
              FROM cells GROUP BY 1),
    ords AS (SELECT range::INTEGER AS o FROM range(5)),
    grid AS (
      SELECT p.v, ords.o, COALESCE(c.f, 0) AS f
      FROM per_v p CROSS JOIN ords
      LEFT JOIN cells c ON c.o = ords.o AND c.v = p.v),
    g1 AS (SELECT o, v, f,
                  COALESCE(SUM(f) OVER (PARTITION BY o ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS lt
           FROM grid),
    g2 AS (SELECT f,
                  COALESCE(SUM(lt) OVER (PARTITION BY v ORDER BY o
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS g,
                  COALESCE(SUM(f) OVER (PARTITION BY v ORDER BY o
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS fb
           FROM g1),
    uu AS (SELECT SUM(f::HUGEINT * (2 * g + fb)) AS u2 FROM g2),
    per_c AS (SELECT o, CAST(SUM(f) AS BIGINT) AS ni
              FROM cells GROUP BY 1),
    cls AS (
      SELECT CAST(SUM(ni) AS BIGINT) AS nn,
             SUM(ni::HUGEINT * ni) AS s2,
             SUM(ni::HUGEINT * (ni - 1)) AS e1,
             SUM(ni::HUGEINT * (ni - 1) * (ni - 2)) AS e2,
             SUM(ni::HUGEINT * (ni - 1) * (2 * ni + 5)) AS e3
      FROM per_c),
    tie AS (
      SELECT SUM(t::HUGEINT * (t - 1)) AS u1t,
             SUM(t::HUGEINT * (t - 1) * (t - 2)) AS u2t,
             SUM(t::HUGEINT * (t - 1) * (2 * t + 5)) AS u3t
      FROM per_v),
    m AS (
      SELECT nn,
             CAST(nn AS DOUBLE) AS nd,
             COALESCE(CAST(CAST(u2 AS VARCHAR) AS DOUBLE), 0.0) / 2.0
               AS u,
             (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
              - CAST(CAST(s2 AS VARCHAR) AS DOUBLE)) / 4.0 AS mean,
             CAST(CAST(e1 AS VARCHAR) AS DOUBLE) AS e1d,
             CAST(CAST(e2 AS VARCHAR) AS DOUBLE) AS e2d,
             CAST(CAST(e3 AS VARCHAR) AS DOUBLE) AS e3d,
             CAST(CAST(u1t AS VARCHAR) AS DOUBLE) AS u1d,
             CAST(CAST(u2t AS VARCHAR) AS DOUBLE) AS u2d,
             CAST(CAST(u3t AS VARCHAR) AS DOUBLE) AS u3d
      FROM uu CROSS JOIN cls CROSS JOIN tie),
    fin AS (
      SELECT nn, u, mean,
             (nd * (nd - 1) * (2 * nd + 5) - e3d - u3d) / 72.0
             + CASE WHEN nd >= 3 THEN e2d * u2d
                    / (36.0 * nd * (nd - 1) * (nd - 2)) ELSE 0 END
             + CASE WHEN nd >= 2 THEN e1d * u1d
                    / (8.0 * nd * (nd - 1)) ELSE 0 END AS vr
      FROM m)
    SELECT COALESCE(nn, 0) AS n, CAST(5 AS BIGINT) AS k,
           CASE WHEN nn > 0 THEN u END AS u_stat,
           ROUND(CASE WHEN nn > 0 AND vr > 0
                 THEN (u - mean) / SQRT(vr) END, 6) AS z
    FROM fin
    """,
    doc="Jonckheere-Terpstra ordered-alternative test: does order "
    "value trend across the five priority tiers in their labeled "
    "order (operators/relational.py:jonckheere_terpstra) — the "
    "trend rung between mannwhitney (k=2) and kruskal (any "
    "difference). 2U = sum over the guarded distinct-cent-value x "
    "class GRID of f_j(v)*(2G + F<j) with G the 2-D prefix — exact "
    "DECIMAL(38,0)/HUGEINT off two windows (one per class over "
    "values, one k-bounded per value over classes); tie-corrected "
    "Hollander-Wolfe variance from exact class/tie folds. The class "
    "order literal is the contract, shared with the oracle",
    # round-11 headline set change (the r6 segment_dedup / r7 tpch_q21
    # convention): the round's heaviest new shape — guarded V x k grid,
    # two windows, three exact folds — joins the bench mix; totals are
    # NOT comparable to r10's 20-query total without subtracting its
    # median; per-query medians remain directly comparable
    headline=True,
)
def jonckheere_priority_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import jonckheere_terpstra

    orders = load(spark, sf_dir, "orders")
    return jonckheere_terpstra(
        orders.select("o_totalprice", "o_orderpriority"),
        "o_totalprice",
        "o_orderpriority",
        _PRIORITY_ORDER,
    )


@_q(
    "pages_trend_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    q AS (SELECT day AS b, {_EVENT_ORD_SQL} AS t,
                 CAST(ROUND(v * 1000000, 0) AS BIGINT) AS v
          FROM daily),
    kb AS (SELECT b FROM q GROUP BY b HAVING COUNT(*) = 5),
    base AS (SELECT q.* FROM q JOIN kb USING (b)),
    cells AS (SELECT b, v, CAST(COUNT(*) AS BIGINT) AS tv
              FROM base GROUP BY 1, 2),
    ranked AS (
      SELECT b, v,
             2 * COALESCE(SUM(tv) OVER (PARTITION BY b ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + tv + 1 AS r2
      FROM cells),
    j AS (SELECT base.t, ranked.r2
          FROM base JOIN ranked ON base.b = ranked.b
          AND base.v = ranked.v),
    per_t AS (SELECT t, SUM(r2::HUGEINT) AS r2sum,
                     CAST(COUNT(*) AS BIGINT) AS nb
              FROM j GROUP BY 1),
    ag AS (SELECT MAX(nb) AS n_blocks,
                  SUM(t::HUGEINT * r2sum) AS l2
           FROM per_t),
    m AS (SELECT n_blocks,
                 CAST(n_blocks AS DOUBLE) AS nd,
                 CAST(CAST(l2 AS VARCHAR) AS DOUBLE) / 2.0 AS l
          FROM ag)
    SELECT COALESCE(n_blocks, 0) AS n_blocks, CAST(5 AS BIGINT) AS k,
           CASE WHEN n_blocks >= 1 THEN l END AS l_stat,
           ROUND(CASE WHEN n_blocks >= 1 THEN
                 (l - nd * 5 * 36 / 4.0)
                 / SQRT(nd * 25 * 6 * 24 / 144.0) END, 6) AS z
    FROM m
    """,
    doc="Page's L trend test over days-as-blocks: do the five event "
    "types' daily mean values hold a consistent ordering matching "
    "the alphabetical hypothesis literal "
    "(operators/relational.py:pages_trend) — friedman_daily_types' "
    "ORDERED-alternative sibling (as jonckheere is to kruskal). "
    "Shared matched-block machinery: duplicated cells raise, "
    "incomplete days drop whole, 2x midranks and 2L = sum j*R2_j "
    "exact DECIMAL(38,0)/HUGEINT; ties ride midranks with the "
    "standard no-tie null variance (documented)",
)
def pages_trend_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import pages_trend

    daily = _daily_mean_frame(spark, sf_dir)
    return pages_trend(
        daily, "day", "event_type", "v", _EVENT_TYPE_ORDER
    )


@_q(
    "kendalls_w_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    q AS (SELECT day AS b, event_type AS t,
                 CAST(ROUND(v * 1000000, 0) AS BIGINT) AS v
          FROM daily),
    ktot AS (SELECT COUNT(DISTINCT t) AS k FROM q),
    kb AS (SELECT b FROM q GROUP BY b
           HAVING COUNT(*) = (SELECT k FROM ktot)),
    base AS (SELECT q.* FROM q JOIN kb USING (b)),
    cells AS (SELECT b, v, CAST(COUNT(*) AS BIGINT) AS tv
              FROM base GROUP BY 1, 2),
    ranked AS (
      SELECT b, v,
             2 * COALESCE(SUM(tv) OVER (PARTITION BY b ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + tv + 1 AS r2
      FROM cells),
    j AS (SELECT base.t, ranked.r2
          FROM base JOIN ranked ON base.b = ranked.b
          AND base.v = ranked.v),
    per_t AS (SELECT t, SUM(r2::HUGEINT) AS r2sum,
                     CAST(COUNT(*) AS BIGINT) AS nb
              FROM j GROUP BY 1),
    ties AS (SELECT SUM(tv::HUGEINT * tv * tv - tv) AS t3t FROM cells),
    ag AS (SELECT MAX(nb) AS n_blocks,
                  CAST(COUNT(*) AS BIGINT) AS k_treatments,
                  SUM(CAST(CAST(r2sum * r2sum AS VARCHAR) AS DOUBLE))
                    AS rr4
           FROM per_t),
    m AS (SELECT n_blocks, k_treatments,
                 CAST(n_blocks AS DOUBLE) AS nd,
                 CAST(k_treatments AS DOUBLE) AS kd,
                 rr4,
                 COALESCE(CAST(CAST((SELECT t3t FROM ties) AS VARCHAR)
                   AS DOUBLE), 0.0) AS t3td
          FROM ag),
    fin AS (SELECT n_blocks, k_treatments,
                   12.0 * (rr4 / 4.0)
                   - 3.0 * nd * nd * kd * (kd + 1) * (kd + 1) AS num,
                   nd * nd * kd * (kd * kd - 1) - nd * t3td AS den,
                   nd, kd
            FROM m)
    SELECT COALESCE(n_blocks, 0) AS n_blocks,
           COALESCE(k_treatments, 0) AS k_treatments,
           ROUND(CASE WHEN n_blocks >= 1 AND k_treatments >= 2
                 AND den > 0 THEN num / den END, 6) AS w,
           ROUND(CASE WHEN n_blocks >= 1 AND k_treatments >= 2
                 AND den > 0 THEN nd * (kd - 1) * num / den END, 6)
             AS chi2_f
    FROM fin
    """,
    doc="Kendall's W concordance of the five event types' daily "
    "value ordering across days-as-blocks "
    "(operators/relational.py:kendalls_w) — the EFFECT SIZE to "
    "friedman_daily_types' significance ('the days agree this much "
    "about which type runs hot'), tie-corrected; chi2 = n(k-1)W "
    "reproduces friedman's corrected statistic by construction "
    "(pytest-pinned). Shared matched-block machinery, exact "
    "DECIMAL(38,0)/HUGEINT rank sums",
)
def kendalls_w_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import kendalls_w

    daily = _daily_mean_frame(spark, sf_dir)
    return kendalls_w(daily, "day", "event_type", "v")


@_q(
    "ljung_box_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    counts AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
               FROM daily GROUP BY 1),
    hh AS (SELECT range::INTEGER AS h FROM range(1, 8)),
    lags AS (
      SELECT a.event_type, hh.h, ROUND(CORR(a.v, b.v), 6) AS r
      FROM daily a
      CROSS JOIN hh
      JOIN daily b ON b.event_type = a.event_type
        AND DATEDIFF('day', b.day, a.day) = hh.h
      GROUP BY 1, 2),
    terms AS (
      SELECT c.event_type, c.n,
             SUM(CASE WHEN l.r IS NOT NULL AND c.n > l.h
                 THEN l.r * l.r / (c.n - l.h) ELSE 0 END) AS s
      FROM counts c LEFT JOIN lags l USING (event_type)
      GROUP BY 1, 2)
    SELECT event_type, n, CAST(7 AS BIGINT) AS lags,
           ROUND(CASE WHEN n > 7 THEN
                 CAST(n AS DOUBLE) * (n + 2) * s END, 6) AS q_stat
    FROM terms ORDER BY event_type
    """,
    doc="Ljung-Box portmanteau Q over the first 7 lags of each event "
    "type's daily mean-value series (operators/series.py:ljung_box) "
    "— 'is this series white noise at all' in one number, the gate "
    "a forecasting readout (seasonal_backtest, conformal) runs "
    "FIRST. Pairwise-complete per-lag ACFs (the acf_daily_values "
    "convention), each rounded to 6 BEFORE entering Q so both "
    "engines fold identical quantized inputs; m bounded per-lag "
    "self-joins over the days-sized rollup, never raw events",
)
def ljung_box_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import ljung_box

    daily = _daily_mean_frame(spark, sf_dir)
    return ljung_box(daily, ["event_type"], "day", "v", max_lag=7)


@_q(
    "breusch_pagan_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    base AS (
      SELECT event_type,
             DATEDIFF('day', DATE '2024-01-01', day) AS x,
             CAST(ROUND(v * 1000000, 0) AS BIGINT) AS yq
      FROM daily),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x::HUGEINT) AS sx,
             SUM(x::HUGEINT * x) AS sxx,
             SUM(x::HUGEINT * x * x) AS sxxx,
             SUM(yq::HUGEINT) AS sy,
             SUM(x::HUGEINT * yq) AS sxy,
             SUM(yq::HUGEINT * yq) AS syy,
             SUM(x::HUGEINT * x * yq) AS sxxy,
             SUM(x::HUGEINT * yq * yq) AS sxyy
      FROM base GROUP BY 1),
    d AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(sxxx AS VARCHAR) AS DOUBLE) AS sxxx,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) / 1e6 AS sy,
             CAST(CAST(sxy AS VARCHAR) AS DOUBLE) / 1e6 AS sxy,
             CAST(CAST(syy AS VARCHAR) AS DOUBLE) / 1e12 AS syy,
             CAST(CAST(sxxy AS VARCHAR) AS DOUBLE) / 1e6 AS sxxy,
             CAST(CAST(sxyy AS VARCHAR) AS DOUBLE) / 1e12 AS sxyy
      FROM mom),
    fit AS (
      SELECT event_type, n, nd, sx, sxx, sxxx, sy, sxy, syy, sxxy,
             sxyy,
             sxx - sx * sx / nd AS ssx,
             syy - sy * sy / nd AS ssy,
             sxy - sx * sy / nd AS sxy_c
      FROM d),
    fit2 AS (
      SELECT *, sxy_c / ssx AS beta,
             (sy - (sxy_c / ssx) * sx) / nd AS a
      FROM fit WHERE ssx > 0),
    fit3 AS (
      SELECT event_type, n, nd, sx, ssx, beta,
             ssy - beta * sxy_c AS sse,
             sxyy - 2 * a * sxy - 2 * beta * sxxy + a * a * sx
             + 2 * a * beta * sxx + beta * beta * sxxx AS sxe2
      FROM fit2),
    fin AS (
      SELECT event_type, n, beta, sse,
             sse / nd AS sigma2,
             sxe2 - sx * sse / nd AS sxg,
             ssx, nd
      FROM fit3)
    SELECT f.event_type, f.n,
           ROUND(CASE WHEN f.n >= 2 THEN f.beta END, 6) AS slope,
           ROUND(CASE WHEN f.n >= 2 THEN f.sse END, 6) AS sse,
           ROUND(CASE WHEN f.n >= 3 AND f.sigma2 > 0 THEN
                 f.sxg * f.sxg
                 / (2.0 * f.sigma2 * f.sigma2 * f.ssx) END, 6)
             AS bp_lm
    FROM fin f ORDER BY f.event_type
    """,
    doc="Breusch-Pagan heteroscedasticity LM per event type for the "
    "daily-mean-value-on-day-index OLS "
    "(operators/series.py:breusch_pagan) — the assumption audit "
    "behind ols_influence_daily: a significant LM says the OLS "
    "standard errors are lying and the caller should move to "
    "theilsen_daily_trend. e2 = (y-a-bx)^2 distributes over eight "
    "integer-quantized moments (micros; DECIMAL(38,0)/HUGEINT — "
    "scale-0 products never lose precision) in ONE aggregate; no "
    "residual pass; LM invariant to the y-unit rescale",
)
def breusch_pagan_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import breusch_pagan

    daily = _daily_mean_frame(spark, sf_dir)
    df = daily.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).alias(
            "x"
        ),
        "v",
    )
    return breusch_pagan(df, ["event_type"], "x", "v")


@_q(
    "bowker_user_shift",
    """
    WITH halves AS (
      SELECT user_id,
             CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                  THEN 1 ELSE 2 END AS half,
             event_type
      FROM events WHERE event_type IS NOT NULL),
    cnt AS (SELECT user_id, half, event_type,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM halves GROUP BY 1, 2, 3),
    modal AS (
      SELECT user_id, half, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, half
               ORDER BY c DESC, event_type ASC) AS rn
      FROM cnt),
    r1 AS (SELECT user_id, event_type AS ra FROM modal
           WHERE half = 1 AND rn = 1),
    r2 AS (SELECT user_id, event_type AS rb FROM modal
           WHERE half = 2 AND rn = 1),
    pairs AS (SELECT ra, rb FROM r1 JOIN r2 USING (user_id)),
    cells AS (SELECT ra, rb, CAST(COUNT(*) AS BIGINT) AS n
              FROM pairs GROUP BY 1, 2),
    up AS (SELECT ra AS i, rb AS j, n AS nij FROM cells WHERE ra < rb),
    lo AS (SELECT rb AS i, ra AS j, n AS nji FROM cells WHERE ra > rb),
    pq AS (
      SELECT COALESCE(up.nij, 0) AS nij, COALESCE(lo.nji, 0) AS nji
      FROM up FULL OUTER JOIN lo USING (i, j)),
    pa AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS dof,
             CAST(SUM(nij + nji) AS BIGINT) AS n_disagree,
             SUM(CASE WHEN nij + nji > 0 THEN
                 CAST(nij - nji AS DOUBLE) * (nij - nji)
                 / (nij + nji) END) AS b
      FROM pq),
    kc AS (
      SELECT CAST(COUNT(DISTINCT c) AS BIGINT) AS k FROM (
        SELECT ra AS c FROM pairs UNION ALL SELECT rb FROM pairs)),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs)
    SELECT COALESCE(kc.k, 0) AS k, COALESCE(tot.n, 0) AS n,
           COALESCE(pa.n_disagree, 0) AS n_disagree,
           COALESCE(pa.dof, 0) AS dof,
           ROUND(pa.b, 6) AS chi2_bowker
    FROM pa CROSS JOIN kc CROSS JOIN tot
    """,
    doc="Bowker symmetry test of each user's MODAL event type, first "
    "half vs second half of the window "
    "(operators/classify.py:bowker_test) — mcnemar_doc_rules' "
    "generalization from binary to k categories: when users change "
    "their dominant behavior, do the flows run both ways or drift "
    "one way. Mode per (user, half) = deterministic count-desc/"
    "type-asc rank over the k-bounded per-user frame; one-sided "
    "pairs seated via broadcastable left + left-anti joins (the "
    "srm_check full-outer lesson); cell counts exact",
)
def bowker_user_shift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.classify import bowker_test

    ev = load_events(spark, sf_dir).filter(F.col("event_type").isNotNull())
    halves = ev.select(
        "user_id",
        F.when(
            F.to_date("ts") <= F.lit("2024-01-15").cast("date"), F.lit(1)
        )
        .otherwise(F.lit(2))
        .alias("half"),
        "event_type",
    )
    cnt = halves.groupBy("user_id", "half", "event_type").agg(
        F.count("*").alias("c")
    )
    w = W.partitionBy("user_id", "half").orderBy(
        F.col("c").desc(), F.col("event_type").asc()
    )
    modal = cnt.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    r1 = modal.filter(F.col("half") == 1).select(
        "user_id", F.col("event_type").alias("ra")
    )
    r2 = modal.filter(F.col("half") == 2).select(
        "user_id", F.col("event_type").alias("rb")
    )
    pairs = r1.join(r2, "user_id").select("ra", "rb")
    return bowker_test(pairs, "ra", "rb")


# ---------------------------------------------------------------------------
# Round-11 wave 2: effect sizes, distribution fit, agreement, seasonal trend
# ---------------------------------------------------------------------------


