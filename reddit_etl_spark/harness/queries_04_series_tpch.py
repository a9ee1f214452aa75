"""Harness queries (part 4/6): time-series, as-of/PIT, geo, and the TPC-H adaptation suite.
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
    stable_avg,
)

@_q(
    "freq_triples_brands",
    """
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS i
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM b),
    f1 AS MATERIALIZED (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS supp
      FROM b GROUP BY i
      HAVING CAST(COUNT(*) AS BIGINT) * 10000 >= 20 * (SELECT n FROM nb)),
    bf AS MATERIALIZED (SELECT b.o, b.i FROM b JOIN f1 USING (i)),
    pib AS MATERIALIZED (
      SELECT a.o, a.i AS ia, c.i AS ib
      FROM bf a JOIN bf c ON a.o = c.o AND a.i < c.i),
    f2 AS MATERIALIZED (
      SELECT ia, ib FROM pib GROUP BY ia, ib
      HAVING CAST(COUNT(*) AS BIGINT) * 10000 >= 20 * (SELECT n FROM nb)),
    cand AS (
      SELECT fp.o, fp.ia, fp.ib, e.i AS ic
      FROM (SELECT pib.o, pib.ia, pib.ib
            FROM pib JOIN f2 USING (ia, ib)) fp
      JOIN bf e ON e.o = fp.o AND e.i > fp.ib
      JOIN f2 p2 ON p2.ia = fp.ia AND p2.ib = e.i
      JOIN f2 p3 ON p3.ia = fp.ib AND p3.ib = e.i),
    tri AS (
      SELECT ia, ib, ic, CAST(COUNT(*) AS BIGINT) AS support
      FROM cand GROUP BY ia, ib, ic
      HAVING CAST(COUNT(*) AS BIGINT) * 10000 >= 20 * (SELECT n FROM nb))
    SELECT t.ia AS item_a, t.ib AS item_b, t.ic AS item_c, t.support,
           ROUND(CAST(t.support AS DOUBLE) / (SELECT n FROM nb), 6)
             AS support_frac,
           ROUND(CAST((SELECT n FROM nb)::HUGEINT * (SELECT n FROM nb)
                      * t.support AS DOUBLE)
                 / CAST(sa.supp::HUGEINT * sb.supp * sc.supp AS DOUBLE), 6)
             AS lift
    FROM tri t JOIN f1 sa ON sa.i = t.ia JOIN f1 sb ON sb.i = t.ib
    JOIN f1 sc ON sc.i = t.ic
    ORDER BY item_a, item_b, item_c
    """,
    doc="Apriori frequent 3-itemsets over per-order brand baskets "
    "(operators/relational.py:frequent_triples): every brand triple "
    "co-bought in >= 0.2% of orders, with support and lift vs full "
    "independence — extends item_affinity's pairs to the first "
    "combinatorial Apriori level, with the downward-closure prune "
    "applied BEFORE the count shuffle (both new sub-pairs of each "
    "candidate extension must be in the threshold-bounded frequent-"
    "pair set, which broadcasts). Relative support thresholds are "
    "cross-multiplied (supp * 10000 >= permyriad * N) so no engine "
    "divides; work is sum_baskets C(|b|,3)-bounded by basket size, "
    "never item popularity, and a max_basket_size hygiene filter "
    "guards the whale-basket blowup at 100 TB. Fractions/lift emit "
    "as round-6 doubles (all products < 2^53 — exact in double)",
)
def freq_triples_brands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import frequent_triples

    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    b = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return frequent_triples(
        b, "l_orderkey", "p_brand", min_support_permyriad=20
    )


@_q(
    "spearman_value_items",
    """
    WITH j AS (
      SELECT o.o_orderpriority, o.o_totalprice AS x, c.n_items AS y
      FROM orders o JOIN (
        SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem GROUP BY l_orderkey) c
      ON o.o_orderkey = c.l_orderkey),
    r AS (
      SELECT o_orderpriority,
             2 * rank() OVER (PARTITION BY o_orderpriority ORDER BY x)
               + COUNT(*) OVER (PARTITION BY o_orderpriority, x) - 1
               AS rx,
             2 * rank() OVER (PARTITION BY o_orderpriority ORDER BY y)
               + COUNT(*) OVER (PARTITION BY o_orderpriority, y) - 1
               AS ry
      FROM j),
    m AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rx::HUGEINT) AS sx, SUM(ry::HUGEINT) AS sy,
             SUM(rx::HUGEINT * ry) AS sxy,
             SUM(rx::HUGEINT * rx) AS sxx,
             SUM(ry::HUGEINT * ry) AS syy
      FROM r GROUP BY o_orderpriority)
    SELECT o_orderpriority, n,
           CASE WHEN n::HUGEINT * sxx - sx * sx > 0
                 AND n::HUGEINT * syy - sy * sy > 0
                THEN ROUND(
                  CAST(CAST(n::HUGEINT * sxy - sx * sy AS VARCHAR)
                       AS DOUBLE)
                  / (sqrt(CAST(CAST(n::HUGEINT * sxx - sx * sx AS VARCHAR)
                               AS DOUBLE))
                     * sqrt(CAST(CAST(n::HUGEINT * syy - sy * sy
                                      AS VARCHAR) AS DOUBLE))), 6)
           END AS spearman_rho
    FROM m ORDER BY o_orderpriority
    """,
    doc="per-priority Spearman rank correlation between order value "
    "and line-item count (operators/relational.py:spearman_corr): "
    "Pearson on AVERAGE ranks with exact tie handling (the d^2 "
    "shortcut is wrong under ties) — the monotone-association "
    "companion to q12's Pearson corr. Doubled ranks are exact "
    "BIGINTs (tie-run average rank is always a half-integer; the "
    "factor 2 cancels), moments accumulate in DECIMAL(38,0)/HUGEINT "
    "(n * Sxy passes int64 at 60k-row groups), the numerator crosses "
    "to double through the VARCHAR roundtrip (playbook: bare "
    "decimal-magnitude outputs past 2^53), and sqrt splits the "
    "denominator BEFORE multiplication (dx * dy would pass "
    "DECIMAL(38)). Two rank windows + one tie-count window per "
    "variable, one map-side-combined moment aggregate",
)
def spearman_value_items_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import spearman_corr

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    cnt = li.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_items")
    )
    j = orders.join(cnt, orders.o_orderkey == cnt.l_orderkey).select(
        "o_orderpriority", "o_totalprice", "n_items"
    )
    return spearman_corr(j, ["o_orderpriority"], "o_totalprice", "n_items")


@_q(
    "augment_dropout_docs",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
      FROM documents WHERE text IS NOT NULL),
    pos AS (
      SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS i,
             len(l) AS nt
      FROM toks),
    mark AS (
      SELECT doc_id, tok, i, nt,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
                                    || CAST(i AS VARCHAR) || ':aug1'),
                                1, 15))::BIGINT % 1000 AS h
      FROM pos)
    SELECT doc_id, CAST(MAX(nt) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN h >= 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           COALESCE(string_agg(CASE WHEN h >= 100 THEN tok END,
                               ' ' ORDER BY i), '') AS text_aug
    FROM mark GROUP BY doc_id
    """,
    doc="deterministic token-dropout augmentation over documents "
    "(operators/text.py:augment_token_dropout): drop each whitespace "
    "token with p = 100/1000 decided by the canonical md5_60 hash of "
    "id:position:seed — the denoising augmentation for LLM training "
    "data made replayable (same id/pos/seed -> same decision on any "
    "engine/partitioning/rerun; vary the seed for independent "
    "epochs). Position-keyed, not token-keyed, so repeated tokens "
    "drop independently and adversarial content cannot bias its own "
    "survival. ZERO shuffles — split/HOF-filter/array_join are "
    "row-local column expressions in whole-stage codegen; runs at "
    "scan speed as one narrow map. The oracle replays the hash via "
    "unnest WITH ordinality + ordered string_agg",
)
def augment_dropout_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import augment_token_dropout

    docs = load(spark, sf_dir, "documents")
    return augment_token_dropout(docs, "doc_id", "text", 100, "aug1")


@_q(
    "seq_trigrams_users",
    """
    WITH e AS (
      SELECT user_id, event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT t1, t2, t3,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys
    FROM e WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3 ORDER BY t1, t2, t3
    """,
    doc="frequent ordered event-type trigrams per user "
    "(operators/sessions.py:sequence_ngrams): every contiguous "
    "3-step type sequence in each user's time-ordered history, with "
    "total occurrences and distinct users — the order-sensitive "
    "mining rung between session_transition_matrix (first-order "
    "Markov pairs) and session_journeys (whole paths): trigrams see "
    "second-order structure the pair matrix factorizes away. ONE "
    "sort shuffle: lead windows emit the n-gram rows directly — no "
    "collect_list array, so a whale user with 10^7 events costs "
    "10^7 ROWS, never a 10^7-element in-memory array (the "
    "100 TB-safe shape); then one map-side-combined count over at "
    "most |types|^3 groups. event_id tie-breaks equal timestamps on "
    "both engines",
)
def seq_trigrams_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import sequence_ngrams

    ev = load_events(spark, sf_dir)
    return sequence_ngrams(
        ev, ["user_id"], "ts", "event_type", n=3, tie_col="event_id"
    )


@_q(
    "burstiness_event_types",
    """
    WITH s AS (
      SELECT event_type, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec
      FROM events),
    g AS (
      SELECT event_type,
             sec - lag(sec) OVER (PARTITION BY event_type
                                  ORDER BY sec, event_id) AS d
      FROM s),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             SUM(d::HUGEINT) AS sd, SUM(d::HUGEINT * d) AS qd
      FROM g WHERE d IS NOT NULL GROUP BY event_type)
    SELECT event_type, n_gaps,
           ROUND(CAST(CAST(sd AS VARCHAR) AS DOUBLE) / n_gaps, 6)
             AS mean_gap_s,
           -- every sample-std term guards n_gaps > 1 (advisor r8: a
           -- key with exactly 2 events has one gap -> the unguarded
           -- form divides by zero where the operator emits NULL)
           CASE WHEN n_gaps > 1 THEN
             ROUND(sqrt(CAST(CAST(n_gaps::HUGEINT * qd - sd * sd
                                  AS VARCHAR) AS DOUBLE)
                        / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1))), 6)
           END AS std_gap_s,
           CASE WHEN n_gaps > 1 AND sd > 0 THEN
             ROUND(sqrt(CAST(CAST(n_gaps::HUGEINT * qd - sd * sd
                                  AS VARCHAR) AS DOUBLE)
                        / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
                   / (CAST(CAST(sd AS VARCHAR) AS DOUBLE) / n_gaps), 6)
           END AS cv,
           CASE WHEN n_gaps > 1 AND sd > 0 THEN
             ROUND((sqrt(CAST(CAST(n_gaps::HUGEINT * qd - sd * sd
                                   AS VARCHAR) AS DOUBLE)
                         / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
                    - CAST(CAST(sd AS VARCHAR) AS DOUBLE) / n_gaps)
                   / (sqrt(CAST(CAST(n_gaps::HUGEINT * qd - sd * sd
                                     AS VARCHAR) AS DOUBLE)
                           / (CAST(n_gaps AS DOUBLE) * (n_gaps - 1)))
                      + CAST(CAST(sd AS VARCHAR) AS DOUBLE) / n_gaps), 6)
           END AS burstiness
    FROM m ORDER BY event_type
    """,
    doc="point-process inter-arrival analysis per event type "
    "(operators/series.py:burstiness): gap count, mean/sample-std of "
    "the inter-event gap, CV, and the Goh-Barabasi burstiness index "
    "B = (sigma - mu)/(sigma + mu) — regular traffic B < 0, Poisson "
    "B ~ 0, heavy bursts B -> 1; the arrival-TIMING readout the "
    "value-based drift family (z-score/CUSUM/changepoint) has no "
    "view of. Exactness: timestamps floor to whole-second BIGINTs "
    "(the epoch discipline — DuckDB epoch() is fractional and "
    "::BIGINT rounds), the lag ORDER is the floored integers + "
    "event_id (engine-independent even for sub-second inputs), "
    "moments accumulate DECIMAL(38,0)/HUGEINT (sum d^2 is the "
    "t^2-overflow class), and every float derives from (n, S, Q) "
    "via identical double expressions with the VARCHAR-roundtrip "
    "crossing. One sort window + one map-side-combined aggregate",
)
def burstiness_event_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import burstiness

    ev = load_events(spark, sf_dir)
    return burstiness(ev, ["event_type"], "ts", tie_col="event_id")


@_q(
    "tcloseness_customer_release",
    """
    WITH rel AS MATERIALIZED (
      SELECT c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
             o_orderpriority AS s
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE o_orderpriority IS NOT NULL),
    gv AS MATERIALIZED (
      SELECT c_mktsegment, c_nationkey, bal_band, s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM rel GROUP BY 1, 2, 3, 4),
    grp AS (SELECT c_mktsegment, c_nationkey, bal_band,
                   CAST(SUM(c) AS BIGINT) AS ng
            FROM gv GROUP BY 1, 2, 3),
    gdist AS MATERIALIZED (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS gc,
             row_number() OVER (ORDER BY s) AS j
      FROM rel GROUP BY s),
    tot AS (SELECT CAST(SUM(gc) AS BIGINT) AS nn,
                   CAST(COUNT(*) AS BIGINT) AS m FROM gdist),
    dense AS (
      SELECT g.c_mktsegment, g.c_nationkey, g.bal_band, gl.j,
             g.ng, t.nn, t.m,
             COALESCE(v.c, 0)::HUGEINT * t.nn
               - gl.gc::HUGEINT * g.ng AS d
      FROM grp g CROSS JOIN gdist gl CROSS JOIN tot t
      LEFT JOIN gv v ON v.c_mktsegment = g.c_mktsegment
        AND v.c_nationkey = g.c_nationkey
        AND v.bal_band = g.bal_band AND v.s = gl.s),
    cum AS (
      SELECT *, SUM(d) OVER (
        PARTITION BY c_mktsegment, c_nationkey, bal_band
        ORDER BY j ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS r
      FROM dense),
    per AS (
      SELECT c_mktsegment, c_nationkey, bal_band,
             MAX(ng) AS ng, MAX(nn) AS nn, MAX(m) AS m,
             SUM(abs(r)) AS emd
      FROM cum WHERE j < m OR m = 1 GROUP BY 1, 2, 3),
    pt AS (
      SELECT per.*, th.t_permille,
             CASE WHEN m > 1 THEN
               ROUND(CAST(CAST(emd AS VARCHAR) AS DOUBLE)
                     / (CAST(ng AS DOUBLE) * nn * (m - 1)), 6)
             ELSE 0.0 END AS t_g,
             CASE WHEN emd * 1000
                       > th.t_permille::HUGEINT * ng * nn * (m - 1)
                  THEN 1 ELSE 0 END AS viol
      FROM per CROSS JOIN (VALUES (150), (200), (300))
        AS th(t_permille))
    SELECT t_permille / 1000.0 AS t_threshold,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(viol) AS BIGINT) AS violating_groups,
           CAST(SUM(ng * viol) AS BIGINT) AS violating_rows,
           ROUND(SUM(ng * viol) / SUM(ng), 6) AS pct_rows_at_risk,
           ROUND(MAX(t_g), 6) AS max_t
    FROM pt GROUP BY t_permille ORDER BY t_threshold
    """,
    doc="t-closeness release audit over the same (segment, nation, "
    "balance-band) quasi-identifier frame as kanon_customer_release "
    "(operators/privacy.py:t_closeness_report) — the rung ABOVE "
    "k-anonymity/l-diversity: a group can be large AND diverse yet "
    "leak because its sensitive DISTRIBUTION skews from the "
    "table's; t-closeness bounds the Earth Mover's Distance between "
    "them. Ordered-domain EMD = mean |cumulative difference|, "
    "scaled to the exact integer c_i*N - C_i*n_g in DECIMAL(38,0)/"
    "HUGEINT (n*N passes int64 at 100 TB), threshold tests "
    "cross-multiplied — floats only in the reported max_t/pct. One "
    "(QI, s) groupBy, then a |groups| x m dense frame off a "
    "broadcast m-row global distribution + one cumulative window",
)
def tcloseness_customer_release_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.privacy import t_closeness_report

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    rel = c.join(o, o["o_custkey"] == c["c_custkey"], "left").select(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        "o_orderpriority",
    )
    return t_closeness_report(
        rel,
        ["c_mktsegment", "c_nationkey", "bal_band"],
        "o_orderpriority",
        thresholds_permille=(150, 200, 300),
    )


@_q(
    "sprt_event_quality",
    """
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(CASE WHEN value > 500 THEN 1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type, day,
             CAST(FLOOR((s * 0.09531017980432493
                         + (t - s) * -0.10536051565782628) * 1000000)
                  AS BIGINT) AS stp
      FROM d),
    run AS (
      SELECT event_type, day,
             SUM(stp) OVER (PARTITION BY event_type ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS llr
      FROM st),
    crossed AS (
      SELECT event_type, day, llr,
             CASE WHEN llr >= 2772588 THEN 'accept_h1'
                  WHEN llr <= -1558145 THEN 'accept_h0' END AS cr
      FROM run),
    fc AS (
      SELECT event_type, day AS decided_at, cr AS decision,
             llr AS llr_dec
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY day) AS rn
            FROM crossed WHERE cr IS NOT NULL) WHERE rn = 1),
    tails AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_periods,
             arg_max(llr, day) AS llr_end
      FROM crossed GROUP BY event_type)
    SELECT t.event_type,
           COALESCE(f.decision, 'continue') AS decision,
           f.decided_at, t.n_periods,
           ROUND(COALESCE(f.llr_dec, t.llr_end) / 1000000.0, 6)
             AS llr
    FROM tails t LEFT JOIN fc f ON f.event_type = t.event_type
    ORDER BY t.event_type
    """,
    doc="Wald SPRT per event type on the daily share of high-value "
    "events (operators/series.py:sprt_decisions): sequential test of "
    "H1 p=0.55 vs H0 p=0.5 (alpha=0.05, beta=0.2) on the Bernoulli "
    "stream success := value > 500 — the sequential-decision rung "
    "next to the batch tests (chi2/MWU/ANOVA decide after seeing "
    "everything; SPRT reports WHEN the evidence sufficed, at ~half "
    "the fixed-n sample size). The two per-observation log terms and "
    "both Wald boundaries are computed ONCE in Python and injected "
    "as identical double literals into BOTH engines, each day\'s LLR "
    "is the identical IEEE expression on identical integers, and it "
    "quantizes to micros BIGINTs BEFORE the running sum (the CUSUM "
    "discipline) — so the crossing day is engine-exact. One sort "
    "window + one argmin window + one per-key tail aggregate",
)
def sprt_event_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import sprt_decisions

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count("*").cast("long").alias("trials"),
        F.sum(F.when(F.col("value") > 500, 1).otherwise(0))
        .cast("long")
        .alias("successes"),
    )
    return sprt_decisions(
        daily,
        ["event_type"],
        "day",
        "successes",
        "trials",
        p0=0.5,
        p1=0.55,
        alpha=0.05,
        beta=0.2,
    )


@_q(
    "proximity_search_docs",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w,
             generate_subscripts(
               string_split_regex(lower(trim(text)), '\\s+'), 1) - 1
               AS pos
      FROM documents),
    q AS (SELECT doc_id, w, pos FROM toks
          WHERE w IN ('hash', 'scan', 'table')),
    anchors AS (SELECT doc_id, pos AS p FROM q),
    nn0 AS (SELECT a.doc_id, a.p, MIN(j.pos) AS nn FROM anchors a
            JOIN q j ON j.doc_id = a.doc_id AND j.w = 'hash'
              AND j.pos >= a.p GROUP BY 1, 2),
    nn1 AS (SELECT a.doc_id, a.p, MIN(j.pos) AS nn FROM anchors a
            JOIN q j ON j.doc_id = a.doc_id AND j.w = 'scan'
              AND j.pos >= a.p GROUP BY 1, 2),
    nn2 AS (SELECT a.doc_id, a.p, MIN(j.pos) AS nn FROM anchors a
            JOIN q j ON j.doc_id = a.doc_id AND j.w = 'table'
              AND j.pos >= a.p GROUP BY 1, 2),
    spans AS (
      SELECT a.doc_id, a.p,
             greatest(n0.nn, n1.nn, n2.nn) - a.p + 1 AS w
      FROM anchors a
      JOIN nn0 n0 ON n0.doc_id = a.doc_id AND n0.p = a.p
      JOIN nn1 n1 ON n1.doc_id = a.doc_id AND n1.p = a.p
      JOIN nn2 n2 ON n2.doc_id = a.doc_id AND n2.p = a.p
      WHERE greatest(n0.nn, n1.nn, n2.nn) - a.p + 1 <= 12),
    pick AS (
      SELECT doc_id, w, p,
             row_number() OVER (PARTITION BY doc_id ORDER BY w, p)
               AS rn,
             COUNT(*) OVER (PARTITION BY doc_id) AS nw
      FROM spans)
    SELECT doc_id, CAST(w AS BIGINT) AS min_span,
           CAST(p AS BIGINT) AS span_start,
           CAST(nw AS BIGINT) AS n_windows
    FROM pick WHERE rn = 1
    """,
    doc="proximity retrieval: documents where 'hash', 'scan', and "
    "'table' all co-occur within a 12-token span, any order "
    "(operators/text.py:proximity_search) — the middle rung of the "
    "positional family between bm25_rank (bag of words) and "
    "phrase_search_docs (exact consecutive order). Exact "
    "minimum-window semantics: every query-term occurrence anchors "
    "a candidate left end; the span to the nearest at-or-after "
    "occurrence of each term is the tightest window there, and the "
    "true minimum's left end is always such an occurrence — the "
    "sweep is exhaustive, no heuristic. Postings filtered to the "
    "query terms BEFORE any shuffle (the BM25/phrase discipline); "
    "per-doc cost quadratic only in per-document QUERY-TERM "
    "frequency. All positions exact BIGINTs; ties break (width, "
    "start) on both engines via the struct-min",
)
def proximity_search_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import proximity_search

    docs = load(spark, sf_dir, "documents")
    return proximity_search(
        docs, "doc_id", "text", ["hash", "scan", "table"], window=12
    )


_HARDNEG_QSETS = {
    # mixed: 'dup' is the one genuinely rare term (df ~5% of docs) —
    # its 25x idf puts covering docs on top, and the tail of the
    # top-40 is high-tf partial matches = the hard negatives
    "hq1": ["dup", "key", "fast"],
    # easy: two ubiquitous terms — coverage saturates, all positives
    "hq2": ["join", "hash"],
    # impossible: 'model' has no postings, so full coverage cannot
    # happen — every top-40 doc is a hard negative (the generator
    # still yields training signal on an unanswerable query)
    "hq3": ["dup", "model", "scan"],
}


def _hardneg_block(qid: str, terms: list[str], k: int) -> str:
    tset = sorted({t.lower() for t in terms})
    tl = ", ".join(f"'{t}'" for t in tset)
    m = len(tset)
    return f"""
    sc_{qid} AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
             ), 6) AS bm25,
             CAST(COUNT(DISTINCT tf.t) AS BIGINT) AS n_covered
      FROM (SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM toks WHERE t IN ({tl}) GROUP BY doc_id, dl, t) tf
      JOIN (SELECT t, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
            FROM toks WHERE t IN ({tl}) GROUP BY t) dfreq
        ON dfreq.t = tf.t
      CROSS JOIN stats s
      GROUP BY tf.doc_id),
    top_{qid} AS (
      SELECT '{qid}' AS query_id, doc_id,
             CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                  AS BIGINT) AS rank,
             bm25, n_covered,
             CASE WHEN n_covered = {m} THEN 'positive'
                  ELSE 'hard_negative' END AS role
      FROM sc_{qid} ORDER BY bm25 DESC, doc_id LIMIT {k})"""


def _hardneg_oracle() -> str:
    blocks = ",".join(
        _hardneg_block(qid, ts, 40) for qid, ts in _HARDNEG_QSETS.items()
    )
    selects = " UNION ALL ".join(
        f"SELECT * FROM top_{qid}" for qid in _HARDNEG_QSETS
    )
    return f"""
    WITH docs AS MATERIALIZED (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tok,
             len(string_split_regex(trim(text), '\\s+')) AS dl
      FROM documents),
    toks AS MATERIALIZED (
      SELECT doc_id, dl, UNNEST(tok) AS t FROM docs),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl
              FROM docs),
    {blocks}
    {selects} ORDER BY query_id, rank
    """


@_q(
    "hard_negatives_bm25",
    _hardneg_oracle(),
    doc="hard-negative mining for retrieval-model training "
    "(operators/retrieval.py:hard_negatives): per query the BM25 "
    "top-40 labeled positive (covers every query term) or HARD "
    "negative (high score, missing a term) — the pairs that teach a "
    "ranker; random negatives are trivially separable and carry no "
    "gradient (the DPR recipe). Labels are the same deterministic "
    "term-coverage pseudo-qrel search_eval_bm25 judges with, so the "
    "generator and the evaluator agree on relevance. Three query "
    "profiles pinned: mixed (rare 'dup' anchors positives, high-tf "
    "partial matches trail as negatives), saturated (all positive), "
    "unanswerable (zero-df term: all negatives). Corpus tokenized "
    "ONCE into the shared checkpointed index; per query a "
    "|terms|-partition score + TakeOrderedAndProject cut; ranked "
    "ties break on round-6 bm25 then doc_id — both engines order "
    "the same rounded doubles",
)
def hard_negatives_bm25_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import hard_negatives

    docs = load(spark, sf_dir, "documents")
    return hard_negatives(docs, "doc_id", "text", _HARDNEG_QSETS, k=40)


@_q(
    "link_prediction_suppliers",
    """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    degl AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dl FROM e GROUP BY s),
    degr AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS dr FROM e GROUP BY c),
    ew AS (SELECT e.s, e.c, 1000000000 // dr AS w
           FROM e JOIN degr USING (c)),
    pairs AS (
      SELECT a.s AS node_a, b.s AS node_b,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors,
             CAST(SUM(a.w) AS BIGINT) AS ra_nanos
      FROM ew a JOIN ew b ON a.c = b.c AND a.s < b.s
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    scored AS (
      SELECT p.node_a, p.node_b, p.common_neighbors,
             ROUND(p.common_neighbors * 1.0
                   / (da.dl + db.dl - p.common_neighbors), 6) AS jaccard,
             ROUND(p.ra_nanos / 1000000000.0, 6)
               AS resource_allocation,
             p.ra_nanos
      FROM pairs p JOIN degl da ON da.s = p.node_a
      JOIN degl db ON db.s = p.node_b)
    SELECT node_a, node_b, common_neighbors, jaccard,
           resource_allocation
    FROM scored
    ORDER BY ra_nanos DESC, common_neighbors DESC, node_a, node_b
    LIMIT 50
    """,
    doc="bipartite link prediction over the supplier-customer graph "
    "(operators/graph.py:link_prediction): top-50 supplier pairs by "
    "shared customer neighborhoods under the three classic indices — "
    "common neighbors, Jaccard, and Resource Allocation "
    "sum 1/deg(z) (Zhou/Lu/Zhang 2009 — down-weights promiscuous "
    "hubs where CN cannot; 'suppliers sharing many LOW-degree "
    "customers are likely substitutes'). The candidate-generation "
    "rung under the recommendation family's rankers. Exactness: RA "
    "terms are floor(1e9/deg) BIGINT nanos via true INTEGER "
    "division — deliberately NOT Adamic-Adar, whose 1/ln(deg) puts "
    "a transcendental inside a per-term floor where libm-vs-JVM "
    "last-ulps could straddle. Pair work = sum_z C(deg_z, 2), "
    "bounded by right-side degree (item_affinity's argument); "
    "weights attach BEFORE the pair shuffle; degree frames "
    "broadcast; TakeOrderedAndProject cut on (RA, CN, pair)",
)
def link_prediction_suppliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import link_prediction

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    edges = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey", "o_custkey"
    )
    return link_prediction(
        edges, "l_suppkey", "o_custkey", min_common=2, top_k=50
    )


@_q(
    "profile_drift_orders",
    """
    WITH po AS (
      SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_old,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_old
      FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01' UNION ALL 
      SELECT 'o_orderpriority' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_old,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ndv_old
      FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01' UNION ALL 
      SELECT 'o_orderstatus' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_old,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS ndv_old
      FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01' UNION ALL 
      SELECT 'o_totalprice' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_old,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS ndv_old
      FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01'),
    pn AS (
      SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_new,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_new
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01' UNION ALL 
      SELECT 'o_orderpriority' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_new,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ndv_new
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01' UNION ALL 
      SELECT 'o_orderstatus' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_new,
             CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS ndv_new
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01' UNION ALL 
      SELECT 'o_totalprice' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS nulls_new,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS ndv_new
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01')
    SELECT po.col_name AS "column", n_old, n_new,
           CASE WHEN n_old > 0
                THEN ROUND(nulls_old * 1.0 / n_old, 6) END
             AS null_rate_old,
           CASE WHEN n_new > 0
                THEN ROUND(nulls_new * 1.0 / n_new, 6) END
             AS null_rate_new,
           CASE WHEN n_old > 0 AND n_new > 0
                THEN ROUND(nulls_new * 1.0 / n_new
                           - nulls_old * 1.0 / n_old, 6) END
             AS null_rate_delta,
           ndv_old, ndv_new,
           CASE WHEN ndv_old > 0
                THEN ROUND(ndv_new * 1.0 / ndv_old, 6) END AS ndv_ratio
    FROM po JOIN pn ON pn.col_name = po.col_name
    ORDER BY po.col_name
    """,
    doc="column-profile drift between the pre- and post-2001 order "
    "snapshots (operators/dq.py:profile_drift): per column exact row "
    "counts, null rates, distinct counts, the null-rate delta and "
    "NDV ratio — the data-contract monitor that catches what schema "
    "checks cannot (the column still exists and types, but its null "
    "rate tripled or its enum collapsed). The drift rung of the DQ "
    "family: dq_report asserts point-in-time expectations, fd_audit "
    "discovers structure, this compares two points in time. ONE "
    "fused aggregate pass per snapshot (null counts ride the same "
    "map-side combine; exact per-column COUNT DISTINCTs expand — "
    "swap in the HLL sketch ops when profiling 100s of columns at "
    "100 TB); the long form is an F.inline over the aggregate row "
    "and the join is |columns|-sized. Guarded divisions: an empty "
    "side reports NULL rates, never an ANSI division error",
)
def profile_drift_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import profile_drift

    orders = load(spark, sf_dir, "orders")
    cut = F.lit("2001-01-01").cast("timestamp")
    return profile_drift(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        ["o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"],
    )


@_q(
    "sla_business_days",
    """
    WITH ship AS (
      SELECT l_orderkey, MIN(CAST(l_shipdate AS DATE)) AS first_ship
      FROM lineitem GROUP BY l_orderkey),
    j AS (
      SELECT o.o_orderpriority,
             date_diff('day', DATE '1900-01-01',
                       CAST(o.o_orderdate AS DATE)) AS ma,
             date_diff('day', DATE '1900-01-01', s.first_ship) AS mb
      FROM orders o JOIN ship s ON s.l_orderkey = o.o_orderkey
      WHERE o.o_orderdate IS NOT NULL AND s.first_ship IS NOT NULL),
    bdv AS (
      SELECT o_orderpriority,
             (5 * ((mb - mb % 7) // 7) + least(mb % 7, 5))
             - (5 * ((ma - ma % 7) // 7) + least(ma % 7, 5)) AS bd
      FROM j),
    pv AS (
      SELECT o_orderpriority, bd, CAST(COUNT(*) AS BIGINT) AS c
      FROM bdv GROUP BY 1, 2),
    cum AS (
      SELECT o_orderpriority, bd, c,
             SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY bd
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cm,
             SUM(c) OVER (PARTITION BY o_orderpriority) AS n
      FROM pv)
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n,
           ROUND(CAST(SUM(bd * c) AS DOUBLE) / MAX(n), 6) AS mean_bd,
           ROUND(CAST(SUM(CASE WHEN bd > 30 THEN c ELSE 0 END)
                      AS DOUBLE) / MAX(n), 6) AS breach_rate,
           CAST(MIN(CASE WHEN cm * 100 >= 50 * n THEN bd END)
                AS BIGINT) AS p50_bd,
           CAST(MIN(CASE WHEN cm * 100 >= 90 * n THEN bd END)
                AS BIGINT) AS p90_bd
    FROM cum GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="business-day fulfillment SLA per order priority "
    "(operators/relational.py:business_day_sla over "
    "business_days_col): weekend-excluding days from order date to "
    "first ship date — naive datediff is wrong by ~2/7 on any SLA. "
    "The calendar arithmetic is a CLOSED FORM (bd(d) = 5*(m div 7) "
    "+ least(m mod 7, 5) off a fixed Monday anchor) — O(1) per row "
    "in codegen, no calendar table, no per-day explode; a "
    "decade-long interval costs the same as a day. Exact type-1 "
    "percentiles by rank selection over the (group, duration) "
    "distinct frame (weighted-percentiles discipline, "
    "cross-multiplied cum*100 >= p*n), exact BIGINT durations, "
    "divisions only in the reported mean/breach rate",
)
def sla_business_days_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import business_day_sla

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("first_ship")
    )
    j = orders.join(ship, orders.o_orderkey == ship.l_orderkey).select(
        "o_orderpriority", "o_orderdate", "first_ship"
    )
    return business_day_sla(
        j,
        ["o_orderpriority"],
        "o_orderdate",
        "first_ship",
        sla_days=30,
        percentiles=(50, 90),
    )


@_q(
    "cohort_ltv_curve",
    """
    WITH f AS (
      SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS fd
      FROM orders GROUP BY o_custkey),
    coh AS (
      SELECT o_custkey, CAST(date_trunc('month', fd) AS DATE)
               AS cohort_month,
             year(fd) * 12 + month(fd) AS cym
      FROM f),
    sizes AS (SELECT cohort_month, CAST(COUNT(*) AS BIGINT)
                AS cohort_size
              FROM coh GROUP BY 1),
    cells AS (
      SELECT c.cohort_month,
             year(CAST(o.o_orderdate AS DATE)) * 12
               + month(CAST(o.o_orderdate AS DATE)) - c.cym
               AS age_months,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN coh c ON c.o_custkey = o.o_custkey
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_month, age_months, n_orders, rev,
             SUM(rev) OVER (PARTITION BY cohort_month
                            ORDER BY age_months
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumrev
      FROM cells)
    SELECT c.cohort_month, CAST(age_months AS BIGINT) AS age_months,
           n_orders,
           ROUND(CAST(CAST(rev AS VARCHAR) AS DOUBLE), 2) AS revenue,
           ROUND(CAST(CAST(cumrev AS VARCHAR) AS DOUBLE), 2)
             AS cum_revenue,
           s.cohort_size,
           ROUND(CAST(CAST(cumrev AS VARCHAR) AS DOUBLE)
                 / s.cohort_size, 6) AS ltv_per_member
    FROM cum c JOIN sizes s USING (cohort_month)
    ORDER BY c.cohort_month, age_months
    """,
    doc="cohort lifetime-value curve "
    "(operators/relational.py:cohort_ltv_curve): customers cohort by "
    "first-order month; each (cohort, age) cell reports period "
    "revenue, cumulative revenue, and LTV per cohort member — the "
    "monetary companion to comeback-counting retention (retention "
    "says WHO returns; this prices what returning is WORTH). "
    "Cohort/age are pure integer month arithmetic (year*12+month — "
    "no months_between float), revenue rides exact DECIMAL(18,2) "
    "sums with the cumulative window over the months^2-bounded "
    "AGGREGATE frame, decimals cross to double via the VARCHAR "
    "roundtrip, one division per cell. One entity aggregate + one "
    "cell aggregate; nothing fact-sized shuffles twice",
)
def cohort_ltv_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import cohort_ltv_curve

    orders = load(spark, sf_dir, "orders")
    return cohort_ltv_curve(orders, "o_custkey", "o_orderdate", "o_totalprice")


# ---------------------------------------------------------------------------
# round-9 wave: market concentration, survival hazard, experiment planning,
# calendar parity, graph transitivity, survey ratio estimation, l-diversity,
# Kendall tau-b, score calibration, corpus JSD, MMR re-ranking, winsorized
# moments
# ---------------------------------------------------------------------------


@_q(
    "hhi_supplier_nations",
    """
    WITH per_firm AS (
      SELECT n.n_name, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT n_name, v,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY v DESC, l_suppkey) AS rn
      FROM per_firm),
    m AS (
      SELECT n_name,
             CAST(COUNT(*) AS BIGINT) AS n_firms,
             SUM(v) AS s,
             SUM(CAST(v * v AS DECIMAL(38,4))) AS q,
             SUM(CASE WHEN rn <= 4 THEN v END) AS top
      FROM ranked GROUP BY 1)
    SELECT n_name, n_firms,
           ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE), 2) AS total_value,
           ROUND(10000.0 * CAST(CAST(q AS VARCHAR) AS DOUBLE)
                 / (CAST(CAST(s AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(s AS VARCHAR) AS DOUBLE)), 6) AS hhi,
           ROUND(CAST(CAST(top AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(s AS VARCHAR) AS DOUBLE), 6) AS cr4
    FROM m ORDER BY n_name
    """,
    doc="Herfindahl-Hirschman concentration of supplier revenue per "
    "nation (operators/relational.py:hhi_concentration): HHI on the "
    "0-10000 antitrust scale + CR4 top-firm share — the "
    "market-structure scalar next to gini_customer_revenue's "
    "inequality curve. Firm revenue rides DECIMAL(18,2) cents, the "
    "squared-share moment DECIMAL(38,4) (the t^2 overflow class), "
    "CR4 ranks on the exact decimal with a suppkey tiebreak, and "
    "every decimal crosses to double via the VARCHAR bridge. One "
    "firm aggregate + one per-market rank window over the "
    "firm-cardinality frame + one map-side-combined rollup",
)
def hhi_supplier_nations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import hhi_concentration

    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    joined = li.join(
        supp, li["l_suppkey"] == supp["s_suppkey"]
    ).join(nat, supp["s_nationkey"] == nat["n_nationkey"])
    return hhi_concentration(
        joined, ["n_name"], "l_suppkey", "l_extendedprice"
    )


@_q(
    "nelson_aalen_segments",
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
             CAST(SUM(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN obs THEN 0 ELSE 1 END) AS BIGINT) AS c
      FROM subj GROUP BY 1, 2),
    atrisk AS (
      SELECT seg, t, d, c,
             SUM(d + c) OVER (PARTITION BY seg)
             - COALESCE(SUM(d + c) OVER (PARTITION BY seg ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS n,
             (1000000000 * d) // (
               SUM(d + c) OVER (PARTITION BY seg)
               - COALESCE(SUM(d + c) OVER (PARTITION BY seg ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0)) AS h
      FROM counts)
    SELECT seg AS c_mktsegment, t,
           CAST(n AS BIGINT) AS n_risk, d AS n_events, c AS n_censored,
           -- half-up at the nano->micro boundary IN INTEGERS, then an
           -- exact micros/1e6 double (ROUND(cum/1e9, 6) diverges on a
           -- ..500-nanos cumulative: measured 1e-6 flip at sf0.1)
           ((SUM(h) OVER (PARTITION BY seg ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             + 500) // 1000) / 1000000.0 AS na_hazard
    FROM atrisk
    """,
    doc="Nelson-Aalen cumulative hazard per market segment "
    "(operators/relational.py:nelson_aalen_hazard) on the SAME "
    "censored-duration frame as km_survival_segments (first->last "
    "order span, censored within 90 days of the horizon) — the "
    "additive companion curve: each d/n term quantizes to "
    "floor(1e9*d/n) BIGINT nanos via integer division and the curve "
    "is a cumulative BIGINT sum (the CUSUM discipline), so it is "
    "bit-exact cross-engine where KM's exp-sum-ln needed a "
    "zero-factor flag. Same reduced-frame plan as KM: one "
    "(segment, duration) aggregate + per-segment ordered windows",
)
def nelson_aalen_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import nelson_aalen_hazard

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
    return nelson_aalen_hazard(subj, ["c_mktsegment"], "t", "obs")


from ..operators.series import NORMAL_QUANTILES as _NQ  # noqa: E402

_MDE_Z = _NQ[0.975] + _NQ[0.8]


@_q(
    "power_mde_events",
    f"""
    WITH x AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS xq
      FROM events WHERE value IS NOT NULL),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(xq::HUGEINT) AS s, SUM(xq::HUGEINT * xq) AS q
      FROM x GROUP BY 1),
    v AS (
      SELECT event_type, n,
             CAST(s AS DOUBLE) / n / 1000000.0 AS mean,
             CASE WHEN n > 1 THEN
               CAST(CAST(n::HUGEINT * q - s * s AS VARCHAR) AS DOUBLE)
               / (CAST(n AS DOUBLE) * (n - 1)) / 1000000000000.0
             END AS vr
      FROM m)
    SELECT event_type, n,
           ROUND(mean, 6) AS mean,
           ROUND(SQRT(vr), 6) AS std,
           ROUND({_MDE_Z!r} * SQRT(2.0 * vr / n), 6) AS mde_abs,
           ROUND(CASE WHEN mean <> 0 THEN
                   {_MDE_Z!r} * SQRT(2.0 * vr / n) / mean END, 6)
             AS mde_rel
    FROM v ORDER BY event_type
    """,
    doc="minimal detectable effect per event type at the current "
    "sample size (operators/series.py:power_mde): the "
    "experiment-PLANNING rung of the A/B family — Lehr-form "
    "MDE = (z_0.975 + z_0.8) * sqrt(2 s^2 / n) with the z quantiles "
    "injected as ONE published double literal into both engines "
    "(NORMAL_QUANTILES — no erf/ppf in any plan). Variance follows "
    "the burstiness discipline: micros BIGINT quantization, "
    "DECIMAL(38,0)/HUGEINT moments, the VARCHAR-bridge decimal->"
    "double crossing, identical double expressions. One "
    "map-side-combined aggregate",
)
def power_mde_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import power_mde

    ev = load_events(spark, sf_dir)
    return power_mde(ev, ["event_type"], "value")


@_q(
    "isoweek_rollup_orders",
    """
    SELECT CAST(isoyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_year,
           CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS iso_week,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                           AS VARCHAR) AS DOUBLE), 2) AS revenue
    FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="ISO-8601 week rollup of orders (calendar parity next to "
    "sla_business_days' weekday arithmetic): the year-boundary trap "
    "the naive YEAR()+WEEK() rollup gets wrong — Dec 30 1996 is ISO "
    "week 1 of 1997, so grouping by calendar year splits that week "
    "across two rows. Spark extract(YEAROFWEEK)/weekofyear == DuckDB "
    "isoyear()/weekofyear() (both ISO), verified at the boundary "
    "dates. Revenue rides DECIMAL(18,2) with the VARCHAR bridge; one "
    "map-side-combined aggregate",
)
def isoweek_rollup_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.expr("extract(YEAROFWEEK FROM o_orderdate)")
            .cast("long")
            .alias("iso_year"),
            F.weekofyear("o_orderdate").cast("long").alias("iso_week"),
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("revenue"),
        )
        .orderBy("iso_year", "iso_week")
    )


@_q(
    "clustering_coeff_nations",
    """
    WITH raw AS MATERIALIZED (
      -- MATERIALIZED: E/und are referenced ~5x downstream (und twice,
      -- the wedge-closing join once more) — inlined, each reference
      -- re-runs the 4-way fact join (measured: 300s -> ~2s at sf0.1)
      SELECT DISTINCT c.c_nationkey AS x, s.s_nationkey AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey),
    E AS MATERIALIZED (
      SELECT DISTINCT LEAST(x, y) AS u, GREATEST(x, y) AS v
      FROM raw WHERE x <> y),
    und AS (
      SELECT u AS a, v AS b FROM E
      UNION ALL SELECT v AS a, u AS b FROM E),
    deg AS (
      SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM und GROUP BY 1),
    tri AS (
      SELECT w.node, CAST(COUNT(*) AS BIGINT) AS triangles
      FROM (
        SELECT u1.a AS node, u1.b AS x, u2.b AS y
        FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b) w
      JOIN E ON E.u = LEAST(w.x, w.y) AND E.v = GREATEST(w.x, w.y)
      GROUP BY 1),
    pern AS (
      SELECT d.node, d.degree, COALESCE(t.triangles, 0) AS triangles
      FROM deg d LEFT JOIN tri t ON t.node = d.node),
    gstats AS (
      SELECT ROUND(CAST(SUM(triangles) AS DOUBLE)
                   / CAST(SUM(degree * (degree - 1) // 2) AS DOUBLE), 6)
               AS transitivity
      FROM pern)
    SELECT node, degree, triangles,
           CASE WHEN degree >= 2 THEN
             ROUND(2.0 * triangles / (degree * (degree - 1)), 6)
           END AS clustering,
           transitivity
    FROM pern CROSS JOIN gstats ORDER BY node
    """,
    doc="local clustering coefficients + global transitivity of the "
    "nation trade graph (operators/graph.py:clustering_profile over "
    "triangle_counts): nations are linked when any customer bought "
    "from any supplier across the pair; per-node C = 2T/(d(d-1)) and "
    "the graph-level C = sum T_v / sum C(d_v,2) (== 3*triangles/"
    "wedges since each triangle counts at 3 corners). Spark runs the "
    "degree-ordered-orientation O(m^1.5) pipeline (hub-proof — "
    "SCALE_PROBE:triangle_hub_guard); the oracle re-derives the same "
    "counts by direct wedge self-join on the 25-node graph. Integer "
    "counts throughout; two double divisions, round-6",
)
def clustering_coeff_nations_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import clustering_profile

    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    edges = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(s, s["s_suppkey"] == li["l_suppkey"])
        .select(
            F.col("c_nationkey").alias("x"), F.col("s_nationkey").alias("y")
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    return clustering_profile(edges, "x", "y")


@_q(
    "ratio_estimator_lineitem",
    """
    WITH marked AS (
      SELECT l_returnflag AS stratum,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
             CAST(l_quantity AS DECIMAL(18,2)) AS x,
             ('0x' || substring(md5(l_orderkey || ':' || l_linenumber),
                                1, 15))::BIGINT % 1000 < 200 AS inc
      FROM lineitem),
    per AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n_pop,
             CAST(SUM(CASE WHEN inc THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
             SUM(CASE WHEN inc THEN y END) AS sy,
             SUM(CASE WHEN inc THEN x END) AS sx,
             SUM(x) AS tx, SUM(y) AS ty
      FROM marked GROUP BY stratum),
    est AS (
      SELECT stratum, n_pop, n_sampled,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE)
               / CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS rhat,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE)
               / CAST(CAST(sx AS VARCHAR) AS DOUBLE)
               * CAST(CAST(tx AS VARCHAR) AS DOUBLE) AS ratio_est,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) * 1000.0 / 200
               AS expand_est,
             CAST(CAST(ty AS VARCHAR) AS DOUBLE) AS true_y
      FROM per)
    SELECT stratum, n_pop, n_sampled,
           ROUND(rhat, 6) AS r_hat,
           ROUND(ratio_est, 6) AS ratio_total,
           ROUND(expand_est, 6) AS expansion_total,
           ROUND(true_y, 6) AS true_total,
           ROUND((ratio_est - true_y) / true_y, 6) AS ratio_rel_err,
           ROUND((expand_est - true_y) / true_y, 6) AS expansion_rel_err
    FROM est ORDER BY stratum
    """,
    doc="stratified ratio estimator of lineitem revenue from a 20% "
    "deterministic md5 sample with exact quantity totals as the "
    "auxiliary (operators/relational.py:ratio_estimator_total) — the "
    "survey-sampling companion to ht_total_by_priority: when sum(x) "
    "is known exactly (catalog metadata), expanding the sample RATIO "
    "y/x by the true X beats plain 1/pi expansion wherever y "
    "correlates with x; both estimates + both relative errors ride "
    "the output so the win is auditable. Same md5_60 replayable "
    "sampling, exact decimal sums, VARCHAR-bridge crossings, one "
    "map-side-combined aggregate",
)
def ratio_estimator_lineitem_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import ratio_estimator_total

    li = load(spark, sf_dir, "lineitem").withColumn(
        "__k",
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit(":"),
            F.col("l_linenumber").cast("string"),
        ),
    )
    return ratio_estimator_total(
        li, "l_returnflag", "l_extendedprice", F.col("l_quantity"), "__k", 200
    )


@_q(
    "ldiversity_customer_release",
    f"""
    WITH rel AS (
      SELECT c.c_mktsegment,
             CAST(FLOOR(c.c_acctbal / 2000) AS BIGINT) AS bal_band,
             o.o_orderpriority AS s
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      WHERE o.o_orderpriority IS NOT NULL),
    gv AS (
      SELECT c_mktsegment, bal_band, s, CAST(COUNT(*) AS BIGINT) AS c
      FROM rel GROUP BY 1, 2, 3),
    grp AS (
      SELECT c_mktsegment, bal_band,
             CAST(SUM(c) AS BIGINT) AS ng,
             CAST(COUNT(*) AS BIGINT) AS dst,
             ln(CAST(SUM(c) AS BIGINT))
               - SUM(CAST(c AS DOUBLE) * ln(c)) / CAST(SUM(c) AS BIGINT)
               AS H
      FROM gv GROUP BY 1, 2),
    th(l, lnl) AS (VALUES (2, {__import__('math').log(2)!r}),
                          (3, {__import__('math').log(3)!r}),
                          (5, {__import__('math').log(5)!r}))
    SELECT CAST(l AS BIGINT) AS l,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN dst >= l THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_distinct_l,
           CAST(SUM(CASE WHEN H >= lnl THEN 1 ELSE 0 END) AS BIGINT)
             AS groups_entropy_l,
           ROUND(SUM(CASE WHEN dst >= l THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS pct_distinct_l,
           ROUND(SUM(CASE WHEN H >= lnl THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS pct_entropy_l,
           MIN(dst) AS min_distinct,
           ROUND(EXP(MIN(H)), 6) AS min_entropy_l,
           MAX(CASE WHEN dst < l THEN ng END) AS largest_violating_group
    FROM grp CROSS JOIN th
    GROUP BY l ORDER BY l
    """,
    doc="l-diversity audit of the (mktsegment, balance-band) release "
    "against order priority (operators/privacy.py:l_diversity_report) "
    "— the missing rung between kanon_customer_release (group SIZE) "
    "and tcloseness_customer_release (distribution distance): "
    "distinct-l demands >= l sensitive values per QI class, "
    "entropy-l the stronger exp(H) >= l, compared exp-free as "
    "H >= ln(l) with ln(l) injected as identical Python double "
    "literals into both engines. Distinct counts are exact BIGINTs "
    "from one (QI, s) aggregate; entropy follows the entropy-family "
    "double discipline. One aggregate chain, one row per threshold",
)
def ldiversity_customer_release_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.privacy import l_diversity_report

    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    rel = c.join(o, o["o_custkey"] == c["c_custkey"], "left").select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        "o_orderpriority",
    )
    return l_diversity_report(
        rel, ["c_mktsegment", "bal_band"], "o_orderpriority", (2, 3, 5)
    )


@_q(
    "kendall_tau_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS yv
      FROM events GROUP BY 1, 2),
    q AS (
      -- x/yv are already BIGINTs: tau depends only on orderings, so
      -- the operator's integral lane (advisor r9 #4) skips the *1e6
      -- re-quantization — a no-op on C/D/ties that would otherwise
      -- overflow BIGINT on large daily value masses
      SELECT event_type, x AS xq, yv AS yq,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY x, yv) AS i
      FROM daily),
    cd AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN (a.xq - b.xq)::HUGEINT * (a.yq - b.yq) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS C,
             CAST(SUM(CASE WHEN (a.xq - b.xq)::HUGEINT * (a.yq - b.yq) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS D
      FROM q a JOIN q b ON a.event_type = b.event_type AND a.i < b.i
      GROUP BY 1),
    t1 AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n1,
             CAST(SUM(t) AS BIGINT) AS n
      FROM (SELECT event_type, xq, CAST(COUNT(*) AS BIGINT) AS t
            FROM q GROUP BY 1, 2) GROUP BY 1),
    t2 AS (
      SELECT event_type, CAST(SUM(t * (t - 1) // 2) AS BIGINT) AS n2
      FROM (SELECT event_type, yq, CAST(COUNT(*) AS BIGINT) AS t
            FROM q GROUP BY 1, 2) GROUP BY 1)
    SELECT t1.event_type, t1.n,
           COALESCE(cd.C, 0) AS concordant,
           COALESCE(cd.D, 0) AS discordant,
           CASE WHEN (n * (n - 1) // 2) > n1
                 AND (n * (n - 1) // 2) > n2 THEN
             ROUND((cd.C - cd.D)
                   / (SQRT(CAST((n * (n - 1) // 2) - n1 AS DOUBLE))
                      * SQRT(CAST((n * (n - 1) // 2) - n2 AS DOUBLE))), 6)
           END AS tau_b
    FROM t1 JOIN t2 USING (event_type)
    LEFT JOIN cd USING (event_type)
    WHERE t1.n >= 2
    ORDER BY t1.event_type
    """,
    doc="Kendall tau-b between daily event count and daily value mass "
    "per event type (operators/series.py:kendall_tau) — the "
    "pair-concordance companion to spearman_value_items: counts HOW "
    "OFTEN busier days are higher-value days, with exact tie "
    "correction. Daily value mass is an exact micros BIGINT sum; "
    "both inputs are integral so the operator's integral lane uses "
    "them as-is (tau is ordering-only — re-quantization was the "
    "advisor-r9 overflow hazard), pair "
    "signs are DECIMAL(38,0)/HUGEINT products of BIGINT differences "
    "(a double product's sign can flip on cancellation), and the "
    "sqrt factors split before multiplying. pairs='auto' rides the "
    "join lane here (groups = days-per-type, far under the "
    "scale_lanes.PAIR_LANE_MAX_GROUP_ROWS cut); the Knight "
    "O(n log n) inversion lane takes over on oversized groups",
)
def kendall_tau_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import kendall_tau

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count("*").cast("long").alias("x"),
        F.sum(
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("yv"),
    )
    return kendall_tau(daily, ["event_type"], "x", "yv")


@_q(
    "calibration_brier_events",
    """
    WITH base AS (
      SELECT CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1000000 + 0.5)
                  AS BIGINT) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL),
    binned AS (
      SELECT LEAST((p * 20) // 1000000, 19) AS bin, p, y,
             (p - y * 1000000)::HUGEINT * (p - y * 1000000) AS e2
      FROM base),
    g AS (
      SELECT ROUND(CAST(CAST(SUM(e2) AS VARCHAR) AS DOUBLE)
                   / COUNT(*) / 1000000000000.0, 6) AS brier
      FROM binned),
    b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(p::HUGEINT) AS sp, CAST(SUM(y) AS BIGINT) AS sy
      FROM binned GROUP BY 1)
    SELECT CAST(bin AS BIGINT) AS bin,
           ROUND(bin / 20.0, 6) AS bin_lo, n,
           ROUND(CAST(sp AS DOUBLE) / n / 1000000.0, 6) AS mean_predicted,
           ROUND(sy / CAST(n AS DOUBLE), 6) AS observed_rate,
           ROUND(sy / CAST(n AS DOUBLE)
                 - CAST(sp AS DOUBLE) / n / 1000000.0, 6) AS gap,
           brier
    FROM b CROSS JOIN g ORDER BY bin
    """,
    doc="reliability diagram + Brier score for the 'value predicts a "
    "purchase' score (operators/classify.py:calibration_report): "
    "p = min(value/500, 1) against the binary purchase outcome, 20 "
    "FIXED-WIDTH bins (no global rank anywhere — deliberately not "
    "the decile form), per-bin predicted-vs-observed gap, and the "
    "global Brier proper score on every row via a 1-row broadcast. "
    "Scores quantize to micros BIGINTs, bin ids come from integer "
    "division of the micros (never a double floor), squared errors "
    "accumulate DECIMAL(38,0)/HUGEINT with the VARCHAR bridge. Two "
    "map-side-combined aggregates",
)
def calibration_brier_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import calibration_report

    ev = load_events(spark, sf_dir)
    scored = ev.select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("p"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    return calibration_report(scored, "p", "y", n_bins=20)


@_q(
    "jsd_source_docs",
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
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS N,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM counts GROUP BY 1),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_vocab,
             SUM(CAST(a.c AS DOUBLE) / ta.N
                 * ln(2.0 * (CAST(a.c AS DOUBLE) / ta.N)
                      / (CAST(a.c AS DOUBLE) / ta.N
                         + CAST(b.c AS DOUBLE) / tb.N))
                 + CAST(b.c AS DOUBLE) / tb.N
                 * ln(2.0 * (CAST(b.c AS DOUBLE) / tb.N)
                      / (CAST(a.c AS DOUBLE) / ta.N
                         + CAST(b.c AS DOUBLE) / tb.N))) AS sh,
             CAST(SUM(a.c) AS BIGINT) AS sca,
             CAST(SUM(b.c) AS BIGINT) AS scb
      FROM counts a
      JOIN counts b ON a.tok = b.tok AND a.source < b.source
      JOIN totals ta ON ta.source = a.source
      JOIN totals tb ON tb.source = b.source
      GROUP BY 1, 2),
    pairs AS (
      -- every unordered pair seated from totals; zero-shared-vocab
      -- pairs get empty sums and the identity collapses to jsd = ln 2
      -- exactly (the operator's absence contract, advisor r9 #5)
      SELECT ta.source AS source_a, tb.source AS source_b,
             ta.vocab AS vocab_a, tb.vocab AS vocab_b,
             COALESCE(s.shared_vocab, 0) AS shared_vocab,
             COALESCE(s.sh, 0.0) AS sh,
             COALESCE(s.sca, 0) AS sca, COALESCE(s.scb, 0) AS scb,
             ta.N AS na, tb.N AS nb
      FROM totals ta
      JOIN totals tb ON ta.source < tb.source
      LEFT JOIN shared s
        ON s.source_a = ta.source AND s.source_b = tb.source)
    SELECT source_a, source_b, vocab_a, vocab_b,
           CAST(shared_vocab AS BIGINT) AS shared_vocab,
           ROUND(0.5 * (sh + 0.6931471805599453
                 * (2.0 - CAST(sca AS DOUBLE) / na
                        - CAST(scb AS DOUBLE) / nb)), 6) AS jsd_nats,
           ROUND(0.5 * (sh + 0.6931471805599453
                 * (2.0 - CAST(sca AS DOUBLE) / na
                        - CAST(scb AS DOUBLE) / nb))
                 / 0.6931471805599453, 6) AS jsd_norm
    FROM pairs ORDER BY source_a, source_b
    """,
    doc="pairwise Jensen-Shannon divergence between sources' token "
    "distributions (operators/text.py:jsd_source_divergence) — the "
    "symmetric bounded corpus-mixture distance next to the "
    "one-vs-rest KL readouts. Shuffle-light identity: "
    "disjoint-vocabulary mass contributes exactly ln2*(1 - "
    "sum_shared p), and sum_shared p rides EXACT integer count sums, "
    "so the pair join is an INNER join on the shared vocabulary only "
    "(never full-outer/dense); only the log terms are float "
    "(entropy-family discipline, ulps die at round-6; ln2 injected "
    "as the same literal into both engines). One token aggregate + "
    "one vocab self-join + one map-side-combined pair rollup",
)
def jsd_source_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import jsd_source_divergence

    docs = load(spark, sf_dir, "documents")
    return jsd_source_divergence(docs, "source", "text")


def _mmr_oracle(k: int = 10, pool: int = 50) -> str:
    """Unrolled greedy-MMR replay in DuckDB SQL (the ppr/pagerank
    unrolled-CTE discipline: a sequential algorithm becomes k chained
    CTEs). Step 1 is pure relevance; step i scores every remaining
    pool row as 0.7*rel - (1.0 - 0.7)*max(sim to selected) — the
    literals written EXACTLY as the operator computes them — and
    picks the (score DESC, id) argmax."""
    parts = [
        # MATERIALIZED: the unrolled steps reference pool/sims ~2k
        # times; without it DuckDB inlines the parquet scan per
        # reference and exhausts file descriptors (measured: "Too
        # many open files" at k=10)
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v"
        " FROM embeddings),",
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0),",
        "scored AS (SELECT e.vec_id AS id, e.v,"
        " ROUND(list_cosine_similarity(e.v, q.qv), 6) AS rel"
        " FROM e CROSS JOIN q WHERE e.vec_id <> 0),",
        f"pool AS MATERIALIZED (SELECT id, v, rel FROM scored"
        f" ORDER BY rel DESC, id LIMIT {pool}),",
        "sims AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib,"
        " ROUND(list_cosine_similarity(a.v, b.v), 6) AS s"
        " FROM pool a JOIN pool b ON a.id < b.id),",
        "simsym AS MATERIALIZED (SELECT ia AS i, ib AS j, s FROM sims"
        " UNION ALL SELECT ib AS i, ia AS j, s FROM sims),",
        "s1 AS MATERIALIZED (SELECT id, rel, 0.7 * rel AS score"
        " FROM pool ORDER BY 0.7 * rel DESC, id LIMIT 1),",
        "sel1 AS MATERIALIZED (SELECT id, rel, score, 1 AS rank"
        " FROM s1),",
    ]
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        # every step MATERIALIZED (sel_i references sel_(i-1) twice,
        # so inlined CTEs expand the tree ~3^k-fold — measured k=10
        # planner hang), and the max-sim term is a plain join +
        # GROUP BY over the symmetric sims frame (a correlated scalar
        # MAX subquery was measured minutes-slow even materialized)
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT p.id, p.rel,"
            f" 0.7 * p.rel - (1.0 - 0.7) * MAX(ss.s) AS score"
            f" FROM pool p JOIN simsym ss ON ss.i = p.id"
            f" JOIN {prev} t ON t.id = ss.j"
            f" WHERE p.id NOT IN (SELECT id FROM {prev})"
            f" GROUP BY p.id, p.rel"
            f" ORDER BY score DESC, p.id LIMIT 1),"
        )
        parts.append(
            f"sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL"
            f" SELECT id, rel, score, {i} AS rank FROM s{i}),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(rank AS BIGINT) AS rank, id AS vec_id,"
        f" rel AS relevance,"
        f" FLOOR(score * 1000000.0 + 0.5) / 1000000.0 AS mmr_score"
        f" FROM sel{k} ORDER BY rank"
    )
    return "\n".join(parts)


@_q(
    "mmr_rerank_embeddings",
    _mmr_oracle(k=10, pool=50),
    doc="Maximal Marginal Relevance re-ranking of the vec_id=0 query "
    "over the embedding corpus (operators/retrieval.py:mmr_rerank, "
    "Carbonell & Goldstein 1998): cosine top-50 candidate pool cut "
    "by TakeOrderedAndProject (the corpus-sized stage), then the "
    "greedy lam*rel - (1-lam)*max-sim-to-selected selection of k=10 "
    "— relevance/pair sims ROUND to 6 before any comparison "
    "(similarity_topk's convention) with ascending-id tiebreaks, so "
    "the inherently sequential greedy is engine-exact: the oracle "
    "replays it as 10 unrolled argmax CTEs (the ppr unrolled-replay "
    "discipline). Spark collects only the pool + its C(50,2) sims "
    "(the retrieval-family bounded-collect contract)",
)
def mmr_rerank_embeddings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    return mmr_rerank(
        emb.filter(F.col("vec_id") != 0),
        "vec_id",
        "embedding",
        qv,
        k=10,
        pool=50,
        lam=0.7,
    )


@_q(
    "winsorized_orders",
    """
    WITH vals AS (
      SELECT o_orderpriority AS g,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    dist AS (
      SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM vals GROUP BY 1, 2),
    run AS (
      SELECT g, v,
             SUM(c) OVER (PARTITION BY g ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(c) OVER (PARTITION BY g) AS n
      FROM dist),
    lo AS (
      SELECT g, MIN(v) AS blo FROM run
      WHERE cum >= CEIL(n * 10 / 100.0) GROUP BY g),
    hi AS (
      SELECT g, MIN(v) AS bhi FROM run
      WHERE cum >= CEIL(n * 90 / 100.0) GROUP BY g),
    clamped AS (
      SELECT vals.g, GREATEST(LEAST(v, bhi), blo) AS w, blo, bhi
      FROM vals JOIN lo ON lo.g = vals.g JOIN hi ON hi.g = vals.g),
    m AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(blo) AS blo, MIN(bhi) AS bhi,
             SUM(CAST(w AS DECIMAL(38,2))) AS s,
             SUM(CAST(w * w AS DECIMAL(38,4))) AS q
      FROM clamped GROUP BY g)
    SELECT g AS o_orderpriority, n,
           ROUND(CAST(blo AS DOUBLE), 2) AS lower_bound,
           ROUND(CAST(bhi AS DOUBLE), 2) AS upper_bound,
           ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE), 6)
             AS winsorized_mean,
           CASE WHEN n > 1 THEN
             ROUND(SQRT((CAST(n AS DOUBLE)
                         * CAST(CAST(q AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(s AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(s AS VARCHAR) AS DOUBLE))
                        / (CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1))), 6)
           END AS winsorized_std
    FROM m ORDER BY o_orderpriority
    """,
    doc="winsorized mean/std of order value per priority "
    "(operators/relational.py:winsorized_stats): p10/p90 clamping — "
    "the robust-moments companion to trimmed_mean_order_value "
    "(trimming drops the tails and shrinks n; winsorizing caps their "
    "leverage and keeps every vote). Nearest-rank boundaries come "
    "from a running-count crossing over the (group, DISTINCT value) "
    "frame — the weighted_price_quartiles discipline, value-"
    "cardinality-sized windows, never a group sort; cents-exact "
    "DECIMAL moments with VARCHAR-bridge crossings; sample std from "
    "one double expression",
)
def winsorized_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import winsorized_stats

    orders = load(spark, sf_dir, "orders")
    return winsorized_stats(
        orders, ["o_orderpriority"], "o_totalprice", 10, 90
    )


# ---------------------------------------------------------------------------
# Round-10 wave: trend/survival/quasi-experimental inference (Mann-Kendall,
# log-rank, diff-in-diff), agreement & ranking eval (Cohen's kappa, RBO,
# pinball loss), distribution drift (Hellinger/Bhattacharyya, Cramér-von
# Mises), structural DQ (format masks, cent-digit uniformity), and corpus
# growth/diversity (Heaps' law, MATTR).


@_q(
    "mann_kendall_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2),
    q AS (SELECT event_type,
                 CAST(day - DATE '1970-01-01' AS BIGINT) AS t, v
          FROM daily),
    cd AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN (a.t - b.t)::HUGEINT * (a.v - b.v) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN (a.t - b.t)::HUGEINT * (a.v - b.v) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM q a JOIN q b ON a.event_type = b.event_type AND a.t < b.t
      GROUP BY 1),
    vt AS (
      SELECT event_type,
             SUM(tc::HUGEINT * (tc - 1) * (2 * tc + 5)) AS tv,
             CAST(SUM(tc) AS BIGINT) AS n
      FROM (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS tc
            FROM q GROUP BY 1, 2) GROUP BY 1),
    m AS (
      SELECT vt.event_type, n,
             CAST(COALESCE(c, 0) - COALESCE(d, 0) AS BIGINT) AS s_stat,
             ROUND(CAST(CAST(n::HUGEINT * (n - 1) * (2 * n + 5) - tv
                             AS VARCHAR) AS DOUBLE) / 18.0, 6) AS var_s
      FROM vt LEFT JOIN cd USING (event_type) WHERE n >= 2),
    z AS (
      SELECT *, CASE WHEN var_s > 0 THEN
          ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / SQRT(var_s)
                     WHEN s_stat < 0 THEN (s_stat + 1) / SQRT(var_s)
                     ELSE 0.0 END, 6) END AS z
      FROM m)
    SELECT event_type, n, s_stat, var_s, z,
           CASE WHEN z IS NULL THEN NULL
                WHEN z > 1.959963984540054 THEN 'increasing'
                WHEN z < -1.959963984540054 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM z ORDER BY event_type
    """,
    doc="Mann-Kendall monotonic-trend test on daily event counts per "
    "type (operators/series.py:mann_kendall_trend): S = sum of pair "
    "signs over time (= kendall's C - D with x = time, so the "
    "operator REUSES the kendall pair machinery and inherits both the "
    "join lane and the Knight O(n log n) lane + the shared "
    "PAIR_LANE_MAX_GROUP_ROWS guard), tie-corrected Var(S) in "
    "DECIMAL(38,0)/HUGEINT, continuity-corrected z from the ROUNDED "
    "variance, and the 5% two-sided trend call against the injected "
    "NORMAL_QUANTILES literal",
)
def mann_kendall_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import mann_kendall_trend

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").cast("long").alias("v"))
    daily = daily.select(
        "event_type",
        F.datediff("day", F.lit("1970-01-01")).cast("long").alias("t"),
        "v",
    )
    return mann_kendall_trend(daily, ["event_type"], "t", "v")


@_q(
    "logrank_segments",
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
      CROSS JOIN g
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    per_t AS (
      SELECT t,
             CAST(SUM(CASE WHEN seg = 'BUILDING' AND obs
                           THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN seg <> 'BUILDING' AND obs
                           THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(SUM(CASE WHEN seg = 'BUILDING'
                           THEN 1 ELSE 0 END) AS BIGINT) AS l1,
             CAST(SUM(CASE WHEN seg <> 'BUILDING'
                           THEN 1 ELSE 0 END) AS BIGINT) AS l2
      FROM subj GROUP BY 1),
    c2 AS (
      SELECT *, SUM(l1) OVER () AS na, SUM(l2) OVER () AS nb,
             SUM(l1) OVER ()
               - COALESCE(SUM(l1) OVER (ORDER BY t ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
             SUM(l2) OVER ()
               - COALESCE(SUM(l2) OVER (ORDER BY t ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
      FROM per_t),
    terms AS (
      SELECT na, nb, d1, d2,
             (d1 + d2) * (n1 / (n1 + n2)) AS e1,
             CASE WHEN n1 + n2 > 1 THEN
               (d1 + d2) * (n1 / (n1 + n2)) * (1 - n1 / (n1 + n2))
               * ((n1 + n2) - (d1 + d2)) / ((n1 + n2) - 1)
             ELSE 0.0 END AS v
      FROM c2)
    SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(SUM(d1) AS BIGINT) AS events_a,
           CAST(SUM(d2) AS BIGINT) AS events_b,
           ROUND(SUM(e1), 6) AS expected_a,
           ROUND(CASE WHEN SUM(v) > 0 THEN
             SUM(d1 - e1) * SUM(d1 - e1) / SUM(v) END, 6) AS chi2
    FROM terms
    """,
    doc="two-sample log-rank test between the BUILDING and MACHINERY "
    "customer-lifetime curves (operators/relational.py:logrank_test) "
    "— the inference rung over the same subjects km_survival_segments "
    "draws: hypergeometric expected events and variance at each "
    "distinct pooled event time, censored subjects at risk exactly as "
    "long as observed, chi2 = (O-E)^2/V with 1 df. At-risk series "
    "ride cumulative windows over the REDUCED distinct-duration "
    "frame; every count is an exact BIGINT off one (side, duration) "
    "aggregate",
)
def logrank_segments_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import logrank_test

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
    return logrank_test(
        subj, [], "t", "obs", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@_q(
    "kappa_rule_events",
    """
    WITH rated AS (
      SELECT event_type,
             CASE WHEN value < 25 THEN 'low'
                  WHEN value < 75 THEN 'mid' ELSE 'high' END AS a,
             CASE WHEN hour(ts) < 8 THEN 'low'
                  WHEN hour(ts) < 16 THEN 'mid' ELSE 'high' END AS b
      FROM events WHERE value IS NOT NULL),
    cells AS (SELECT event_type, a, b, CAST(COUNT(*) AS BIGINT) AS c
              FROM rated GROUP BY 1, 2, 3),
    rws AS (SELECT event_type, a, CAST(SUM(c) AS BIGINT) AS r
            FROM cells GROUP BY 1, 2),
    cls AS (SELECT event_type, b AS a, CAST(SUM(c) AS BIGINT) AS cl
            FROM cells GROUP BY 1, 2),
    crs AS (SELECT rws.event_type,
                   SUM(r::HUGEINT * cl) AS rc
            FROM rws JOIN cls USING (event_type, a) GROUP BY 1),
    dg AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS diag
           FROM cells WHERE a = b GROUP BY 1),
    tot AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
            FROM cells GROUP BY 1),
    j AS (
      SELECT tot.event_type, n,
             COALESCE(diag, 0) AS diag,
             COALESCE(rc, 0) AS rc
      FROM tot LEFT JOIN dg USING (event_type)
      LEFT JOIN crs USING (event_type)),
    k AS (
      SELECT event_type, n,
             diag / CAST(n AS DOUBLE) AS po,
             CAST(CAST(rc AS VARCHAR) AS DOUBLE)
               / (CAST(n AS DOUBLE) * n) AS pe
      FROM j)
    SELECT event_type, n,
           ROUND(po, 6) AS observed_agreement,
           ROUND(pe, 6) AS expected_agreement,
           ROUND(CASE WHEN pe < 1 THEN (po - pe) / (1 - pe) END, 6)
             AS kappa
    FROM k ORDER BY event_type
    """,
    doc="Cohen's kappa between the value band (fixed 25/75 cuts) and "
    "the time-of-day band per event type "
    "(operators/classify.py:cohens_kappa): chance-corrected agreement "
    "— raw accuracy is inflated by whatever both labelings predict "
    "most, kappa subtracts the marginal-product luck. One (group, a, "
    "b) cell aggregate; marginals re-aggregate the label-cardinality "
    "cell frame; the p_e cross-moment rides DECIMAL(38,0)/HUGEINT "
    "(row*col reaches n^2)",
)
def kappa_rule_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import cohens_kappa

    ev = load_events(spark, sf_dir)
    rated = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.when(F.col("value") < 25, "low")
        .when(F.col("value") < 75, "mid")
        .otherwise("high")
        .alias("value_band"),
        F.when(F.hour("ts") < 8, "low")
        .when(F.hour("ts") < 16, "mid")
        .otherwise("high")
        .alias("time_band"),
    )
    return cohens_kappa(rated, ["event_type"], "value_band", "time_band")


def _rbo_day_rankings_oracle() -> str:
    """RBO oracle with the SAME suffix-weight literals the operator
    injects (rbo_suffix_weights — no pow() in either plan). The
    literals are CAST to DOUBLE explicitly: DuckDB parses a bare
    decimal literal as DECIMAL, whose exact-decimal sum can differ
    from Spark's double sum in the 6th decimal AND whose str() canon
    keeps trailing zeros ('0.493280' vs the float's '0.49328') —
    measured as the one sf0.1 hash mismatch of round 10."""
    from ..operators.retrieval import rbo_suffix_weights

    w = rbo_suffix_weights(0.9, 20)
    weights = (
        "CAST(["
        + ", ".join(repr(x) for x in w)
        + "] AS DOUBLE[])"
    )
    one_minus_p = f"CAST({1.0 - 0.9!r} AS DOUBLE)"
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS mass
      FROM events GROUP BY 1, 2),
    ra AS (
      SELECT event_type, day, rk FROM (
        SELECT event_type, day,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, day) AS rk
        FROM daily) WHERE rk <= 20),
    rb AS (
      SELECT event_type, day, rk FROM (
        SELECT event_type, day,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY mass DESC, day) AS rk
        FROM daily) WHERE rk <= 20),
    shared AS (
      SELECT ra.event_type,
             CAST(COUNT(*) AS BIGINT) AS overlap_k,
             SUM(list_extract({weights},
                 CAST(GREATEST(ra.rk, rb.rk) AS INTEGER))) AS s
      FROM ra JOIN rb ON ra.event_type = rb.event_type
                     AND ra.day = rb.day
      GROUP BY 1),
    ta AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_a
           FROM ra GROUP BY 1),
    tb AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_b
           FROM rb GROUP BY 1)
    SELECT ta.event_type, n_a, n_b,
           COALESCE(overlap_k, 0) AS overlap_k,
           ROUND({one_minus_p} * COALESCE(s, 0.0), 6) AS rbo
    FROM ta JOIN tb USING (event_type)
    LEFT JOIN shared USING (event_type)
    ORDER BY event_type
    """


@_q(
    "rbo_day_rankings",
    _rbo_day_rankings_oracle(),
    doc="Rank-Biased Overlap (Webber/Moffat/Zobel, p=0.9, depth 20) "
    "between each event type's busiest-days ranking (by count) and "
    "its highest-value-days ranking (by micros mass) — "
    "operators/retrieval.py:rbo_overlap. Per shared item the "
    "contribution is the suffix weight W[max(ra, rb)], computed "
    "driver-side and injected as IDENTICAL double literals into both "
    "engines (the NORMAL_QUANTILES discipline — no pow() in any "
    "plan); truncated lower-bound form, zero-overlap groups seated "
    "with rbo = 0 from the per-side totals (the jsd absence "
    "contract)",
)
def rbo_day_rankings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import rbo_overlap

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        ).cast("long").alias("mass"),
    )
    wa = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("day"))
    wb = Window.partitionBy("event_type").orderBy(
        F.desc("mass"), F.asc("day")
    )
    a = (
        daily.withColumn("rank", F.row_number().over(wa))
        .filter(F.col("rank") <= 20)
        .select("event_type", "day", "rank")
    )
    b = (
        daily.withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= 20)
        .select("event_type", "day", "rank")
    )
    return rbo_overlap(a, b, ["event_type"], "day", "rank", p=0.9, k=20)


@_q(
    "hellinger_value_drift",
    """
    WITH ref AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
               // 25000000 AS bin,
             CAST(COUNT(*) AS BIGINT) AS cr
      FROM events
      WHERE value IS NOT NULL AND value >= 0
        AND ts < TIMESTAMP '2024-01-16'
      GROUP BY 1, 2),
    cur AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)
               // 25000000 AS bin,
             CAST(COUNT(*) AS BIGINT) AS cc
      FROM events
      WHERE value IS NOT NULL AND value >= 0
        AND ts >= TIMESTAMP '2024-01-16'
      GROUP BY 1, 2),
    tr AS (SELECT event_type, CAST(SUM(cr) AS BIGINT) AS n_ref
           FROM ref GROUP BY 1),
    tc AS (SELECT event_type, CAST(SUM(cc) AS BIGINT) AS n_cur
           FROM cur GROUP BY 1),
    sh AS (
      SELECT ref.event_type,
             SUM(SQRT(CAST(cr AS DOUBLE) * cc)) AS s
      FROM ref JOIN cur USING (event_type, bin) GROUP BY 1),
    j AS (
      SELECT tr.event_type, n_ref, n_cur,
             COALESCE(s / SQRT(CAST(n_ref AS DOUBLE) * n_cur), 0.0)
               AS bc
      FROM tr JOIN tc USING (event_type)
      LEFT JOIN sh USING (event_type))
    SELECT event_type, n_ref, n_cur,
           ROUND(bc, 6) AS bc,
           ROUND(SQRT(GREATEST(0.0, 1 - bc)), 6) AS hellinger,
           ROUND(CASE WHEN bc > 0 THEN -LN(bc) END, 6) AS bhattacharyya
    FROM j ORDER BY event_type
    """,
    doc="Hellinger/Bhattacharyya drift of the event-value distribution "
    "across the mid-month cutover, per event type "
    "(operators/curation.py:hellinger_drift) — the bounded METRIC "
    "companion to psi_value_drift: true distance in [0,1], no epsilon "
    "floor (disjoint support scores exactly 1). Fixed-width 25-unit "
    "bins on the micros integers (the calibration grid discipline); "
    "BC rides the shared-support INNER join only (zero-count terms "
    "vanish — the jsd identity); counts exact BIGINTs, sqrt terms "
    "summed then round-6",
)
def hellinger_value_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import hellinger_drift

    ev = load_events(spark, sf_dir)
    cutoff = F.lit("2024-01-16").cast("timestamp")
    return hellinger_drift(
        ev.filter(F.col("ts") < cutoff),
        ev.filter(F.col("ts") >= cutoff),
        "value",
        ["event_type"],
        bin_width=25.0,
    )


@_q(
    "cvm_value_drift",
    """
    WITH base AS (
      SELECT CAST(isodow(ts) - 1 AS BIGINT) AS wd, value AS v,
             (event_type = 'click') AS isa
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')),
    per_v AS (
      SELECT wd, v,
             SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN isa THEN 0 ELSE 1 END) AS cb
      FROM base GROUP BY wd, v),
    c AS (
      SELECT wd, v, ca, cb,
             SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb,
             SUM(ca) OVER g AS na, SUM(cb) OVER g AS nb
      FROM per_v
      WINDOW w AS (PARTITION BY wd ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             g AS (PARTITION BY wd)),
    t AS (
      SELECT wd, na, nb,
             CAST(ca + cb AS DOUBLE)
               * (CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb)
               * (CAST(cca AS DOUBLE) / na - CAST(ccb AS DOUBLE) / nb)
               AS term
      FROM c WHERE na > 0 AND nb > 0)
    SELECT wd AS weekday, CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           ROUND(SUM(term)
                 * (CAST(MAX(na) AS DOUBLE) * MAX(nb)
                    / ((MAX(na) + MAX(nb)) * (MAX(na) + MAX(nb)))),
                 6) AS cvm
    FROM t GROUP BY wd ORDER BY wd
    """,
    doc="exact two-sample Cramér-von Mises drift per weekday, click "
    "vs view values (operators/relational.py:cvm_two_sample) — the "
    "whole-distribution companion to ks_value_drift over the SAME "
    "framing: KS reads the single worst ECDF gap, CvM integrates the "
    "squared gap over every pooled observation, so many-small-shifts "
    "drift scores where KS barely moves. Identical machinery: "
    "cumulative INTEGER counts over the distinct pooled values, "
    "windows value-cardinality-sized, gap^2 terms summed then round-6",
)
def cvm_value_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import cvm_two_sample

    ev = load_events(spark, sf_dir)
    base = ev.select(
        F.weekday("ts").cast("long").alias("weekday"),
        "value",
        "event_type",
    )
    return cvm_two_sample(
        base, ["weekday"], "value", "event_type", "click", "view"
    )


@_q(
    "heaps_law_docs",
    """
    WITH tp AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                 ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM tp),
    firsts AS (SELECT tok, MIN(doc_id) AS fd FROM tp GROUP BY 1),
    vcp AS (
      SELECT CASE WHEN hi = lo THEN 10
                  ELSE GREATEST(1, LEAST(10,
                    CAST(CEIL(((fd - lo) * 10) / (hi - lo))
                         AS BIGINT))) END AS cp,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM firsts CROSS JOIN b GROUP BY 1),
    ncp AS (
      SELECT CASE WHEN hi = lo THEN 10
                  ELSE GREATEST(1, LEAST(10,
                    CAST(CEIL(((doc_id - lo) * 10) / (hi - lo))
                         AS BIGINT))) END AS cp,
             CAST(SUM(nt) AS BIGINT) AS n
      FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt
            FROM tp GROUP BY 1) CROSS JOIN b
      GROUP BY 1),
    grid AS (
      SELECT gs.cp,
             CASE WHEN hi = lo THEN hi
                  ELSE lo + CAST(FLOOR((gs.cp * (hi - lo)) / 10)
                                 AS BIGINT) END AS id_hi
      FROM (SELECT unnest(range(1, 11)) AS cp) gs CROSS JOIN b),
    curve AS (
      SELECT g.cp, g.id_hi,
             SUM(COALESCE(v, 0)) OVER (ORDER BY g.cp) AS vocab_cum,
             SUM(COALESCE(n, 0)) OVER (ORDER BY g.cp) AS n_tokens_cum
      FROM grid g LEFT JOIN vcp USING (cp) LEFT JOIN ncp USING (cp)),
    cnz AS (SELECT * FROM curve WHERE n_tokens_cum > 0),
    fit AS (
      SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM (SELECT LN(CAST(n_tokens_cum AS DOUBLE)) AS x,
                   LN(CAST(vocab_cum AS DOUBLE)) AS y FROM cnz)),
    f2 AS (
      SELECT CASE WHEN k * sxx - sx * sx > 0
                  THEN (k * sxy - sx * sy) / (k * sxx - sx * sx)
             END AS beta, k, sx, sy
      FROM fit)
    SELECT CAST(cp AS BIGINT) AS checkpoint,
           CAST(id_hi AS BIGINT) AS id_hi,
           CAST(n_tokens_cum AS BIGINT) AS n_tokens_cum,
           CAST(vocab_cum AS BIGINT) AS vocab_cum,
           ROUND(beta, 6) AS heaps_beta,
           ROUND(EXP((sy - beta * sx) / k), 6) AS heaps_k
    FROM cnz CROSS JOIN f2 ORDER BY 1
    """,
    doc="Heaps'-law vocabulary-growth curve over the documents corpus "
    "(operators/text.py:heaps_law, 10 checkpoints): V = k*N^beta "
    "fitted in ln-space by OLS over the checkpoint frame. NO global "
    "ordered scan — the doc-id range splits into equal-width cuts by "
    "exact integer arithmetic off one min/max aggregate, each token's "
    "FIRST-occurrence doc and each doc's token count bucket by pure "
    "column arithmetic (ceil/floor spelled identically both engines — "
    "a bare long cast would round in one engine and truncate in the "
    "other), cumulative sums ride the K-row grid. The tokenizer-"
    "sizing / synthetic-text readout next to zipf_vocab_fit",
)
def heaps_law_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import heaps_law

    docs = load(spark, sf_dir, "documents")
    return heaps_law(docs, "doc_id", "text", checkpoints=10)


@_q(
    "mask_profile_customers",
    """
    WITH m AS (
      SELECT c_mktsegment,
             CASE WHEN c_name IS NULL THEN '∅'
                  ELSE regexp_replace(regexp_replace(regexp_replace(
                         c_name, '[0-9]', '9', 'g'),
                         '[a-z]', 'a', 'g'),
                         '[A-Z]', 'A', 'g') END AS mask
      FROM customer),
    c AS (SELECT c_mktsegment, mask, CAST(COUNT(*) AS BIGINT) AS n
          FROM m GROUP BY 1, 2),
    r AS (
      SELECT *, SUM(n) OVER (PARTITION BY c_mktsegment) AS tot,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, mask) AS rk
      FROM c)
    SELECT c_mktsegment, mask, n,
           ROUND(CAST(n AS DOUBLE) / tot, 6) AS share,
           CAST(rk AS BIGINT) AS rank
    FROM r WHERE rk <= 3 ORDER BY c_mktsegment, rank
    """,
    doc="format-mask frequency profile of customer names per segment "
    "(operators/dq.py:mask_profile, Potter's-Wheel masks: digits->9, "
    "lower->a, upper->A): the STRUCTURE rung of the DQ family — "
    "catches a second format/ID scheme before any explicit rule "
    "exists for it. One narrow regexp projection in the scan, one "
    "(group, mask) aggregate, top-3 per group by count with the "
    "mask-ascending deterministic tie-break",
)
def mask_profile_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import mask_profile

    cust = load(spark, sf_dir, "customer")
    return mask_profile(cust, ["c_mktsegment"], "c_name", top_n=3)


@_q(
    "digit_uniformity_prices",
    """
    WITH cells AS (
      SELECT o_orderpriority,
             CAST(ABS(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS DECIMAL(18,0))) % 100 AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS cn
      FROM orders WHERE o_totalprice IS NOT NULL
      GROUP BY 1, 2),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY cn DESC, c) AS r
      FROM cells),
    a AS (
      SELECT o_orderpriority,
             CAST(SUM(cn) AS BIGINT) AS n,
             SUM(cn::HUGEINT * cn) AS q,
             CAST(SUM(CASE WHEN c = 0 THEN cn ELSE 0 END)
                  AS BIGINT) AS n00,
             MAX(CASE WHEN r = 1 THEN c END) AS top_cell,
             MAX(CASE WHEN r = 1 THEN cn END) AS topn
      FROM rk GROUP BY 1)
    SELECT o_orderpriority, n,
           ROUND(CAST(CAST(q AS VARCHAR) AS DOUBLE) * 100.0 / n - n, 6)
             AS chi2,
           ROUND(n00 / CAST(n AS DOUBLE), 6) AS share_00,
           CAST(top_cell AS BIGINT) AS top_cell,
           ROUND(topn * 100.0 / n, 6) AS top_cell_lift
    FROM a ORDER BY o_orderpriority
    """,
    doc="last-two-cent-digit uniformity chi2 per order priority "
    "(operators/dq.py:digit_uniformity) — Benford's OTHER end: the "
    "mantissa signature that catches hand-entered amounts (.00/.99 "
    "spikes), single-seed synthetic data, and rounded re-imports, "
    "none of which move the leading digit benford_price_digits "
    "watches. Cents via the DECIMAL(18,2) cast (gini discipline), "
    "chi2 = sum(obs^2)*100/n - n over exact DECIMAL(38,0)/HUGEINT "
    "moments, plus the round-cents share and the top cell's lift vs "
    "the uniform 1%",
)
def digit_uniformity_prices_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import digit_uniformity

    orders = load(spark, sf_dir, "orders")
    return digit_uniformity(orders, ["o_orderpriority"], "o_totalprice")


@_q(
    "did_event_value",
    """
    WITH base AS (
      SELECT event_type, (user_id % 2 = 1) AS t,
             (ts >= TIMESTAMP '2024-01-16') AS p,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    g AS (
      SELECT event_type,
        CAST(SUM(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS ntp0,
        SUM(CASE WHEN t AND NOT p THEN v::HUGEINT END) AS stp0,
        SUM(CASE WHEN t AND NOT p THEN v::HUGEINT * v END) AS qtp0,
        CAST(SUM(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS ntp1,
        SUM(CASE WHEN t AND p THEN v::HUGEINT END) AS stp1,
        SUM(CASE WHEN t AND p THEN v::HUGEINT * v END) AS qtp1,
        CAST(SUM(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)
             AS BIGINT) AS ncp0,
        SUM(CASE WHEN NOT t AND NOT p THEN v::HUGEINT END) AS scp0,
        SUM(CASE WHEN NOT t AND NOT p THEN v::HUGEINT * v END) AS qcp0,
        CAST(SUM(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)
             AS BIGINT) AS ncp1,
        SUM(CASE WHEN NOT t AND p THEN v::HUGEINT END) AS scp1,
        SUM(CASE WHEN NOT t AND p THEN v::HUGEINT * v END) AS qcp1
      FROM base GROUP BY 1),
    m AS (
      SELECT event_type, ntp0, ntp1, ncp0, ncp1,
        (CASE WHEN ntp1 > 0 THEN
           CAST(CAST(stp1 AS VARCHAR) AS DOUBLE) / ntp1 / 1000000.0 END
         - CASE WHEN ntp0 > 0 THEN
           CAST(CAST(stp0 AS VARCHAR) AS DOUBLE) / ntp0 / 1000000.0 END)
        - (CASE WHEN ncp1 > 0 THEN
           CAST(CAST(scp1 AS VARCHAR) AS DOUBLE) / ncp1 / 1000000.0 END
         - CASE WHEN ncp0 > 0 THEN
           CAST(CAST(scp0 AS VARCHAR) AS DOUBLE) / ncp0 / 1000000.0 END)
          AS did,
        SQRT(
          CASE WHEN ntp1 > 1 THEN
            CAST(CAST(ntp1::HUGEINT * qtp1 - stp1 * stp1 AS VARCHAR)
                 AS DOUBLE)
            / (CAST(ntp1 AS DOUBLE) * ntp1 * (ntp1 - 1))
            / 1000000000000.0 END
          + CASE WHEN ntp0 > 1 THEN
            CAST(CAST(ntp0::HUGEINT * qtp0 - stp0 * stp0 AS VARCHAR)
                 AS DOUBLE)
            / (CAST(ntp0 AS DOUBLE) * ntp0 * (ntp0 - 1))
            / 1000000000000.0 END
          + CASE WHEN ncp1 > 1 THEN
            CAST(CAST(ncp1::HUGEINT * qcp1 - scp1 * scp1 AS VARCHAR)
                 AS DOUBLE)
            / (CAST(ncp1 AS DOUBLE) * ncp1 * (ncp1 - 1))
            / 1000000000000.0 END
          + CASE WHEN ncp0 > 1 THEN
            CAST(CAST(ncp0::HUGEINT * qcp0 - scp0 * scp0 AS VARCHAR)
                 AS DOUBLE)
            / (CAST(ncp0 AS DOUBLE) * ncp0 * (ncp0 - 1))
            / 1000000000000.0 END) AS se
      FROM g)
    SELECT event_type,
           ntp0 AS n_treat_pre, ntp1 AS n_treat_post,
           ncp0 AS n_ctrl_pre, ncp1 AS n_ctrl_post,
           ROUND(did, 6) AS did, ROUND(se, 6) AS se,
           ROUND(CASE WHEN se > 0 THEN did / se END, 6) AS t_stat
    FROM m ORDER BY event_type
    """,
    doc="difference-in-differences of event value per type across the "
    "mid-month cutover, treatment = odd user ids "
    "(operators/relational.py:diff_in_diff): (treat_post - treat_pre) "
    "- (ctrl_post - ctrl_pre) with the 4-cell pooled SE — the "
    "quasi-experimental rung next to cuped/ab_readout for when the "
    "split is observed, not randomized. All 4 cells ride ONE "
    "map-side-combined aggregate (conditional sums); micros BIGINTs, "
    "DECIMAL(38,0)/HUGEINT moments, single double expressions",
)
def did_event_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import diff_in_diff

    ev = load_events(spark, sf_dir)
    frame = ev.select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("treat"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).alias(
            "post"
        ),
        "value",
    )
    return diff_in_diff(frame, ["event_type"], "treat", "post", "value")


@_q(
    "pinball_naive_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS mic
      FROM events GROUP BY 1, 2),
    lagd AS (
      SELECT event_type, mic,
             lag(mic) OVER (PARTITION BY event_type ORDER BY day)
               AS fmic
      FROM daily),
    q AS (
      SELECT event_type,
             CAST(FLOOR((mic / 1000000.0) * 1000000 + 0.5) AS BIGINT)
               AS a,
             CAST(FLOOR((fmic / 1000000.0) * 1000000 + 0.5) AS BIGINT)
               AS f
      FROM lagd WHERE fmic IS NOT NULL),
    fanned AS (
      SELECT q.*, tau.tau, tau.pct
      FROM q CROSS JOIN (VALUES (0.5, 50), (0.9, 90)) tau(tau, pct)),
    l AS (
      SELECT event_type, tau,
             CASE WHEN a - f >= 0 THEN pct::HUGEINT * (a - f)
                  ELSE (100 - pct)::HUGEINT * (f - a) END AS loss
      FROM fanned)
    SELECT event_type, tau, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(CAST(SUM(loss) AS VARCHAR) AS DOUBLE)
                 / COUNT(*) / 100.0 / 1000000.0, 6) AS pinball
    FROM l GROUP BY 1, 2 ORDER BY event_type, tau
    """,
    doc="mean pinball (quantile) loss of the naive persistence "
    "forecast (yesterday's daily value mass) at tau = 0.5 and 0.9 per "
    "event type (operators/series.py:pinball_loss) — the scoring rule "
    "for QUANTILE forecasts that forecast_scorecard's MAE/bias cannot "
    "judge. Daily masses are exact micros BIGINTs; tau*100 is an "
    "exact integer factor so every loss term is an exact BIGINT, "
    "summed DECIMAL(38,0)/HUGEINT, ONE double division at the end; "
    "the double round-trip micros -> dollars -> micros is replayed "
    "IDENTICALLY in both engines",
)
def pinball_naive_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import pinball_loss

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        ).cast("long").alias("mic")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = (
        daily.withColumn("actual", F.col("mic") / 1e6)
        .withColumn("forecast", F.lag("mic").over(w) / 1e6)
        .filter(F.col("forecast").isNotNull())
    )
    return pinball_loss(
        scored, ["event_type"], "actual", "forecast", (0.5, 0.9)
    )


@_q(
    "mattr_docs",
    """
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
               ' '), x -> len(x) > 0) AS l
      FROM documents),
    dn AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n
           FROM docs WHERE len(l) > 0),
    toks AS (
      SELECT doc_id, unnest(l) AS tok,
             unnest(range(1, len(l) + 1)) AS pos
      FROM dn),
    spans AS (
      SELECT doc_id, unnest(range(1, CAST(n - 25 + 2 AS BIGINT))) AS s
      FROM dn WHERE n > 25),
    wins AS (
      SELECT t.doc_id, s.s,
             CAST(COUNT(DISTINCT t.tok) AS BIGINT) AS dcnt
      FROM toks t JOIN spans s
        ON s.doc_id = t.doc_id AND t.pos >= s.s AND t.pos < s.s + 25
      GROUP BY 1, 2),
    mv AS (SELECT doc_id, CAST(SUM(dcnt) AS BIGINT) AS sd
           FROM wins GROUP BY 1),
    ttr AS (
      SELECT doc_id, n,
             ROUND(CAST(len(list_distinct(l)) AS BIGINT)
                   / CAST(n AS DOUBLE), 6) AS ttr
      FROM dn)
    SELECT ttr.doc_id, n AS n_tokens, ttr,
           CASE WHEN n <= 25 THEN ttr
                ELSE ROUND(sd / (CAST(n - 24 AS DOUBLE) * 25), 6)
           END AS mattr
    FROM ttr LEFT JOIN mv USING (doc_id)
    """,
    doc="Moving-Average Type-Token Ratio per document, window 25 "
    "(operators/text.py:mattr, Covington & McFall 2010) — the "
    "length-independent lexical-diversity feature next to "
    "repetition_profile: raw TTR inevitably falls with length "
    "(Heaps' law), MATTR averages every sliding 25-token span's TTR. "
    "Spark side is ENTIRELY row-local higher-order array expressions "
    "fused into the scan (zero shuffles, zero UDFs); the oracle "
    "replays it as a position-range join + COUNT DISTINCT — a "
    "genuinely different evaluation strategy, which is what makes "
    "the cross-engine hash meaningful",
)
def mattr_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import mattr

    docs = load(spark, sf_dir, "documents")
    return mattr(docs, "doc_id", "text", window=25)


# ---------------------------------------------------------------------------
# Round-10 wave 2: model-operating-point eval (gains table, PR curve, ECE),
# corpus coverage (char entropy, Good-Turing/Chao1), rate de-noising
# (empirical-Bayes shrinkage), scale-free forecast scoring (MASE), and
# behavioral predictability (transition entropy).


@_q(
    "gains_by_status",
    """
    WITH base AS (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL),
    tiled AS (
      SELECT o_orderstatus, y,
             ntile(10) OVER (PARTITION BY o_orderstatus
                             ORDER BY o_totalprice DESC, o_orderkey)
               AS b
      FROM base),
    per AS (
      SELECT o_orderstatus, b, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS positives
      FROM tiled GROUP BY 1, 2),
    c AS (
      SELECT *,
             SUM(n) OVER (PARTITION BY o_orderstatus ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND
                          CURRENT ROW) AS cn,
             SUM(positives) OVER (PARTITION BY o_orderstatus ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND
                          CURRENT ROW) AS cp,
             SUM(n) OVER (PARTITION BY o_orderstatus) AS tn,
             SUM(positives) OVER (PARTITION BY o_orderstatus) AS tp
      FROM per)
    SELECT o_orderstatus, CAST(b AS BIGINT) AS bucket, n, positives,
           ROUND(positives / CAST(n AS DOUBLE), 6) AS response_rate,
           ROUND(CASE WHEN tp > 0 THEN cp / CAST(tp AS DOUBLE) END, 6)
             AS cum_capture,
           ROUND(CASE WHEN tp > 0 THEN
             (cp / CAST(cn AS DOUBLE)) / (tp / CAST(tn AS DOUBLE))
           END, 6) AS cum_lift
    FROM c ORDER BY o_orderstatus, bucket
    """,
    doc="gains/lift table: order-value deciles per order status "
    "against the urgent/high-priority outcome "
    "(operators/classify.py:gains_table) — the campaign-targeting "
    "readout calibration deliberately is not: how much of the outcome "
    "does the top of the ranking CAPTURE, robust to any monotone "
    "miscalibration. Tile window ordered (score DESC, id ASC) — a "
    "bare score order would make tile boundaries tie-ambiguous "
    "across engines; counts exact BIGINTs, rates/capture/lift single "
    "double expressions",
)
def gains_by_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import gains_table

    orders = load(spark, sf_dir, "orders")
    frame = orders.select(
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("y"),
    )
    return gains_table(
        frame, ["o_orderstatus"], "o_orderkey", "o_totalprice", "y", 10
    )


@_q(
    "pr_curve_events",
    """
    WITH scored AS (
      SELECT LEAST(value / 500.0, 1.0) AS s,
             (event_type = 'purchase') AS y
      FROM events WHERE value IS NOT NULL),
    fanned AS (
      SELECT s, y, t.t AS threshold
      FROM scored CROSS JOIN (
        VALUES (0.1), (0.2), (0.3), (0.4), (0.5), (0.6), (0.7),
               (0.8), (0.9)) t(t)),
    agg AS (
      SELECT threshold,
             CAST(SUM(CASE WHEN s >= threshold THEN 1 ELSE 0 END)
                  AS BIGINT) AS predicted_pos,
             CAST(SUM(CASE WHEN s >= threshold AND y THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s < threshold AND y THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn
      FROM fanned GROUP BY 1),
    m AS (
      SELECT *,
             CASE WHEN predicted_pos > 0
                  THEN tp / CAST(predicted_pos AS DOUBLE) END AS prec,
             CASE WHEN tp + fn > 0
                  THEN tp / CAST(tp + fn AS DOUBLE) END AS rec
      FROM agg)
    SELECT threshold, predicted_pos, tp, fn,
           ROUND(prec, 6) AS precision,
           ROUND(rec, 6) AS recall,
           ROUND(CASE WHEN predicted_pos > 0 AND tp + fn > 0 AND tp > 0
                 THEN 2.0 * (prec * rec) / (prec + rec) END, 6) AS f1
    FROM m ORDER BY threshold
    """,
    doc="precision/recall/F1 at a fixed threshold grid for the "
    "'value predicts a purchase' score "
    "(operators/classify.py:pr_curve) — the operating-point table a "
    "deployed filter's cutoff is picked from, between "
    "calibration_report (is the score a probability) and gains_table "
    "(what does the top capture). Thresholds injected as literals; "
    "rows fan x9 into ONE map-side-combined aggregate (the "
    "pinball/bootstrap bounded-literal-factor shape); empty "
    "denominators NULL, never zero",
)
def pr_curve_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import pr_curve

    ev = load_events(spark, sf_dir)
    scored = ev.filter(F.col("value").isNotNull()).select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("p"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    return pr_curve(scored, [], "p", "y")


@_q(
    "ece_events",
    """
    WITH base AS (
      SELECT CAST(FLOOR(LEAST(value / 500.0, 1.0) * 1000000 + 0.5)
                  AS BIGINT) AS p,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL),
    binned AS (
      SELECT LEAST((p * 20) // 1000000, 19) AS bin, p, y,
             (p - y * 1000000)::HUGEINT * (p - y * 1000000) AS e2
      FROM base),
    b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(p::HUGEINT) AS sp, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(e2) AS q
      FROM binned GROUP BY 1),
    g AS (
      SELECT bin, n, sy, sp, q,
             ABS(sy / CAST(n AS DOUBLE)
                 - CAST(CAST(sp AS VARCHAR) AS DOUBLE) / n / 1000000.0)
               AS gap
      FROM b)
    SELECT CAST(SUM(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(SUM(gap * n) / SUM(n), 6) AS ece,
           ROUND(MAX(gap), 6) AS mce,
           ROUND(CAST(CAST(SUM(q) AS VARCHAR) AS DOUBLE) / SUM(n)
                 / 1000000000000.0, 6) AS brier
    FROM g
    """,
    doc="Expected/Maximum Calibration Error one-row scorecard for the "
    "same score calibration_brier_events diagrams "
    "(operators/classify.py:expected_calibration_error): ECE = "
    "n-weighted mean |observed - predicted| per bin, MCE = the worst "
    "bin, Brier alongside — the number a model gate thresholds on. "
    "Same clamped-micros binning as the report; gaps computed from "
    "the EXACT integer sums, not the rounded display columns",
)
def ece_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import expected_calibration_error

    ev = load_events(spark, sf_dir)
    scored = ev.filter(F.col("value").isNotNull()).select(
        F.least(F.col("value") / 500.0, F.lit(1.0)).alias("p"),
        (F.col("event_type") == "purchase").alias("y"),
    )
    return expected_calibration_error(scored, "p", "y", n_bins=20)


@_q(
    "char_entropy_docs",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
      FROM documents),
    chars AS (
      SELECT doc_id, unnest(string_split(s, '')) AS ch
      FROM norm WHERE len(s) > 0),
    cells AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM chars GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           ROUND(LN(CAST(SUM(c) AS DOUBLE))
                 - SUM(c * LN(CAST(c AS DOUBLE))) / SUM(c), 6)
             AS entropy_nats
    FROM cells GROUP BY doc_id
    """,
    doc="per-document character-level Shannon entropy over the "
    "normalized text (operators/text.py:char_entropy) — the lowest-"
    "level synthetic-text/encoding-damage detector: base64 blobs, "
    "minified code and keyboard mashing show up FIRST in the char "
    "distribution (English prose ~2.8-3.1 nats, uniform base64 ~4.1). "
    "Count-form identity H = ln n - sum(c ln c)/n — one log per "
    "DISTINCT char; the shuffle carries at most |alphabet| rows per "
    "doc",
)
def char_entropy_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import char_entropy

    docs = load(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id", "text")


@_q(
    "vocab_coverage_sources",
    """
    WITH toks AS (
      SELECT source, tok FROM (
        SELECT source,
               unnest(string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                 ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    counts AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS singletons,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS doubletons,
           ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 / CAST(SUM(c) AS DOUBLE), 6) AS gt_unseen_mass,
           ROUND(COUNT(*)
                 + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                   * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                   / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                             + 1)), 6) AS chao1_vocab
    FROM counts GROUP BY source ORDER BY source
    """,
    doc="Good-Turing unseen-vocabulary mass + bias-corrected Chao1 "
    "vocabulary estimate per source "
    "(operators/text.py:vocab_coverage) — 'how much vocabulary "
    "HAVEN'T we seen': Heaps extrapolates from the growth "
    "trajectory, Good-Turing/Chao1 read it off the "
    "singleton/doubleton counts — the corpus-coverage gate before "
    "freezing a tokenizer. Five exact BIGINT moments off one (group, "
    "token) aggregate re-aggregated; the (n2+1) bias-corrected Chao1 "
    "form is defined even with zero doubletons",
)
def vocab_coverage_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import vocab_coverage

    docs = load(spark, sf_dir, "documents")
    return vocab_coverage(docs, ["source"], "text")


@_q(
    "eb_urgent_rates",
    """
    WITH per_cust AS (
      SELECT c.c_mktsegment, c.c_custkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    pool AS (
      SELECT c_mktsegment,
             SUM(k) / CAST(SUM(n) AS DOUBLE) AS pool
      FROM per_cust GROUP BY 1)
    SELECT p.c_mktsegment, p.c_custkey, n, k,
           ROUND(CASE WHEN n > 0 THEN k / CAST(n AS DOUBLE) END, 6)
             AS raw_rate,
           ROUND(pool, 6) AS pooled_rate,
           ROUND((k + 20 * pool) / (n + 20), 6) AS shrunk_rate
    FROM per_cust p JOIN pool USING (c_mktsegment)
    ORDER BY p.c_mktsegment, p.c_custkey
    """,
    doc="empirical-Bayes shrunk per-customer urgent-order rates "
    "within market segments (operators/relational.py:shrunk_rates, "
    "prior strength 20): (k + s*pooled)/(n + s) pulls 1-of-1 "
    "customers toward their segment's pooled rate and lets "
    "high-volume customers keep their data — the variance-control "
    "companion to target_encode_loo's leakage control, and the "
    "standard de-noising before anything RANKS on a per-entity rate. "
    "Pooled rates ride exact BIGINT sums, broadcast back",
)
def eb_urgent_rates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import shrunk_rates

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    per = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "c_custkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                (F.col("o_orderpriority") == "1-URGENT").cast("long")
            ).cast("long").alias("k"),
        )
    )
    return shrunk_rates(
        per, ["c_mktsegment"], ["c_custkey"], "k", "n", prior_strength=20
    )


@_q(
    "mase_persistence_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS mic
      FROM events GROUP BY 1, 2),
    lagd AS (
      SELECT event_type, day, mic,
             lag(mic) OVER (PARTITION BY event_type ORDER BY day)
               AS fmic
      FROM daily),
    q AS (
      SELECT event_type, day,
             CAST(FLOOR((mic / 1000000.0) * 1000000 + 0.5) AS BIGINT)
               AS a,
             CAST(FLOOR((fmic / 1000000.0) * 1000000 + 0.5) AS BIGINT)
               AS f
      FROM lagd),
    withnaive AS (
      SELECT event_type, a, f,
             lag(a, 7) OVER (PARTITION BY event_type ORDER BY day)
               AS nv
      FROM q),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN f IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_scored,
             SUM(CASE WHEN f IS NOT NULL
                      THEN ABS(a - f)::HUGEINT END) AS se,
             CAST(SUM(CASE WHEN nv IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_naive,
             SUM(CASE WHEN nv IS NOT NULL
                      THEN ABS(a - nv)::HUGEINT END) AS sn
      FROM withnaive GROUP BY 1),
    m AS (
      SELECT event_type, n_scored, n_naive,
             CASE WHEN n_scored > 0 THEN
               CAST(CAST(se AS VARCHAR) AS DOUBLE) / n_scored
               / 1000000.0 END AS mae,
             CASE WHEN n_naive > 0 THEN
               CAST(CAST(sn AS VARCHAR) AS DOUBLE) / n_naive
               / 1000000.0 END AS mae_naive
      FROM agg)
    SELECT event_type, n_scored, n_naive,
           ROUND(mae, 6) AS mae,
           ROUND(mae_naive, 6) AS mae_naive,
           ROUND(CASE WHEN mae_naive > 0 THEN mae / mae_naive END, 6)
             AS mase
    FROM m ORDER BY event_type
    """,
    doc="Mean Absolute Scaled Error of the persistence forecast "
    "(yesterday's daily value mass) against the weekly seasonal "
    "naive, per event type (operators/series.py:mase, Hyndman-"
    "Koehler) — the SCALE-FREE forecast score the MAE/RMSE/MAPE "
    "scorecard lacks: MASE < 1 uniformly means 'beats repeating last "
    "week' on every series. Both MAE numerators are exact BIGINT "
    "|diff| sums over micros; one division of two single-division "
    "doubles",
)
def mase_persistence_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import mase

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.sum(
            F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long")
        ).cast("long").alias("mic")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    scored = daily.withColumn("actual", F.col("mic") / 1e6).withColumn(
        "forecast", F.lag("mic").over(w) / 1e6
    )
    return mase(
        scored, ["event_type"], "day", "actual", "forecast", season=7
    )


@_q(
    "transition_entropy_events",
    """
    WITH seq AS (
      SELECT event_type AS s,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nx
      FROM events),
    cells AS (
      SELECT s, nx, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nx IS NOT NULL GROUP BY 1, 2),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY s
                                   ORDER BY c DESC, nx) AS rk
      FROM cells),
    agg AS (
      SELECT s, CAST(SUM(c) AS BIGINT) AS n_transitions,
             CAST(COUNT(*) AS BIGINT) AS distinct_next,
             SUM(c * LN(CAST(c AS DOUBLE))) AS clnc,
             MAX(CASE WHEN rk = 1 THEN nx END) AS top_next,
             MAX(CASE WHEN rk = 1 THEN c END) AS topc
      FROM ranked GROUP BY 1),
    h AS (
      SELECT *, LN(CAST(n_transitions AS DOUBLE))
                - clnc / n_transitions AS hh
      FROM agg)
    SELECT s AS state, n_transitions, distinct_next,
           ROUND(hh, 6) AS entropy_nats,
           ROUND(CASE WHEN distinct_next > 1 THEN
             hh / LN(CAST(distinct_next AS DOUBLE)) END, 6)
             AS entropy_norm,
           top_next,
           ROUND(topc / CAST(n_transitions AS DOUBLE), 6) AS top_share
    FROM h ORDER BY state
    """,
    doc="next-event predictability per event type "
    "(operators/series.py:transition_entropy): Shannon entropy of "
    "the successor distribution off each user's (ts, event_id)-"
    "ordered stream — the entropy rollup OVER "
    "session_transition_matrix ('from THIS state, how predictable is "
    "what happens next'), plus the dominant successor and its share. "
    "Count-form identity, one log per DISTINCT successor; the pair "
    "stream rides one (user, order) sort window",
)
def transition_entropy_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import transition_entropy

    ev = load_events(spark, sf_dir)
    return transition_entropy(
        ev, "user_id", ["ts", "event_id"], "event_type"
    )


# ---------------------------------------------------------------------------
# Round-10 wave 3: source-set geometry (vocabulary overlap), tokenizer
# budget (fertility), effect-size inference (odds ratio / relative risk),
# and k-sample rank inference (Kruskal-Wallis).


@_q(
    "vocab_overlap_pairs",
    """
    WITH vocab AS (
      SELECT DISTINCT source, tok FROM (
        SELECT source,
               unnest(string_split(
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                 ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
               FROM vocab GROUP BY 1),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM vocab a JOIN vocab b
        ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2),
    pairs AS (
      SELECT ta.source AS source_a, tb.source AS source_b,
             ta.v AS vocab_a, tb.v AS vocab_b,
             COALESCE(s.shared, 0) AS shared
      FROM totals ta JOIN totals tb ON ta.source < tb.source
      LEFT JOIN shared s
        ON s.source_a = ta.source AND s.source_b = tb.source)
    SELECT source_a, source_b, vocab_a, vocab_b, shared,
           ROUND(shared / CAST(vocab_a + vocab_b - shared AS DOUBLE), 6)
             AS jaccard,
           ROUND(shared / CAST(vocab_a AS DOUBLE), 6) AS containment_a,
           ROUND(shared / CAST(vocab_b AS DOUBLE), 6) AS containment_b
    FROM pairs ORDER BY source_a, source_b
    """,
    doc="pairwise source-vocabulary overlap "
    "(operators/text.py:vocab_overlap) — the SET-level companion to "
    "jsd_source_docs' distributional distance: Jaccard plus BOTH "
    "directed containments, which catch the subset relationships "
    "Jaccard hides ('src_b is 95% contained in src_a' = remove it "
    "from the mixture). One (source, token) DISTINCT aggregate, one "
    "inner self-join on token, every unordered pair seated from the "
    "m-row totals (the jsd absence discipline)",
)
def vocab_overlap_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import vocab_overlap

    docs = load(spark, sf_dir, "documents")
    return vocab_overlap(docs, "source", "text")


@_q(
    "tokenizer_fertility_sources",
    """
    WITH base AS (
      SELECT source,
             CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                  AS BIGINT) AS w,
             CAST(len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS BIGINT) AS s,
             CAST(length(regexp_replace(text, '\\s', '', 'g'))
                  AS BIGINT) AS c
      FROM documents
      WHERE text IS NOT NULL AND length(trim(text)) > 0)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(s) AS BIGINT) AS subword_tokens,
           ROUND(SUM(s) / CAST(SUM(w) AS DOUBLE), 6) AS fertility,
           ROUND(SUM(c) / CAST(SUM(s) AS DOUBLE), 6)
             AS chars_per_subword
    FROM base GROUP BY source ORDER BY source
    """,
    doc="tokenizer fertility per source "
    "(operators/text.py:tokenizer_fertility): subword tokens per "
    "whitespace word off the repo's deterministic BPE-ish proxy "
    "(letter runs / digit runs / single symbols — text_profile's "
    "counter) — the tokens-per-word budget number every LLM cost "
    "model runs on; a fertility SHIFT between snapshots flags an "
    "upstream encoding regression. One map-side-combined aggregate, "
    "exact BIGINT sums",
)
def tokenizer_fertility_sources_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.text import tokenizer_fertility

    docs = load(spark, sf_dir, "documents")
    return tokenizer_fertility(docs, ["source"], "text")


@_q(
    "odds_ratio_events",
    """
    WITH g AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN user_id % 2 = 1 AND value >= 100
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN user_id % 2 = 1 AND value < 100
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN user_id % 2 = 0 AND value >= 100
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN user_id % 2 = 0 AND value < 100
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM events WHERE value IS NOT NULL GROUP BY 1),
    m AS (
      SELECT event_type, a, b, c, d,
             CASE WHEN b * c > 0 THEN
               CAST(CAST(a::HUGEINT * d AS VARCHAR) AS DOUBLE)
               / CAST(CAST(b::HUGEINT * c AS VARCHAR) AS DOUBLE)
             END AS orr,
             CASE WHEN a + b > 0 AND c + d > 0 AND c > 0 THEN
               (a / CAST(a + b AS DOUBLE))
               / (c / CAST(c + d AS DOUBLE))
             END AS rr,
             CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
               SQRT(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
             END AS se
      FROM g)
    SELECT event_type,
           a + b AS n_exposed, c + d AS n_unexposed, a, c,
           ROUND(orr, 6) AS odds_ratio,
           ROUND(rr, 6) AS relative_risk,
           ROUND(EXP(CASE WHEN orr > 0 THEN LN(orr) END
                     - 1.959963984540054 * se), 6) AS ci_lo,
           ROUND(EXP(CASE WHEN orr > 0 THEN LN(orr) END
                     + 1.959963984540054 * se), 6) AS ci_hi
    FROM m ORDER BY event_type
    """,
    doc="2x2 odds ratio + relative risk with the Woolf log-CI per "
    "event type, exposure = odd user ids, outcome = value >= 100 "
    "(operators/relational.py:odds_ratio) — the effect-SIZE rung "
    "next to chi2/woe ('2.4x the odds, CI [1.8, 3.2]' is the number "
    "a decision uses). Four cells in ONE conditional aggregate; "
    "cross products in DECIMAL(38,0)/HUGEINT (a*d reaches n^2); z "
    "injected as the NORMAL_QUANTILES literal; zero cells -> NULL "
    "CI, not a silent Haldane correction",
)
def odds_ratio_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import odds_ratio

    ev = load_events(spark, sf_dir)
    frame = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("exposed"),
        (F.col("value") >= 100).alias("outcome"),
    )
    return odds_ratio(frame, ["event_type"], "exposed", "outcome")


@_q(
    "kruskal_event_values",
    """
    WITH base AS (
      SELECT CAST(isodow(ts) - 1 AS BIGINT) AS wd, value AS v,
             event_type AS cls
      FROM events WHERE value IS NOT NULL),
    cells AS (
      SELECT wd, v, cls, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3),
    per_v AS (
      SELECT wd, v, CAST(SUM(c) AS BIGINT) AS tv
      FROM cells GROUP BY 1, 2),
    rv AS (
      SELECT wd, v, tv,
             COALESCE(SUM(tv) OVER (PARTITION BY wd ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS cum
      FROM per_v),
    rv2 AS (SELECT wd, v, cum + (tv + 1) / 2.0 AS avgrank FROM rv),
    pc AS (
      SELECT c.wd, c.cls, CAST(SUM(c.c) AS BIGINT) AS n_c,
             SUM(c.c * r.avgrank) AS r
      FROM cells c JOIN rv2 r ON r.wd = c.wd AND r.v = c.v
      GROUP BY 1, 2),
    ties AS (
      SELECT wd, SUM(tv::HUGEINT * tv * tv - tv) AS t3t,
             CAST(SUM(tv) AS BIGINT) AS n
      FROM per_v GROUP BY 1),
    ag AS (
      SELECT wd, CAST(COUNT(*) AS BIGINT) AS k_classes,
             SUM(r * r / n_c) AS rr
      FROM pc GROUP BY 1),
    m AS (
      SELECT t.wd, n, k_classes,
             12.0 / (CAST(n AS DOUBLE) * (n + 1)) * rr - 3.0 * (n + 1)
               AS h,
             1.0 - CAST(CAST(t3t AS VARCHAR) AS DOUBLE)
                   / (CAST(n AS DOUBLE) * n * n - n) AS corr
      FROM ties t JOIN ag USING (wd))
    SELECT wd AS weekday, n, k_classes,
           ROUND(h, 6) AS h_stat,
           ROUND(CASE WHEN corr > 0 THEN h / corr END, 6)
             AS h_corrected
    FROM m ORDER BY weekday
    """,
    doc="Kruskal-Wallis H across the five event types per weekday "
    "(operators/relational.py:kruskal_wallis) — the k-sample "
    "extension of mannwhitney_click_error: rank-based k-way 'same "
    "distribution?' with average ranks + the standard tie "
    "correction. Mann-Whitney reduced-frame discipline verbatim: "
    "average ranks derived as cum_before + (tv+1)/2 on the "
    "DISTINCT-value frame (exact .0/.5 rationals off integer "
    "cumulative windows — no row-level rank window anywhere); cubic "
    "tie terms in DECIMAL(38,0)/HUGEINT",
)
def kruskal_event_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import kruskal_wallis

    ev = load_events(spark, sf_dir)
    base = ev.filter(F.col("value").isNotNull()).select(
        F.weekday("ts").cast("long").alias("weekday"),
        "value",
        "event_type",
    )
    return kruskal_wallis(base, ["weekday"], "value", "event_type")


# ---------------------------------------------------------------------------
# round-10 wave 4: classifier eval, robust stats, design-based estimation
# ---------------------------------------------------------------------------


@_q(
    "roc_auc_events",
    """
    WITH base AS (
      SELECT CAST(isodow(ts) - 1 AS BIGINT) AS wd,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL),
    per_v AS (
      SELECT wd, v, CAST(SUM(y) AS BIGINT) AS tp,
             CAST(SUM(1 - y) AS BIGINT) AS tn
      FROM base GROUP BY 1, 2),
    r AS (
      SELECT wd, tp, tn,
             COALESCE(SUM(tp + tn) OVER (PARTITION BY wd ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS c
      FROM per_v),
    r2 AS (
      SELECT wd, tp, tn,
             tp::HUGEINT * (2 * c + tp + tn + 1) AS r2p
      FROM r),
    ag AS (
      SELECT wd, CAST(SUM(tp) AS BIGINT) AS n_pos,
             CAST(SUM(tn) AS BIGINT) AS n_neg,
             SUM(r2p) AS r2p
      FROM r2 GROUP BY 1),
    m AS (
      SELECT wd, n_pos, n_neg,
             CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               CAST(r2p - n_pos::HUGEINT * (n_pos + 1) AS DOUBLE)
               / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
             END AS auc
      FROM ag)
    SELECT wd AS weekday, n_pos, n_neg,
           ROUND(auc, 6) AS auc,
           ROUND(2.0 * auc - 1.0, 6) AS gini
    FROM m ORDER BY weekday
    """,
    doc="exact tie-aware ROC AUC of value as a purchase score per "
    "weekday (operators/classify.py:roc_auc) — the threshold-free "
    "rung of the classifier-eval ladder next to pr_curve (fixed "
    "thresholds), calibration_brier (probability quality) and "
    "gains_by_status (lift): AUC = the Mann-Whitney U normalized by "
    "n_pos*n_neg, so it rides that operator's reduced-frame "
    "discipline verbatim — midranks as (2c+t+1)/2 exact integers on "
    "the DISTINCT-score frame, 2x rank sums in DECIMAL(38,0)/"
    "HUGEINT, no row-level rank window",
)
def roc_auc_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classify import roc_auc

    ev = load_events(spark, sf_dir)
    frame = ev.filter(F.col("value").isNotNull()).select(
        F.weekday("ts").cast("long").alias("weekday"),
        "value",
        (F.col("event_type") == "purchase").alias("y"),
    )
    return roc_auc(frame, ["weekday"], "value", "y")


@_q(
    "jarque_bera_values",
    """
    WITH base AS (
      SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    ag AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(v::HUGEINT) AS s1,
             SUM(v::HUGEINT * v) AS s2,
             SUM(v::HUGEINT * v * v) AS s3,
             SUM((v::HUGEINT * v) * (v::HUGEINT * v)) AS s4
      FROM base GROUP BY 1),
    m AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) AS nd,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS d1,
             CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS d2,
             CAST(CAST(s3 AS VARCHAR) AS DOUBLE) AS d3,
             CAST(CAST(s4 AS VARCHAR) AS DOUBLE) AS d4
      FROM ag),
    mm AS (
      SELECT event_type, n, nd,
             d1 / nd AS m1,
             d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
             d3 / nd - 3.0 * (d1 / nd) * (d2 / nd)
               + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
             d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)
               + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)
               - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd)
               AS m4
      FROM m),
    st AS (
      SELECT event_type, n, nd, m1, m2,
             CASE WHEN n >= 2 AND m2 > 0
                  THEN m3 / POWER(m2, 1.5) END AS skew,
             CASE WHEN n >= 2 AND m2 > 0
                  THEN m4 / (m2 * m2) END AS kurt
      FROM mm)
    SELECT event_type, n,
           ROUND(m1 / 100.0, 6) AS mean,
           ROUND(skew, 6) AS skewness,
           ROUND(kurt, 6) AS kurtosis,
           ROUND(nd / 6.0 * (skew * skew
                 + (kurt - 3.0) * (kurt - 3.0) / 4.0), 6) AS jb_stat
    FROM st ORDER BY event_type
    """,
    doc="Jarque-Bera normality statistic of value per event type "
    "(operators/series.py:jarque_bera) — JB = n/6*(S^2 + (K-3)^2/4) "
    "off sample skewness and kurtosis: the one-pass moment test "
    "that flags heavy tails before anything assumes Gaussian "
    "(z-score fences, CUPED, power_mde all do). Values quantized to "
    "cents; all four raw power sums exact in DECIMAL(38,0)/HUGEINT "
    "(x^4 crosses 2^63 LONG overflow at ~6e4 rows of 1e5-cent "
    "values); S and K are identical double expressions of exact "
    "integers via the raw-moment identities, scale cancelling. ONE "
    "map-side-combined aggregate — no window, no join",
)
def jarque_bera_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import jarque_bera

    ev = load_events(spark, sf_dir)
    return jarque_bera(ev, ["event_type"], "value")


_DAILY_MEAN_SQL = """
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(value), 6) AS v
      FROM events WHERE value IS NOT NULL
      GROUP BY 1, 2
"""


def _daily_mean_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared bounded rollup for the serial-correlation family: daily
    mean value per event type, the stable_avg discipline + round-6 so
    the downstream DECIMAL(18,6) re-cast is exact on both engines."""
    ev = load_events(spark, sf_dir)
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count("value"),
                6,
            ).alias("v")
        )
    )


@_q(
    "durbin_watson_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    mu AS (
      SELECT event_type,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mu
      FROM daily GROUP BY 1),
    e AS (
      SELECT d.event_type, d.v - mu AS e,
             d.v - mu - LAG(d.v - mu) OVER (
               PARTITION BY d.event_type ORDER BY d.day) AS dd
      FROM daily d JOIN mu USING (event_type)),
    ag AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(e * e) AS sse, SUM(dd * dd) AS ssd
      FROM e GROUP BY 1),
    m AS (
      SELECT event_type, n,
             CASE WHEN n >= 2 AND sse > 0 THEN ssd / sse END AS dw
      FROM ag)
    SELECT event_type, n, ROUND(dw, 6) AS dw,
           ROUND(1.0 - dw / 2.0, 6) AS rho1
    FROM m ORDER BY event_type
    """,
    doc="Durbin-Watson serial-correlation statistic per event type "
    "over the daily mean-value series "
    "(operators/series.py:durbin_watson) — DW = sum((e_t-e_t-1)^2)/"
    "sum(e_t^2) with mean-centered residuals: the residual-"
    "autocorrelation check that says whether acf_daily_values' "
    "lag-1 story survives centering (DW ~ 2(1-rho1)). Fed the "
    "bounded daily rollup (acf contract); means off DECIMAL(18,6) "
    "sums; one lag window over the days-sized frame",
)
def durbin_watson_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import durbin_watson

    daily = _daily_mean_frame(spark, sf_dir)
    return durbin_watson(daily, ["event_type"], "day", "v")


@_q(
    "page_hinkley_daily",
    f"""
    WITH daily AS ({_DAILY_MEAN_SQL}),
    pref AS (
      SELECT event_type, day, v,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS m
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    u AS (
      SELECT event_type, day,
             SUM(v - m - 0.0) OVER w AS u
      FROM pref
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    g AS (
      SELECT event_type, day,
             u - MIN(u) OVER w AS ph
      FROM u
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MAX(ph), 6) AS ph_max,
           MIN(CASE WHEN ph > 25.0 THEN day END) AS alarm_at,
           CAST(SUM(CASE WHEN ph > 25.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_alarms
    FROM g GROUP BY 1 ORDER BY event_type
    """,
    doc="Page-Hinkley mean-shift detector per event type over the "
    "daily mean series (operators/series.py:page_hinkley) — the "
    "sequential cousin of cusum_daily_drift: U_t = prefix sum of "
    "(x - running prefix mean - delta), alarm when U_t - min U "
    "exceeds lambda. delta=0.0 / lambda=25.0 injected into both "
    "plans (NORMAL_QUANTILES discipline); prefix means ride exact "
    "DECIMAL(18,6) prefix sums over the round-6 daily frame, so "
    "both engines fold the identical doubles in the identical ASC "
    "order. Three ordered windows over the days-sized rollup",
)
def page_hinkley_daily_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import page_hinkley

    daily = _daily_mean_frame(spark, sf_dir)
    return page_hinkley(
        daily, ["event_type"], "day", "v", delta=0.0, lam=25.0
    )


@_q(
    "theil_customer_revenue",
    """
    WITH rev AS (
      SELECT c_nationkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS r
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey),
    q AS (
      SELECT c_nationkey AS g,
             CAST(ROUND(r * 100, 0) AS BIGINT) AS v
      FROM rev WHERE r IS NOT NULL),
    ag AS (
      SELECT g,
             CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n,
             CAST(SUM(CASE WHEN v > 0 THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped,
             SUM(CASE WHEN v > 0 THEN v::HUGEINT END) AS s1,
             SUM(CASE WHEN v > 0
                 THEN CAST(v AS DOUBLE) * LN(CAST(v AS DOUBLE)) END)
               AS sxlx,
             SUM(CASE WHEN v > 0 THEN LN(CAST(v AS DOUBLE)) END)
               AS slx
      FROM q GROUP BY 1),
    m AS (
      SELECT g, n, n_dropped,
             CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)
               AS vbar,
             sxlx, slx, CAST(n AS DOUBLE) AS nd
      FROM ag)
    SELECT g AS c_nationkey, n, n_dropped,
           ROUND(CASE WHEN n > 0 THEN vbar / 100.0 END, 6) AS mean,
           ROUND(CASE WHEN n > 0
                 THEN sxlx / (nd * vbar) - LN(vbar) END, 6) AS theil_t,
           ROUND(CASE WHEN n > 0
                 THEN LN(vbar) - slx / nd END, 6) AS theil_l
    FROM m ORDER BY c_nationkey
    """,
    doc="Theil T and L inequality of per-customer revenue within "
    "each nation (operators/relational.py:theil_index) — the "
    "decomposable-entropy rungs next to gini_customer_revenue "
    "(rank-based) and pareto/HHI (concentration): unlike Gini, "
    "Theil decomposes exactly into between+within, which is what "
    "mixture audits report. ONE map-side-combined aggregate (the "
    "identities fold the mean out — no second pass); cents exact in "
    "DECIMAL(38,0)/HUGEINT; the x*ln(x) double folds renormalize by "
    "n*mu so summation-order ulps land ~1e-13 RELATIVE, invisible "
    "at round-6",
)
def theil_customer_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import theil_index

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
    return theil_index(rev, ["c_nationkey"], "r")


