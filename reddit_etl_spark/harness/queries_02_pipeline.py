"""Harness queries (part 2/6): LLM-pipeline waves: curation, sessions, sampling, incremental dedup, multimodal, windows.
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
    round6,
    stable_avg,
)

@_q(
    "heavy_hitters_mg",
    """
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS exact_count
               FROM documents GROUP BY lang),
    n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT lang, exact_count, TRUE AS present_ok, TRUE AS bound_ok
    FROM c, n WHERE exact_count > n / 4.0
    """,
    doc="Misra-Gries heavy hitters (capacity 3 over documents.lang): "
    "mergeable per-partition summaries (mapInPandas, <=capacity "
    "counters each) merged by counter-sum + trim — P x capacity "
    "summary rows replace the exact GROUP BY's full distinct-key "
    "shuffle at 100 TB. The audit emits every value whose TRUE "
    "frequency exceeds N/(capacity+1) (the MG presence guarantee) "
    "with its exact count; present_ok pins the sketch surfacing it, "
    "bound_ok pins est <= true <= est + N/(capacity+1) "
    "(Agarwal et al., Mergeable Summaries, PODS 2012)",
)
def heavy_hitters_mg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import freq_items_mg

    docs = load(spark, sf_dir, "documents")
    capacity = 3
    mg = freq_items_mg(docs, "lang", capacity)
    exact = docs.groupBy("lang").agg(F.count("*").alias("exact_count"))
    n = docs.agg(F.count("*").alias("__n"))
    guaranteed = exact.crossJoin(F.broadcast(n)).filter(
        F.col("exact_count") > F.col("__n") / (capacity + 1.0)
    )
    return (
        guaranteed.join(mg.withColumnRenamed("est_count", "__est"), "lang", "left")
        .select(
            "lang",
            "exact_count",
            F.col("__est").isNotNull().alias("present_ok"),
            (
                F.col("__est").isNotNull()
                & (F.col("__est") <= F.col("exact_count"))
                & (
                    F.col("exact_count") - F.col("__est")
                    <= F.col("__n") / (capacity + 1.0)
                )
            ).alias("bound_ok"),
        )
    )


@_q(
    "interval_session_join",
    """
    WITH e AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type
               FROM events),
    clicks AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
    lagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM clicks WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) - 1 AS session_id
      FROM lagged),
    bounds AS (
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM sess GROUP BY user_id, session_id)
    SELECT e.event_id, e.user_id, e.event_type, e.ts,
           b.session_id, b.session_start
    FROM e JOIN bounds b
      ON e.user_id = b.user_id
     AND e.ts BETWEEN b.session_start AND b.session_end
    """,
    doc="composition: click-only sessionization -> interval join assigning "
    "EVERY event type into its user's click-session window; the range "
    "join runs as bucket-equality hash join + exact BETWEEN post-filter "
    "(no nested-loop product)",
)
def interval_session_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import interval_join
    from ..operators.sessions import session_stats

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click")
    bounds = session_stats(clicks, ["user_id"], "ts", gap="30 minutes").select(
        "user_id", "session_id", "session_start", "session_end"
    )
    points = ev.select("event_id", "user_id", "event_type", "ts")
    return interval_join(
        points, bounds, on=["user_id"], point_ts="ts",
        start_ts="session_start", end_ts="session_end", bucket="1 hour",
    ).select(
        "event_id", "user_id", "event_type", "ts", "session_id", "session_start"
    )


@_q(
    "asof_next_purchase",
    """
    WITH clicks AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value
                    FROM events WHERE event_type = 'click'),
    purchases AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
                  WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS purchase_ts,
           ROUND(p.value, 6) AS purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
    doc="FORWARD as-of join: each click matched to the user's NEXT "
    "purchase at-or-after it (conversion attribution) — same single "
    "union+carry window plan as the backward form with only the sort "
    "direction flipped; oracle is DuckDB's native forward ASOF JOIN",
)
def asof_next_purchase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["ts", "value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.round("value_right", 6).alias("purchase_value"),
    )


@_q(
    "asof_split",
    """
    WITH clicks AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value
                    FROM events WHERE event_type = 'click'),
    purchases AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
                  WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS purchase_ts,
           ROUND(p.value, 6) AS purchase_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
    doc="skew-split as-of join (split='auto': per-(key, time-bucket) "
    "carry windows + synthetic carry-in rows) vs DuckDB's native ASOF "
    "JOIN — same oracle as `asof_next_purchase`, proving the hot-key "
    "path value-identical cross-engine",
)
def asof_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        value_cols=["ts", "value"],
        direction="forward",
        split="auto",
        split_buckets=16,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_right").alias("purchase_ts"),
        F.round("value_right", 6).alias("purchase_value"),
    )


@_q(
    "asof_attribution",
    """
    WITH clicks AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value
                    FROM events WHERE event_type = 'click'),
    views AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events
              WHERE event_type = 'view')
    SELECT c.event_id, c.user_id, c.ts,
           v.ts AS view_ts,
           ROUND(v.value, 6) AS view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
    doc="as-of join (attribution: each click matched to the user's most "
    "recent prior view) via the linear union + carry-forward-window "
    "trick — ONE shuffle over |L|+|R|, no quadratic theta-join; oracle "
    "is DuckDB's native ASOF JOIN",
    headline=True,
)
def asof_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("value").alias("view_value")
    )
    out = asof_join(
        clicks, views, on=["user_id"], left_ts="ts", right_ts="view_ts",
        value_cols=["view_ts", "view_value"],
    )
    return out.select(
        "event_id", "user_id", "ts", "view_ts",
        F.round("view_value", 6).alias("view_value"),
    )


@_q(
    "events_json",
    """
    SELECT event_type,
           AVG(CAST(json_extract(props, '$.k') AS BIGINT)) AS avg_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="semi-structured props extraction (get_json_object) + rollup",
)
def events_json_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_events(spark, sf_dir)
        .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.avg("k").alias("avg_k"), F.max("k").alias("max_k"))
    )


@_q(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    doc="per-group head (row_number <= k) — vectorized form of the "
    "reference's per-post comment cap (script.py:167, SURVEY O5)",
)
def topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import top_k_per_group

    orders = load(spark, sf_dir, "orders").withColumn(
        "__ord", F.struct(F.col("o_totalprice"), (-F.col("o_orderkey")).alias("nk"))
    )
    return top_k_per_group(
        orders, ["o_orderpriority"], "__ord", 3
    ).select("o_orderpriority", "o_orderkey", "o_totalprice")


@_q(
    "curation_pipeline_full",
    """
    WITH RECURSIVE prof AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS tc,
             length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0
                 / length(text) AS pr,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents),
    kept AS (SELECT doc_id, source, tc, nt FROM prof
             WHERE tc >= 20 AND pr <= 0.1),
    ex AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY nt),
    k2 AS (SELECT k.* FROM kept k JOIN ex USING (doc_id)),
    toks AS (SELECT doc_id, string_split(nt, ' ') AS t FROM k2),
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
    comp AS (SELECT n, MIN(r) AS component FROM reach GROUP BY n),
    surv AS (SELECT * FROM k2 WHERE doc_id NOT IN
             (SELECT n FROM comp WHERE component <> n)),
    g5 AS (SELECT s.doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(t.t) - 4, 1) + 1),
             i -> array_to_string(t.t[i:i+4], ' ')))) AS g
           FROM surv s JOIN toks t USING (doc_id)),
    bt AS (SELECT doc_id, string_split(nt, ' ') AS t FROM prof
           WHERE doc_id % 23 = 0),
    bench5 AS (SELECT DISTINCT unnest(list_distinct(list_transform(
                 range(1, greatest(len(t) - 4, 1) + 1),
                 i -> array_to_string(t[i:i+4], ' ')))) AS g FROM bt),
    cont AS (SELECT DISTINCT doc_id FROM g5
             WHERE g IN (SELECT g FROM bench5)),
    clean AS (SELECT * FROM surv WHERE doc_id NOT IN
              (SELECT doc_id FROM cont)),
    binned AS (
      SELECT source, tc,
             CAST(floor(COALESCE(SUM(tc) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 2000) AS BIGINT) AS bin
      FROM clean)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(tc) AS BIGINT) AS token_budget,
           CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins
    FROM binned GROUP BY source
    """,
    doc="the FULL training-data sweep as one Spark plan: quality gate "
    "(length + punctuation ratio) -> exact dedup -> near-dup cluster "
    "removal (Jaccard>=0.5, min-id survivor) -> benchmark "
    "decontamination (5-gram, doc_id%23 bench) -> per-source token "
    "budget + packed 2000-token bin count; every stage is an operator "
    "oracle-verified standalone, composed here end-to-end",
)
def curation_pipeline_full_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import decontaminate, pack_sequences
    from ..operators.dedup import exact_dedup, ngram_jaccard_pairs
    from ..operators.graph import connected_components, dedup_survivors
    from ..operators.text import punct_count_col, token_count_col

    docs = load(spark, sf_dir, "documents")
    kept = (
        docs.withColumn("tc", token_count_col("text"))
        .withColumn("pr", punct_count_col("text") / F.length("text"))
        .filter((F.col("tc") >= 20) & (F.col("pr") <= 0.1))
        .select("doc_id", "source", "text", "tc")
    )
    k2 = kept.join(
        exact_dedup(kept, "doc_id", ["text"]).select("doc_id"), "doc_id",
        "left_semi",
    )
    pairs = ngram_jaccard_pairs(k2, "doc_id", "text", n=3, threshold=0.5)
    comps = connected_components(pairs, "id_a", "id_b")
    surv = dedup_survivors(k2, comps, "doc_id")
    bench = docs.filter(F.col("doc_id") % 23 == 0)
    contaminated = decontaminate(surv, bench, "doc_id", "text", n=5)
    clean = surv.join(contaminated.select("doc_id"), "doc_id", "left_anti")
    packed = pack_sequences(
        clean.select("doc_id", "source", "tc"), "doc_id", "tc", 2000, "source"
    )
    return (
        clean.join(packed.select("doc_id", "bin"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("docs_kept"),
            F.sum("tc").cast("long").alias("token_budget"),
            F.countDistinct("bin").alias("n_bins"),
        )
    )


@_q(
    "curation_pipeline",
    """
    WITH prof AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS tc,
             length(regexp_replace(text, '[\\w\\s]', '', 'g')) * 1.0
                 / length(text) AS pr,
             trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
      FROM documents),
    kept AS (SELECT doc_id, tc, nt FROM prof WHERE tc >= 20 AND pr <= 0.1),
    dedup AS (SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count,
                     MIN(tc) AS tc
              FROM kept GROUP BY nt)
    SELECT CAST(COUNT(*) AS BIGINT)  AS docs_kept,
           CAST(SUM(tc) AS BIGINT)   AS token_budget,
           CAST(SUM(dup_count) - COUNT(*) AS BIGINT) AS dups_removed
    FROM dedup
    """,
    doc="composed curation pipeline: quality gate (length + punctuation "
    "ratio) -> exact content dedup -> corpus token budget, one Spark plan "
    "— the end-to-end training-data sweep shape",
    headline=True,
)
def curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import exact_dedup
    from ..operators.text import punct_count_col, token_count_col

    docs = load(spark, sf_dir, "documents")
    kept = (
        docs.withColumn("tc", token_count_col("text"))
        .withColumn("pr", punct_count_col("text") / F.length("text"))
        .filter((F.col("tc") >= 20) & (F.col("pr") <= 0.1))
    )
    # round-13 opt (guide §2.3/§2.4): tc is constant within a content
    # group (whitespace-insensitive token count of identical
    # normalized text — the oracle itself takes MIN(tc) per group), so
    # it rides the dedup aggregate instead of a second corpus scan
    # (the quality regexes ran twice) + an id-keyed join back.
    survivors = exact_dedup(
        kept, "doc_id", ["text"], extra_aggs=[F.min("tc").alias("tc")]
    )
    return survivors.agg(
        F.count("*").alias("docs_kept"),
        F.sum("tc").alias("token_budget"),
        (F.sum("dup_count") - F.count("*")).cast("long").alias("dups_removed"),
    )


@_q(
    "distinct_parts_skewfree",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="exact COUNT(DISTINCT) via the two-phase skew-free pattern "
    "(distinct on (group, value) spreads hot groups across the cluster "
    "before the per-group count) — operators/skew.py",
)
def distinct_parts_skewfree_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_count_distinct

    li = load(spark, sf_dir, "lineitem")
    return salted_count_distinct(
        li, ["l_returnflag"], "l_partkey", alias="distinct_parts"
    )


@_q(
    "rollup_hierarchy",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
           COALESCE(l_linestatus, 'ALL') AS l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS item_count,
           -- VARCHAR roundtrip: DuckDB's direct decimal->double is
           -- double(hugeint)/10^scale (two roundings, off by 1 ulp
           -- once the unscaled value passes 2^53); string->double is
           -- correctly rounded and matches Spark's BigDecimal cast
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                     AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy totals (flag -> flag+status -> grand total) in "
    "one pass — the partial-aggregation tree Spark shares across "
    "grouping sets (beyond the reference's flat GROUP BYs)",
)
def rollup_hierarchy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    df = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("item_count"),
            # exact decimal: the grand-total row sums all lineitem
            # (3.2e10 at sf0.1)
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "item_count",
            "total_price",
        )
    )
    # no round6: the decimal sum casts to the exact value's nearest
    # double on both engines — quantization has nothing left to do
    return df


@_q(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot (status columns per priority) with explicit pivot values — "
    "no extra pass to discover categories",
)
def pivot_status_by_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .fillna(0)
    )


@_q(
    "topk_global",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """,
    doc="global top-k with total tiebreak — plans as TakeOrderedAndProject "
    "(per-partition heaps, no full sort; reference nlargest script.py:312)",
)
def topk_global_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


@_q(
    "group_percentiles",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="EXACT per-group percentiles (linear interpolation, matching "
    "DuckDB quantile_cont) — the exact complement to the GK approx-"
    "quantile sketch in operators/sketch.py; at 100 TB prefer the "
    "sketch, audit with this",
)
def group_percentiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "lineitem")
    return (
        df.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.percentile("l_extendedprice", 0.25), 6).alias("p25"),
            F.round(F.percentile("l_extendedprice", 0.50), 6).alias("p50"),
            F.round(F.percentile("l_extendedprice", 0.75), 6).alias("p75"),
        )
    )


@_q(
    "ntile_quartiles",
    """
    WITH tiled AS (
      SELECT o_orderpriority, o_totalprice,
             ntile(4) OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders)
    SELECT o_orderpriority, CAST(quartile AS BIGINT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM tiled GROUP BY o_orderpriority, quartile
    """,
    doc="ntile(4) cohort bucketing per priority (deterministic via total "
    "tiebreak on o_orderkey) + per-bucket stats — the W-family operator "
    "the 15-query surface lacks (RANK/argmax are covered by q15/q02)",
)
def ntile_quartiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        df.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@_q(
    "neardup_components",
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
      SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a)
    SELECT n AS doc_id, CAST(MIN(r) AS BIGINT) AS component
    FROM reach GROUP BY n
    """,
    doc="near-dup CLUSTERS from exact Jaccard>=0.5 pairs via iterative "
    "min-label propagation (diameter-bounded rounds, (node,label)-only "
    "shuffles, localCheckpoint lineage truncation); oracle = transitive "
    "closure by recursive CTE",
)
def neardup_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = connected_components(pairs, "id_a", "id_b")
    return comps.select(F.col("node").alias("doc_id"), "component")


@_q(
    "neardup_survivors",
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
    comp AS (SELECT n, MIN(r) AS component FROM reach GROUP BY n)
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT n FROM comp WHERE component <> n)
    """,
    doc="end-to-end near-dup removal: cluster by exact Jaccard>=0.5, "
    "keep the min-id representative per cluster + all singletons "
    "(anti-join on ids, no broadcast hint — loser set is O(corpus) at "
    "web duplicate rates, AQE picks the strategy)",
)
def neardup_survivors_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs
    from ..operators.graph import connected_components, dedup_survivors

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    comps = connected_components(pairs, "id_a", "id_b")
    return dedup_survivors(docs, comps, "doc_id").select("doc_id")


@_q(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
        AND e.ts <= v.t1 + INTERVAL 24 HOURS
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        AND e.ts <= c.t2 + INTERVAL 24 HOURS
      GROUP BY e.user_id),
    lags AS (
      SELECT c.user_id,
             epoch_us(c.t2) - epoch_us(v.t1) AS lag2,
             epoch_us(p.t3) - epoch_us(c.t2) AS lag3
      FROM v JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON c.user_id = p.user_id)
    SELECT * FROM (
      SELECT 1 AS step, 'view' AS event, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(NULL AS DOUBLE) AS avg_lag_us FROM v
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT),
             ROUND(SUM(lag2) * 1.0 / COUNT(lag2), 6) FROM lags
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(t3) AS BIGINT),
             ROUND(SUM(lag3) * 1.0 / COUNT(lag3), 6) FROM lags LEFT JOIN p
             ON lags.user_id = p.user_id WHERE t3 IS NOT NULL)
    """,
    doc="3-step ordered funnel (view -> click -> purchase, each within "
    "24h of the prior step): per-step min-timestamp aggregates chained "
    "by user-key joins; lags in exact integer microseconds so the "
    "averages are summation-order-independent",
)
def funnel_conversion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.join(v, "user_id")
        .filter(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    lags = (
        v.join(c, "user_id")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (F.unix_micros("t2") - F.unix_micros("t1")).alias("lag2"),
            (F.unix_micros("t3") - F.unix_micros("t2")).alias("lag3"),
        )
    )
    s1 = v.agg(
        F.lit(1).alias("step"), F.lit("view").alias("event"),
        F.count("*").alias("n_users"),
        F.lit(None).cast("double").alias("avg_lag_us"),
    )
    s2 = lags.agg(
        F.lit(2).alias("step"), F.lit("click").alias("event"),
        F.count("*").alias("n_users"),
        F.round(F.sum("lag2") / F.count("lag2"), 6).alias("avg_lag_us"),
    )
    s3 = lags.filter(F.col("lag3").isNotNull()).agg(
        F.lit(3).alias("step"), F.lit("purchase").alias("event"),
        F.count("*").alias("n_users"),
        F.round(F.sum("lag3") / F.count("lag3"), 6).alias("avg_lag_us"),
    )
    return s1.unionByName(s2).unionByName(s3)


@_q(
    "retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
      FROM events GROUP BY user_id),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_date,
             date_diff('day', f.cohort_date, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_date, CAST(day_offset AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM active WHERE day_offset <= 7
    GROUP BY cohort_date, day_offset
    """,
    doc="cohort retention matrix: first-seen date per user, distinct "
    "active (user, day-offset) pairs, counts per (cohort, offset<=7); "
    "one user-key shuffle reused by both aggregates",
)
def retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("d")
    )
    firsts = ev.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    active = (
        ev.join(firsts, "user_id")
        .select(
            "user_id", "cohort_date",
            F.datediff("d", "cohort_date").alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    return active.groupBy("cohort_date", F.col("day_offset").cast("long").alias("day_offset")).agg(
        F.count("*").alias("n_users")
    )


@_q(
    "table_profile",
    """
    SELECT 'o_orderkey' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           CAST(MIN(o_orderpriority) AS VARCHAR),
           CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
    doc="one-pass data profiling: per-column row/null/exact-distinct "
    "counts + min/max in a single scan (one aggregate, inline unpivot "
    "of the 1-row result) — the first query against any new data drop",
)
def table_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import column_profile

    orders = load(spark, sf_dir, "orders")
    return column_profile(
        orders, ["o_orderkey", "o_orderstatus", "o_orderpriority"]
    )


@_q(
    "packed_shards",
    """
    WITH t AS (
      SELECT doc_id, source, text,
             len(regexp_split_to_array(trim(text), '\\s+')) AS tokens
      FROM documents),
    b AS (
      SELECT doc_id, source, text, tokens,
             CAST(floor(COALESCE(SUM(tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 2000) AS BIGINT) AS bin
      FROM t)
    SELECT source, bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS text
    FROM b GROUP BY source, bin
    """,
    doc="materialized training shards: pack_sequences bins joined back "
    "to text and concatenated in pack order (array_sort of (order, "
    "text) structs — no second window); the payload a trainer consumes",
)
def packed_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import materialize_packed_text
    from ..operators.text import token_count_col

    docs = load(spark, sf_dir, "documents").withColumn(
        "tokens", token_count_col("text")
    )
    return materialize_packed_text(
        docs, "doc_id", "text", "tokens", budget=2000, group_col="source"
    )


@_q(
    "pack_sequences",
    """
    WITH t AS (
      SELECT doc_id, source,
             len(regexp_split_to_array(trim(text), '\\s+')) AS tokens
      FROM documents),
    b AS (
      SELECT source, tokens,
             CAST(floor(COALESCE(SUM(tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 500) AS BIGINT) AS bin
      FROM t)
    SELECT source, bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY source, bin
    """,
    doc="next-fit sequence packing into 500-token training bins, "
    "parallel per source shard (window cumsum, no sequential loop); "
    "output is the per-bin fill profile",
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import pack_sequences
    from ..operators.text import token_count_col

    docs = load(spark, sf_dir, "documents").withColumn(
        "tokens", token_count_col("text")
    )
    packed = pack_sequences(docs, "doc_id", "tokens", 500, "source")
    return packed.groupBy("source", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
    )


@_q(
    "repetition_profile",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS l
      FROM documents),
    grams AS (
      SELECT doc_id, l,
             list_transform(range(1, greatest(len(l) - 1, 1) + 1),
               i -> array_to_string(l[i:i+1], ' ')) AS bg,
             list_transform(range(1, greatest(len(l) - 2, 1) + 1),
               i -> array_to_string(l[i:i+2], ' ')) AS tg
      FROM base),
    stats AS (
      SELECT doc_id,
             CAST(len(l) AS BIGINT) AS n_tokens,
             ROUND(1.0 - len(list_distinct(l)) * 1.0 / len(l), 6)
               AS dup_unigram_frac,
             ROUND(list_max(list_transform(list_distinct(bg),
                     d -> len(list_filter(bg, x -> x = d)))) * 1.0 / len(bg), 6)
               AS top_bigram_frac,
             ROUND(1.0 - len(list_distinct(tg)) * 1.0 / len(tg), 6)
               AS dup_trigram_frac
      FROM grams)
    SELECT doc_id, n_tokens, dup_unigram_frac, top_bigram_frac,
           dup_trigram_frac,
           (dup_unigram_frac <= 0.6 AND top_bigram_frac <= 0.18
            AND dup_trigram_frac <= 0.4) AS passes_repetition
    FROM stats
    """,
    doc="Gopher-style within-document repetition filters (dup unigram/"
    "trigram fraction, top-bigram share): per-row higher-order array "
    "functions, zero explode, zero shuffle — embarrassingly parallel "
    "over the scan",
)
def repetition_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import repetition_profile

    docs = load(spark, sf_dir, "documents")
    return repetition_profile(docs, "doc_id", "text")


@_q(
    "boilerplate_fraction",
    """
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          ' ') AS l
      FROM base_docs),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(l) - 2, 1) + 1),
               i -> array_to_string(l[i:i+2], ' '))) AS grams
      FROM base),
    g AS (
      SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM sh),
    bp AS (
      SELECT gram, 1 AS is_bp
      FROM (SELECT gram, COUNT(*) AS doc_freq FROM g GROUP BY gram)
      WHERE doc_freq >= 3)
    SELECT g.doc_id,
           CAST(MAX(g.n_grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(SUM(bp.is_bp), 0) AS BIGINT) AS n_boilerplate,
           ROUND(COALESCE(SUM(bp.is_bp), 0) * 1.0 / MAX(g.n_grams), 6)
             AS boilerplate_frac
    FROM g LEFT JOIN bp ON g.gram = bp.gram
    GROUP BY g.doc_id
    """.replace("base_docs", "documents"),
    doc="per-document boilerplate contamination: corpus 3-grams present "
    "in >=3 docs (distinct-per-doc explode -> partial-agg count) "
    "broadcast back against each document's gram set; two scans, no "
    "corpus shuffle in the probe pass",
)
def boilerplate_fraction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import boilerplate_fraction

    docs = load(spark, sf_dir, "documents")
    return boilerplate_fraction(docs, "doc_id", "text", n=3, min_docs=3)


@_q(
    "mixture_weights",
    """
    WITH t AS (
      SELECT source,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                  AS BIGINT) AS tokens
      FROM documents GROUP BY source),
    w AS (
      SELECT source, tokens,
             ROUND(pow(tokens, 0.7)
                   / SUM(pow(tokens, 0.7)) OVER (), 6) AS weight
      FROM t)
    SELECT source, tokens, weight,
           ROUND(1000000 * weight / tokens, 6) AS epochs
    FROM w
    """,
    doc="temperature-scaled training-mixture weights per source "
    "(w = tokens^0.7 / sum tokens^0.7) + implied epochs for a 1M-token "
    "budget: corpus collapses to |sources| rows before the tiny "
    "single-partition normalizer window",
)
def mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import mixture_weights
    from ..operators.text import token_count_col

    docs = load(spark, sf_dir, "documents").withColumn(
        "tokens", token_count_col("text")
    )
    return mixture_weights(
        docs, "source", "tokens", temperature=0.7, target_tokens=1_000_000
    )


@_q(
    "segment_dedup_docs",
    """
    WITH ws AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents WHERE text IS NOT NULL),
    segs AS (
      SELECT doc_id, g - 1 AS pos,
             array_to_string(w[(g-1)*10+1 : (g-1)*10+10], ' ') AS seg
      FROM ws, LATERAL (
        SELECT UNNEST(generate_series(
          1, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS g) t),
    marked AS (
      SELECT doc_id, pos, seg,
             COUNT(*) OVER (PARTITION BY k) AS occ,
             ROW_NUMBER() OVER (PARTITION BY k
                                ORDER BY doc_id, pos) AS rn
      FROM (SELECT doc_id, pos, seg,
                   lower(trim(regexp_replace(seg, '\\s+', ' ', 'g'))) AS k
            FROM segs)),
    rebuilt AS (
      SELECT doc_id,
             COALESCE(string_agg(seg, ' ' ORDER BY pos)
                      FILTER (WHERE occ = 1 OR rn = 1), '')
               AS text_deduped,
             CAST(COUNT(*) AS BIGINT) AS n_segments,
             CAST(COUNT(*) FILTER (WHERE occ > 1 AND rn > 1) AS BIGINT)
               AS n_removed
      FROM marked GROUP BY doc_id)
    SELECT d.doc_id, r.text_deduped,
           CAST(COALESCE(r.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
    doc="CCNet-style corpus-wide segment dedup with document "
    "reassembly (operators/dedup.py:segment_dedup): every 10-word "
    "window hashed across the WHOLE corpus, duplicated segments keep "
    "only the globally first (doc_id, pos) occurrence, and each "
    "document is stitched back together from its surviving segments "
    "in order. Document text never shuffles: pass 1 moves only "
    "(id, pos, xxhash64) tuples, the kill list regroups into one "
    "small removed-positions array per affected doc, and a final "
    "id-equi-join + map-side higher-order filter rebuilds the text "
    "at the scan site — two hash-sized shuffles + one id join at any "
    "corpus size",
    headline=True,
)
def segment_dedup_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import segment_dedup

    docs = load(spark, sf_dir, "documents")
    return segment_dedup(
        docs, "doc_id", "text", words_per_segment=10, keep="first"
    )


_KCORE_ITER = """
    k{i} AS MATERIALIZED (
      SELECT a FROM e{p} GROUP BY a
      HAVING COUNT(*) >= (SELECT k FROM kk)),
    e{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{p} e
      JOIN k{i} x ON e.a = x.a
      JOIN k{i} y ON e.b = y.a)"""

_KCORE_ORACLE = (
    """
    WITH ed AS MATERIALIZED (
      SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                      's:' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    e0 AS MATERIALIZED (
      SELECT a, b FROM (
        SELECT src AS a, dst AS b FROM ed
        UNION
        SELECT dst AS a, src AS b FROM ed)
      WHERE a <> b),
    kk AS MATERIALIZED (
      SELECT GREATEST((COUNT(*) // COUNT(DISTINCT a)) * 9 // 16, 1)
        AS k FROM e0),"""
    + ",".join(
        _KCORE_ITER.format(i=i, p=i - 1) for i in range(1, 5)
    )
    + """
    SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e4 GROUP BY a
    """
)


@_q(
    "kcore_cust_supp",
    _KCORE_ORACLE,
    doc="k-core of the undirected customer-supplier co-purchase graph "
    "(operators/graph.py:kcore) at a DATA-DERIVED threshold "
    "k = (2E div N) * 9 div 16 —9/16 of the integer mean degree, "
    "which peels a meaningful fraction of nodes at every SF instead "
    "of pinning a magic constant that goes trivial as density grows. "
    "4 fixed peel rounds, each dropping every node with fewer than k "
    "surviving neighbors plus its edges; peeling is idempotent at its "
    "fixpoint, so a fixed round count is bit-deterministic and "
    "oracle-replayable (the fixed-iteration PageRank/HITS "
    "discipline). Per round: one map-side-combined degree agg + two "
    "semi-joins, all shuffles on (node, node) pairs; the edge frame "
    "shrinks monotonically and lineage is cut every round",
)
def kcore_cust_supp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore

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
    # data-derived threshold: 9/16 of the integer mean degree of the
    # undirected simple graph, in the same integer arithmetic the
    # oracle uses ((2E div N) * 9 div 16) — one tiny scalar action
    # before the peel loop
    und = edges.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).union(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    ).filter(F.col("a") != F.col("b")).distinct()
    row = und.agg(
        F.count("*").alias("e2"), F.count_distinct("a").alias("n")
    ).first()
    # clamp to 1: a graph with integer mean degree 1 would derive
    # k=0, which kcore rejects while the oracle would keep all nodes
    k = max((row["e2"] // row["n"]) * 9 // 16, 1)
    return kcore(edges, k=k, rounds=4)


@_q(
    "decayed_engagement",
    """
    WITH ev AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             value, event_id
      FROM events),
    mx AS (SELECT MAX(ts_s) AS now FROM ev),
    dec AS (
      SELECT user_id,
             ROUND(SUM(value * POWER(
               0.5, ((SELECT now FROM mx) - ts_s) / 604800.0)), 6)
               AS decayed_value,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM ev GROUP BY user_id),
    r AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts_s, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM ev),
    ew AS (
      SELECT user_id,
             ROUND(SUM(CASE WHEN rn = 1 THEN POWER(0.7, n - 1) * value
                            ELSE 0.3 * POWER(0.7, n - rn) * value END),
                   6) AS ewma
      FROM r GROUP BY user_id)
    SELECT d.user_id, d.decayed_value, d.n_events, e.ewma
    FROM dec d JOIN ew e USING (user_id)
    """,
    doc="recency-weighted engagement per user "
    "(operators/series.py:decayed_sum + ewma_last): half-life decay "
    "(one-week, 0.5^(age/hl) on integer-second ages) gives the "
    "trending score, and the closed-form EWMA (alpha=0.3, seeded at "
    "the first observation, every exponent nonnegative so weights "
    "only shrink — no rescaled-window blowup on long series) gives "
    "the smoothed current level. Each is one map-side-combined "
    "groupBy / one key-partitioned window over a single shuffle; the "
    "as-of instant is MAX(ts), injectable (D3)",
)
def decayed_engagement_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import decayed_sum, ewma_last

    ev = load_events(spark, sf_dir)
    dec = decayed_sum(
        ev, "user_id", "ts", "value", half_life_s=7 * 86400
    )
    # order the EWMA on FLOORED seconds + event_id, exactly like the
    # oracle: ordering by the sub-second ts would rank same-second
    # events by microseconds where the oracle ranks them by event_id
    # — a latent cross-engine divergence (floor-of-epoch rule)
    ew = ewma_last(
        ev.withColumn("ts_s", F.floor(F.unix_timestamp("ts"))),
        "user_id",
        ["ts_s", "event_id"],
        "value",
        alpha=0.3,
    )
    return dec.join(ew.select("user_id", "ewma"), "user_id")


@_q(
    "events_sliding_distinct",
    """
    WITH ev AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
      FROM events),
    wins AS (
      SELECT user_id, ((t // 1800) - i) * 1800 AS ws
      FROM ev CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS i) g
      WHERE ((t // 1800) - i) * 1800 > t - 7200)
    SELECT make_timestamp(ws * 1000000) AS window_start,
           make_timestamp((ws + 7200) * 1000000) AS window_end,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM wins GROUP BY ws
    """,
    doc="2-hour windows hopping every 30 minutes over the event stream "
    "(operators/series.py:sliding_window_rollup): every event lands "
    "in exactly 4 windows (F.window replicates rows into covering "
    "windows BEFORE the shuffle), each window counts exact distinct "
    "users + events — one map-side-combined groupBy at a bounded 4x "
    "replication; at higher duration/slide ratios the agg switches "
    "to the mergeable HLL sketch so copies stay bytes, not id sets. "
    "Window assignment on integer-second boundaries matches the "
    "floor-of-epoch oracle exactly (window starts are multiples of "
    "the slide)",
)
def events_sliding_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import sliding_window_rollup

    ev = load_events(spark, sf_dir)
    return sliding_window_rollup(
        ev,
        "ts",
        "2 hours",
        "30 minutes",
        [
            F.count_distinct("user_id").cast("long").alias("distinct_users"),
            F.count("*").cast("long").alias("n_events"),
        ],
    )


@_q(
    "entity_golden_parts",
    """
    WITH RECURSIVE names AS (
      SELECT DISTINCT p_name FROM part),
    pairs AS (
      SELECT a.p_name AS id_a, b.p_name AS id_b
      FROM names a
      JOIN names b
        ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
       AND a.p_name < b.p_name
      WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 6)
            >= 0.88),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    reach(n, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a),
    comp AS (SELECT n, MIN(r) AS root FROM reach GROUP BY n),
    labeled AS (
      SELECT pt.p_name, pt.p_retailprice, pt.p_size,
             COALESCE(c.root, pt.p_name) AS cluster
      FROM part pt LEFT JOIN comp c ON pt.p_name = c.n)
    SELECT cluster,
           CAST(COUNT(DISTINCT p_name) AS BIGINT) AS n_variants,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS avg_price,
           CAST(MAX(p_size) AS BIGINT) AS max_size
    FROM labeled GROUP BY cluster
    """,
    doc="entity resolution to GOLDEN RECORDS over the part catalog "
    "(operators/graph.py:resolve_entities): Jaro-Winkler blocked "
    "pairs (>= 0.88, first-token blocking — never the cross product) "
    "become clusters by min-label connected components, singletons "
    "keep their own id, and each cluster collapses to one canonical "
    "row (variant count, member count, stable-avg price, max size). "
    "Survivorship is caller-supplied aggregates, not baked-in "
    "policy; CC shuffles (node,label) pairs only and records join "
    "the label table once",
)
def entity_golden_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jw_blocked_pairs
    from ..operators.graph import resolve_entities

    part = load(spark, sf_dir, "part")
    names = (
        part.select("p_name")
        .distinct()
        .select(F.col("p_name").alias("name_id"), "p_name")
    )
    pairs = jw_blocked_pairs(names, "name_id", "p_name", threshold=0.88)
    return resolve_entities(
        part,
        "p_name",
        pairs.select("id_a", "id_b"),
        [
            F.count_distinct("p_name").cast("long").alias("n_variants"),
            F.count("*").cast("long").alias("n_parts"),
            stable_avg("p_retailprice").alias("avg_price"),
            F.max("p_size").cast("long").alias("max_size"),
        ],
    )


@_q(
    "bloom_semi_lineitem",
    """
    WITH keys AS (
      SELECT DISTINCT o_orderkey FROM orders
      JOIN customer ON o_custkey = c_custkey
      WHERE c_nationkey = 0)
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
           TRUE AS bloom_exact,
           TRUE AS bloom_pruned
    FROM lineitem JOIN keys ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """,
    doc="Bloom-pruned semi-join (operators/skew.py:bloom_semi_join): "
    "lineitem rows restricted to nation-0 customers' orders. The "
    "filter builds DISTRIBUTED (per-64-bit-word BIT_OR aggregation; "
    "driver/broadcast memory = bits/8 bytes by PARAMETER, never key "
    "count), broadcasts once, and an Arrow kernel drops non-matching "
    "rows AT THE SCAN before any shuffle; the surviving sliver exact-"
    "verifies through a plain semi-join, so the result equals the "
    "un-pruned semi-join bit-for-bit. Audit booleans baked into the "
    "hash: bloom_exact = pruned+verified equals the plain semi-join "
    "row count; bloom_pruned = the no-verify stream's false positives "
    "stay within 5x the analytic (1-e^(-kn/bits))^k rate applied to "
    "the PROBE side — a bound that holds at any SF because the "
    "filter is sized to the key count (16 bits/key, >= 2^20) and the "
    "allowance scales with the rows actually probed (no false "
    "negatives by construction)",
)
def bloom_semi_lineitem_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    from ..operators.skew import bloom_semi_join, build_bloom

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")
    keys = (
        orders.join(
            customer, orders["o_custkey"] == customer["c_custkey"]
        )
        .filter(F.col("c_nationkey") == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # size the filter to the key count (16 bits/key, >= 2^20) so the
    # FP rate stays ~constant as SF grows, and build it ONCE — the
    # same (arr, bits, k) serves the probe and both audits
    n_keys = keys.count()
    bits = 1 << max(20, _math.ceil(_math.log2(max(16 * n_keys, 2))))
    filt = build_bloom(keys, "l_orderkey", bits=bits, k=5)
    pruned = bloom_semi_join(
        lineitem, keys, "l_orderkey", verify=False, prebuilt=filt
    ).localCheckpoint(eager=False)
    got = pruned.join(keys, "l_orderkey", "semi")
    # audits: exactness vs the plain semi-join, and pruning power —
    # the FP allowance scales with the PROBE side (expected FPs =
    # fp_rate x non-matching rows), not the match count, so the bound
    # holds at any SF; 5x headroom over the analytic rate
    exact_n = lineitem.join(keys, "l_orderkey", "semi").count()
    big_n = lineitem.count()
    got_n = got.count()
    pruned_n = pruned.count()
    fp_rate = (1.0 - _math.exp(-5.0 * n_keys / bits)) ** 5
    bloom_exact = bool(got_n == exact_n)
    bloom_pruned = bool(
        pruned_n <= exact_n + 5.0 * fp_rate * big_n + 64
    )
    return got.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
        F.lit(bloom_exact).alias("bloom_exact"),
        F.lit(bloom_pruned).alias("bloom_pruned"),
    )


@_q(
    "events_daily_melt",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(*) FILTER (WHERE event_type = 'error')
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1)
    SELECT day, metric, value
    FROM daily UNPIVOT (value FOR metric IN (n_events, n_users, n_errors))
    """,
    doc="wide-to-long reshape (melt / UNPIVOT) of the daily event "
    "rollup via Spark's native unpivot: the tidy-data long form "
    "metric stores and plotting layers consume. Zero extra shuffle — "
    "unpivot is a narrow row-expansion (x3 here) on top of the "
    "rollup's one aggregate exchange; ids stay columns, measure "
    "names become data",
)
def events_daily_melt_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("long")
        .alias("n_errors"),
    )
    return daily.unpivot(
        ["day"], ["n_events", "n_users", "n_errors"], "metric", "value"
    )


@_q(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           -- VARCHAR roundtrips: the scale-6 sum_charge's UNSCALED
           -- value passes 2^53 around sf0.2, where DuckDB's direct
           -- decimal->double (double(hugeint)/10^scale, two
           -- roundings) drifts 1 ulp from Spark's correctly-rounded
           -- BigDecimal cast; string->double is correctly rounded
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                     AS VARCHAR) AS DOUBLE)
             AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(3,2)))
                     AS VARCHAR) AS DOUBLE)
             AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l_discount AS DECIMAL(3,2))
                    * CAST(1 + l_tax AS DECIMAL(3,2)))
                     AS VARCHAR) AS DOUBLE)
             AS sum_charge,
           ROUND(ROUND(SUM(l_quantity), 6) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           ROUND(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE)
                 / COUNT(*), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 pricing summary over lineitem: the canonical "
    "wide-aggregate scan — one map-side-combined groupBy on two "
    "low-cardinality keys, the ship-date filter pushed to the scan. "
    "Money sums accumulate as EXACT decimals (a double sum of the "
    "3-factor charge reaches ~2.3e10 at sf0.1, where ulp ~5e-6 makes "
    "the 6th decimal order-dependent; DECIMAL(12,2) x DECIMAL(3,2) "
    "products stay within 38-digit exact arithmetic on both engines) "
    "and only the final identical value casts to double; averages "
    "divide the exact sum in double (round-sum-then-divide rule)",
)
def tpch_q1_pricing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("2001-09-01").cast("date")
    )
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    dfac = (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
    tfac = (F.lit(1) + F.col("l_tax")).cast("decimal(3,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.sum(ep).cast("double").alias("sum_base_price"),
        F.sum(ep * dfac).cast("double").alias("sum_disc_price"),
        F.sum(ep * dfac * tfac).cast("double").alias("sum_charge"),
        F.round(
            F.round(F.sum("l_quantity"), 6) / F.count("*"), 6
        ).alias("avg_qty"),
        F.round(
            F.sum(ep).cast("double") / F.count("*"), 6
        ).alias("avg_price"),
        F.round(
            F.sum(F.col("l_discount").cast("decimal(3,2)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_disc"),
        F.count("*").cast("long").alias("count_order"),
    )


@_q(
    "tpch_q3_priority",
    """
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
             AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '2000-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '2000-03-15'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shipping priority: segment-filtered 3-way join "
    "(customer filter pushed to the scan; customer/orders sides "
    "shrink before the lineitem join, AQE free to broadcast the "
    "filtered build side), revenue rollup per open order, global "
    "top-10 via TakeOrderedAndProject with a full deterministic "
    "tie-break (revenue desc, date, orderkey)",
)
def tpch_q3_priority_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("2000-03-15").cast("date")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("2000-03-15").cast("date")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            "l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                6,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@_q(
    "tpch_q5_region",
    """
    SELECT n.n_name,
           -- VARCHAR roundtrip = correctly-rounded decimal->double
           -- (matches Spark; DuckDB's direct cast drifts 1 ulp past
           -- an unscaled 2^53)
           CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - l.l_discount AS DECIMAL(3,2)))
                     AS VARCHAR) AS DOUBLE)
             AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 local-supplier volume: the 6-way star join — "
    "region/nation/supplier collapse to broadcastable dims, the "
    "local-supplier condition (customer and supplier share a nation) "
    "rides the lineitem join, date range pushed to the orders scan; "
    "one final map-side-combined rollup per nation",
)
def tpch_q5_region_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            # exact decimal product sum: nation-level revenue reaches
            # ~1e9 at sf0.1 where a double sum's 6th decimal is
            # order-dependent (the tpch_q1 discipline)
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@_q(
    "tpch_q4_priority_exists",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: correlated EXISTS -> LEFT SEMI join "
    "(ref analysis.sql has no subquery forms; this closes the "
    "semi-join gap the Bloom variant approximates). The testdata "
    "lacks l_commitdate/l_receiptdate, so 'late' is adapted to "
    "l_returnflag='R' — the relational shape (date-filtered fact, "
    "dedup-free EXISTS via semi join, priority rollup) is the "
    "capability. Plan: the date filter pushes to the orders scan, "
    "the semi join shuffles only (orderkey) pairs and short-circuits "
    "per match — no DISTINCT materialization of the inner side",
)
def tpch_q4_priority_exists_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
    )


@_q(
    "tpch_q18_large_orders",
    """
    SELECT c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_totalprice,
           CAST(q.total_qty AS BIGINT) AS total_qty
    FROM orders o
    JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 300) q
      ON q.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY q.total_qty DESC, o.o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape: large-volume orders — IN-subquery over a "
    "grouped HAVING, rewritten as a join against the aggregated "
    "keys (Catalyst's own rewrite of IN (SELECT..GROUP BY..HAVING)). "
    "Quantity sums are integers (exact in double); top-100 ordered "
    "desc with the unique orderkey tiebreak compiles to "
    "TakeOrderedAndProject — no global sort materializes. The "
    "having filter reduces the build side to ~1% of orders BEFORE "
    "either join; customer attaches last so only winners join it",
)
def tpch_q18_large_orders_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    q = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("long").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(q, o["o_orderkey"] == q["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(100)
    )


@_q(
    "tpch_q21_waiting_supplier",
    """
    WITH l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem WHERE l_returnflag = 'R'),
    lall AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lall l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l1 l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape: suppliers who kept orders waiting — the "
    "hardest classic relational pattern, a SEMI + ANTI self-join "
    "chain on the same fact ('another supplier contributed to this "
    "order' EXISTS, 'no other supplier was late on it' NOT EXISTS). "
    "Adapted to the testdata: 'late' = l_returnflag='R' (no "
    "commit/receipt dates). Both correlated subqueries compile to "
    "LEFT SEMI / LEFT ANTI joins on (orderkey, suppkey) pairs "
    "deduplicated FIRST — the shuffled payload is distinct pairs, "
    "never raw lineitem; the 100-row supplier dim broadcasts; the "
    "self-join inequality rides the orderkey equi-key. Top-20 with "
    "name tiebreak -> TakeOrderedAndProject",
    headline=True,
)
def tpch_q21_waiting_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    # Round-13 optimization (guide §2.4/§3): the SEMI + ANTI self-join
    # chain re-keyed the dedup'd pair set on l_orderkey three times —
    # 4 fact-derived shuffles total. The EXISTS/NOT-EXISTS pair is a
    # per-order aggregate in disguise: 'another supplier touched this
    # order' == n_supp(order) >= 2, 'no OTHER supplier was late on
    # it' == n_r_supp(order) == 1 (the candidate row itself is the
    # one). Repartition the 3-column fact projection by l_orderkey
    # ONCE; the pair dedup (subset-key clustering), the per-order
    # window counts, and the qualifying filter all ride that single
    # exchange — zero further fact shuffles. Prior shape measured
    # 23 AQE stages / ~11 MB dominant-stage shuffle at sf0.1; the
    # rewrite shuffles the raw projection once (TPC-H pairs are
    # ~distinct per lineitem row, so the lost map-side pair dedup
    # costs ~nothing; a heavily pair-duplicated fact would want the
    # groupBy-first shape back).
    w = Window.partitionBy("l_orderkey")
    pairs = (
        li.select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("__has_r")
        )
    )
    cand = (
        pairs.select(
            "l_orderkey",
            "l_suppkey",
            "__has_r",
            F.count("*").over(w).alias("__n_supp"),
            F.sum("__has_r").over(w).alias("__n_r"),
        )
        .filter(
            (F.col("__has_r") == 1)
            & (F.col("__n_supp") >= 2)
            & (F.col("__n_r") == 1)
        )
        .select("l_orderkey", "l_suppkey")
    )
    return (
        cand.join(F.broadcast(s), cand["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@_q(
    "event_value_bars",
    """
    WITH ev AS (
      SELECT event_type, event_id, value,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
      FROM events),
    r AS (
      SELECT event_type, value,
             t - (t % 21600) AS b,
             ROW_NUMBER() OVER (PARTITION BY event_type, t - (t % 21600)
                                ORDER BY t, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, t - (t % 21600)
                                ORDER BY t DESC, event_id DESC) AS rn_d
      FROM ev)
    SELECT event_type,
           make_timestamp(b * 1000000) AS bar_start,
           ROUND(MAX(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MAX(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume,
           ROUND(SUM(value), 6) AS total
    FROM r GROUP BY event_type, b
    """,
    doc="6-hour OHLC bars per event type "
    "(operators/series.py:resample_bars): open/high/low/close/volume "
    "via pure min_by/max_by aggregates over a (floored-second, "
    "event_id) total order — ONE map-side-combined groupBy, no window "
    "pass at all (the oracle spells the same semantics with "
    "row-number windows since DuckDB's arg_min lacks composite "
    "ordering). The downsampling shape metric stores and market-data "
    "rollups use",
)
def event_value_bars_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import resample_bars

    ev = load_events(spark, sf_dir)
    return resample_bars(
        ev, "event_type", "ts", "value", bucket_seconds=21600,
        tie_col="event_id",
    )


@_q(
    "asof_nearest_alignment",
    """
    WITH u AS (
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
             1 AS is_left, event_id, CAST(NULL AS DOUBLE) AS rv
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT), 0, NULL, value
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
    c AS (
      SELECT *,
             last_value(CASE WHEN is_left = 0
                             THEN {'t': t, 'rv': rv} END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY t, is_left, rv NULLS FIRST
                     ROWS UNBOUNDED PRECEDING) AS mb,
             last_value(CASE WHEN is_left = 0
                             THEN {'t': t, 'rv': rv} END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY t DESC, is_left, rv NULLS FIRST
                     ROWS UNBOUNDED PRECEDING) AS mf
      FROM u),
    pick AS (
      SELECT user_id, event_id, t,
             CASE WHEN mb IS NULL THEN mf
                  WHEN mf IS NULL THEN mb
                  WHEN (mf.t - t) < (t - mb.t) THEN mf
                  ELSE mb END AS m
      FROM c WHERE is_left = 1)
    SELECT user_id, event_id AS click_id, m.rv AS purchase_value,
           CAST(ABS(m.t - t) AS BIGINT) AS gap_s
    FROM pick
    """,
    doc="nearest-neighbor as-of alignment "
    "(operators/asof.py:asof_join(direction='nearest')): every click "
    "matched to the CLOSEST purchase of the same user on either side "
    "of the timeline (exact-distance ties go backward, the pandas "
    "merge_asof convention). Both carries run over ONE key "
    "partitioning — two window sorts, one shuffle, |L|+|R| rows, no "
    "candidate blowup; timestamps floored to seconds on both engines "
    "(floor-of-epoch rule)",
)
def asof_nearest_alignment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = load_events(spark, sf_dir)
    sec = F.timestamp_seconds(F.floor(F.unix_timestamp("ts")))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", sec.alias("cts"), F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("pts"), F.col("value").alias("purchase_value")
    )
    # tie_cols: two purchases in the same floored second pick the
    # GREATEST value deterministically on both engines
    out = asof_join(
        clicks, purchases, ["user_id"], "cts", "pts", direction="nearest",
        value_cols=["purchase_value", "pts"], tie_cols=["purchase_value"],
    )
    return out.select(
        "user_id",
        "click_id",
        "purchase_value",
        F.abs(
            F.unix_timestamp("pts") - F.unix_timestamp("cts")
        ).cast("long").alias("gap_s"),
    )


@_q(
    "pit_order_status",
    """
    WITH u0 AS (
      SELECT o_custkey AS k, o_orderdate AS ts, MIN(o_orderstatus) AS status
      FROM orders GROUP BY 1, 2),
    chain AS (
      SELECT c_custkey AS k, TIMESTAMP '1970-01-01' AS ts,
             'NEW' AS status, 0 AS prio
      FROM customer
      UNION ALL SELECT k, ts, status, 1 FROM u0),
    collapsed AS (
      SELECT k, ts, status, prio FROM (
        SELECT k, ts, status, prio,
               lag(status) OVER (PARTITION BY k ORDER BY ts, prio) AS prev
        FROM chain)
      WHERE prev IS NULL OR prev <> status),
    dim AS (
      SELECT k AS c_custkey, status, ts AS valid_from,
             lead(ts) OVER (PARTITION BY k ORDER BY ts, prio) AS valid_to
      FROM collapsed)
    SELECT d.status AS status_at_order,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           -- VARCHAR roundtrip = correctly-rounded decimal->double
           -- (matches Spark; DuckDB's direct cast drifts 1 ulp past
           -- an unscaled 2^53)
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                     AS VARCHAR) AS DOUBLE)
             AS total_price
    FROM orders o JOIN dim d
      ON o.o_custkey = d.c_custkey
     AND o.o_orderdate >= d.valid_from
     AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    GROUP BY d.status
    """,
    doc="point-in-time-correct SCD2 lookup "
    "(operators/scd.py:point_in_time_join): every order joins the "
    "customer-status VERSION valid at its order date — the "
    "feature-store primitive that prevents time travel (rows see the "
    "values that existed at event time, never later corrections). "
    "Implemented as the as-of backward carry on valid_from (one key "
    "shuffle, versions per key are non-overlapping so the latest "
    "start <= ts is the only candidate) + a map-side half-open "
    "validity check; the oracle runs the explicit interval join",
)
def pit_order_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import point_in_time_join, scd2_apply

    current = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.lit("NEW").alias("status"),
        F.to_timestamp(F.lit("1970-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("effective_ts"),
    )
    dim = scd2_apply(current, updates, ["c_custkey"], ["status"])
    facts = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate",
        "o_totalprice",
    )
    pit = point_in_time_join(
        facts, dim, ["c_custkey"], "o_orderdate", value_cols=["status"]
    )
    return pit.groupBy(F.col("status").alias("status_at_order")).agg(
        F.count("*").cast("long").alias("n_orders"),
        # exact DECIMAL accumulation: group sums reach ~1.25e9 where
        # a double sum's 6th decimal is order-dependent (ulp 2.4e-7,
        # ~1e-5 random-walk over 5e5 addends) — the r6 driver-env
        # hash FAIL. Both engines sum the same exact decimal, then
        # cast the identical value to double.
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@_q(
    "cdc_supplier_apply",
    """
    WITH ch AS (
      SELECT l_suppkey AS s_suppkey,
             l_orderkey * 10 + l_linenumber AS seq,
             CASE WHEN l_returnflag = 'R' THEN 'D' ELSE 'U' END AS op,
             ROUND(l_extendedprice, 6) AS new_bal
      FROM lineitem),
    latest AS (
      SELECT * FROM (
        SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY s_suppkey
                                        ORDER BY seq DESC) AS rn
        FROM ch) WHERE rn = 1),
    kept AS (
      SELECT s.s_suppkey, s.s_name, s.s_nationkey,
             ROUND(s.s_acctbal, 6) AS s_acctbal
      FROM supplier s
      WHERE NOT EXISTS (SELECT 1 FROM ch
                        WHERE ch.s_suppkey = s.s_suppkey)),
    upserts AS (
      SELECT s.s_suppkey, s.s_name, s.s_nationkey, l.new_bal AS s_acctbal
      FROM latest l JOIN supplier s ON s.s_suppkey = l.s_suppkey
      WHERE l.op <> 'D')
    SELECT * FROM kept UNION ALL SELECT * FROM upserts
    """,
    doc="change-data-capture apply (operators/scd.py:apply_cdc): a "
    "Debezium-style change batch (full row images + op + sequence) "
    "applied to the supplier snapshot — highest sequence per key "
    "wins, deletes drop the row, untouched keys pass through, and "
    "replaying the batch is idempotent. One window over the CHANGE "
    "batch (never the base), one anti join, one union; the demo "
    "derives changes from lineitem (latest line per supplier updates "
    "the balance; a returned last line deletes the supplier)",
)
def cdc_supplier_apply_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import apply_cdc

    supplier = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey",
        F.round("s_acctbal", 6).alias("s_acctbal"),
    )
    li = load(spark, sf_dir, "lineitem")
    # one lineitem projection carries the full row image — no
    # self-join back for a column the same row already holds
    changes = li.select(
        F.col("l_suppkey").alias("s_suppkey"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("seq"),
        F.when(F.col("l_returnflag") == "R", "D").otherwise("U").alias("op"),
        F.round("l_extendedprice", 6).alias("s_acctbal"),
    ).join(
        supplier.select("s_suppkey", "s_name", "s_nationkey"), "s_suppkey"
    ).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal", "op", "seq")
    return apply_cdc(supplier, changes, ["s_suppkey"], "seq")


@_q(
    "session_journeys",
    """
    WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id,
                      event_type FROM events),
    lagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) - 1
               AS session_id
      FROM lagged),
    j AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY ts, event_id)
               AS journey
      FROM sess GROUP BY user_id, session_id)
    SELECT journey,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j GROUP BY journey
    ORDER BY n_sessions DESC, journey LIMIT 20
    """,
    doc="journey mining (operators/sessions.py:session_journeys): the "
    "top within-session event-type SEQUENCES — path DISCOVERY where "
    "CEP counting answers only known patterns. Sessionize (one key "
    "shuffle shared by both windows), fold each session's ordered "
    "types into a '>'-joined path via sort_array(collect_list) — "
    "per-session memory, no corpus-wide state — then one "
    "map-side-combined journey count and a deterministic "
    "TakeOrderedAndProject top-20 (count desc, journey asc); "
    "same-timestamp steps tie-break on event_id in both engines",
)
def session_journeys_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import session_journeys

    ev = load_events(spark, sf_dir)
    return session_journeys(
        ev, ["user_id"], "ts", "event_type",
        gap="30 minutes", top_k=20, tie_col="event_id",
    )


# Engine-portable synthetic coordinates: uniform-ish lat in [-60, 60)
# and lon in [-180, 180) from md5 top-60 bits of the entity key — the
# same md5_60 idiom every hash-derived oracle query uses, so DuckDB
# reproduces the exact doubles (modulo and division are the same IEEE
# ops on both engines).
def _synth_coord(key: str, salt: str, span_micro: int, offset: float):
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key).cast("string"), F.lit(salt))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(span_micro)) / F.lit(1_000_000.0) - F.lit(offset)


_GEO_COORD_SQL = (
    "((('0x' || substring(md5(CAST({key} AS VARCHAR) || '{salt}'), 1, 15))"
    "::BIGINT % {span}) / 1000000.0 - {off})"
)


@_q(
    "geo_nearest_supplier",
    """
    WITH c AS (
      SELECT c_custkey,
             {clat} AS lat, {clon} AS lon
      FROM customer),
    s AS (
      SELECT s_suppkey,
             {slat} AS lat, {slon} AS lon
      FROM supplier),
    p AS (
      SELECT c.c_custkey, s.s_suppkey,
             ROUND(2 * 6371.0088 * ASIN(SQRT(LEAST(1.0,
               SIN(RADIANS(s.lat - c.lat) / 2) ^ 2
               + COS(RADIANS(c.lat)) * COS(RADIANS(s.lat))
                 * SIN(RADIANS(s.lon - c.lon) / 2) ^ 2))), 6)
               AS distance_km
      FROM c CROSS JOIN s),
    r AS (
      SELECT c_custkey, s_suppkey, distance_km,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY distance_km, s_suppkey) AS rn
      FROM p WHERE distance_km <= 1500.0)
    SELECT c_custkey, s_suppkey, distance_km, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 2
    """.format(
        clat=_GEO_COORD_SQL.format(
            key="c_custkey", salt=":lat", span=120_000_000, off=60
        ),
        clon=_GEO_COORD_SQL.format(
            key="c_custkey", salt=":lon", span=360_000_000, off=180
        ),
        slat=_GEO_COORD_SQL.format(
            key="s_suppkey", salt=":lat", span=120_000_000, off=60
        ),
        slon=_GEO_COORD_SQL.format(
            key="s_suppkey", salt=":lon", span=360_000_000, off=180
        ),
    ),
    doc="grid-pruned spatial KNN join (operators/geo.py:grid_knn_join): "
    "each customer's 2 nearest suppliers within 1500 km by exact "
    "haversine on md5-synthesized coordinates. Spark generates "
    "candidates from a 3x3 degree-grid cell equi-join (9|L| + |R| "
    "cell-keyed rows shuffled, never the |L|x|R| product; lon cells "
    "wrap mod n so the +-180 seam is a plain neighbor) and ranks by "
    "(rounded-6 distance, s_suppkey); the DuckDB oracle is the "
    "EXHAUSTIVE cross join, so every row is also a completeness "
    "proof of the geometric prune bounds (d >= R|dphi|; "
    "d >= (2/pi) R cos(phimax) |dlambda|)",
)
def geo_nearest_supplier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.geo import grid_knn_join

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        _synth_coord("c_custkey", ":lat", 120_000_000, 60.0).alias("lat"),
        _synth_coord("c_custkey", ":lon", 360_000_000, 180.0).alias("lon"),
    )
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _synth_coord("s_suppkey", ":lat", 120_000_000, 60.0).alias("lat"),
        _synth_coord("s_suppkey", ":lon", 360_000_000, 180.0).alias("lon"),
    )
    return grid_knn_join(
        cust, supp, "c_custkey", "s_suppkey",
        radius_km=1500.0, k=2, max_abs_lat=60.0,
    )


@_q(
    "multitouch_channels",
    """
    WITH t AS (
      SELECT user_id, ts::TIMESTAMP AS touch_ts, event_id AS touch_id,
             event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')),
    c AS (
      SELECT user_id, ts::TIMESTAMP AS conv_ts, event_id AS conv_id,
             value AS conv_value
      FROM events WHERE event_type = 'purchase'),
    p AS (
      SELECT c.conv_id, c.conv_value, t.channel, t.touch_id,
             CAST(FLOOR(epoch(c.conv_ts)) AS BIGINT)
               - CAST(FLOOR(epoch(t.touch_ts)) AS BIGINT) AS age_s
      FROM c JOIN t ON t.user_id = c.user_id
        AND t.touch_ts >= c.conv_ts - INTERVAL 3 DAY
        AND t.touch_ts <= c.conv_ts),
    w AS (SELECT *, POWER(0.5, age_s / 86400.0) AS wt FROM p),
    cr AS (
      SELECT conv_id, conv_value, channel,
             ROUND(wt / SUM(wt) OVER (PARTITION BY conv_id), 6) AS credit
      FROM w)
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           ROUND(SUM(credit), 6) AS total_credit,
           ROUND(SUM(credit * conv_value), 6) AS credited_value
    FROM cr GROUP BY channel ORDER BY channel
    """,
    doc="multi-touch attribution (operators/attribution.py): every "
    "click/view in the 3-day lookback before each purchase earns "
    "time-decayed credit (half-life 1 day), normalized per "
    "conversion, rolled up by channel. Pairing is the bucketed "
    "interval join (conversion windows explode to <= 2 lookback-wide "
    "buckets; equi-join on (user, bucket) — no per-user cross join); "
    "normalization is a window keyed by conversion id, state bounded "
    "by in-window touch count. Ages are exact integer seconds; "
    "credits rounded 6 per the cross-engine convention. The as-of "
    "family's asof_attribution answers the LAST-touch special case; "
    "this is the general model",
)
def multitouch_channels_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.attribution import multitouch_attribution

    ev = load_events(spark, sf_dir)
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
    )
    convs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("conv_ts"),
        F.col("event_id").alias("conv_id"),
        F.col("value").alias("conv_value"),
    )
    credited = multitouch_attribution(
        touches, convs, ["user_id"], "touch_ts", "conv_ts",
        "conv_id", "touch_id",
        lookback="3 days", model="time_decay", half_life="1 day",
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.countDistinct("conv_id").cast("long").alias("n_conversions"),
            F.round(F.sum("credit"), 6).alias("total_credit"),
            F.round(F.sum(F.col("credit") * F.col("conv_value")), 6).alias(
                "credited_value"
            ),
        )
        .orderBy("channel")
    )


@_q(
    "session_transition_matrix",
    """
    WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, event_id,
                      event_type FROM events),
    lagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) - 1
               AS session_id
      FROM lagged),
    steps AS (
      SELECT event_type,
             LEAD(event_type) OVER w2 AS nxt,
             ROW_NUMBER() OVER w2 AS rn
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id, session_id
                    ORDER BY ts, event_id)),
    trans AS (
      SELECT event_type AS from_type, COALESCE(nxt, '__END__') AS to_type
      FROM steps
      UNION ALL
      SELECT '__START__', event_type FROM steps WHERE rn = 1),
    cnt AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM trans GROUP BY 1, 2)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
           ROUND(n / SUM(n) OVER (PARTITION BY from_type), 6) AS p
    FROM cnt ORDER BY from_type, to_type
    """,
    doc="first-order Markov transition matrix over within-session "
    "event types with virtual __START__/__END__ states "
    "(operators/sessions.py:session_transitions) — entry points, "
    "drop-off rates, and step probabilities factorized from the same "
    "sessionization journey mining ranks whole paths over. One key "
    "shuffle (sessionize), per-session array fold + zero-shuffle "
    "adjacent-pair transform, one map-side count; the probability "
    "window runs over the (|types|+1)^2 matrix, broadcast-scale "
    "regardless of corpus size. p is exact long/long division "
    "rounded 6",
)
def session_transition_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sessions import session_transitions

    ev = load_events(spark, sf_dir)
    return session_transitions(
        ev, ["user_id"], "ts", "event_type",
        gap="30 minutes", tie_col="event_id",
    )


_BFS_ITER = """
    f{k} AS MATERIALIZED (
      SELECT DISTINCT u.b AS node
      FROM und u JOIN v{p} s ON u.a = s.node AND s.d = {p_hop}
      EXCEPT
      SELECT node FROM v{p}),
    v{k} AS MATERIALIZED (
      SELECT node, d FROM v{p}
      UNION ALL
      SELECT node, {k_hop} AS d FROM f{k})"""

_BFS_ORACLE = (
    """
    WITH pairs AS (
      SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                      's:' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    und AS (
      SELECT src AS a, dst AS b FROM pairs
      UNION
      SELECT dst AS a, src AS b FROM pairs),
    v0 AS (
      SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node, 0 AS d
      FROM supplier WHERE s_suppkey <= 5),"""
    + ",".join(
        _BFS_ITER.format(k=k, p=k - 1, p_hop=k - 1, k_hop=k)
        for k in range(1, 5)
    )
    + """
    SELECT node, CAST(d AS BIGINT) AS dist FROM v4
    """
)


@_q(
    "bfs_purchase_rings",
    _BFS_ORACLE,
    doc="multi-source BFS (operators/graph.py:bfs_distances): minimum "
    "hop distance from the nation-0 supplier cohort over the "
    "undirected customer<->supplier purchase graph, out to 4 hops — "
    "reachability rings / blast radius as one primitive. Per hop one "
    "frontier x edge equi-join (shuffle = the frontier's incident "
    "edges, shrinking as rings saturate), one distinct, one key-sized "
    "anti join; visited frame lazily checkpointed per round against "
    "2^hops plan growth. Integer distances — bit-deterministic, "
    "oracle-replayable (fixed round count like kcore/pagerank)",
)
def bfs_purchase_rings_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_distances

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
    seeds = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 5)
        .select(
            F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias(
                "node"
            )
        )
    )
    return bfs_distances(
        edges, seeds, "node", max_hops=4, directed=False
    )


_WOE_EDGES = ",\n             ".join(
    f"ROUND(quantile_cont(v, {i / 10}), 6) AS e{i - 1}"
    for i in range(1, 10)
)
_WOE_BIN = " + ".join(
    f"(CASE WHEN v >= e{i} THEN 1 ELSE 0 END)" for i in range(9)
)

_WOE_ORACLE = f"""
    WITH base AS MATERIALIZED (
      SELECT o_totalprice AS v,
             (o_orderpriority = '1-URGENT') AS y
      FROM orders WHERE o_totalprice IS NOT NULL),
    edges AS MATERIALIZED (
      SELECT {_WOE_EDGES}
      FROM base),
    binned AS (
      SELECT {_WOE_BIN} AS bin, y FROM base CROSS JOIN edges),
    cnt AS (
      SELECT bin, COUNT(*) AS n,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS ne
      FROM binned GROUP BY 1),
    t AS (
      SELECT bin, n, ne,
             GREATEST(ROUND(ne * 1.0 / SUM(ne) OVER (), 6), 0.0001) AS de,
             GREATEST(ROUND((n - ne) * 1.0 / SUM(n - ne) OVER (), 6),
                      0.0001) AS dn
      FROM cnt)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n AS BIGINT) AS n,
           CAST(ne AS BIGINT) AS n_event,
           ROUND(ROUND(ne * 1.0, 6) / n, 6) AS event_rate,
           de AS dist_event, dn AS dist_nonevent,
           ROUND(LN(de / dn), 6) AS woe,
           ROUND((de - dn) * LN(de / dn), 6) AS iv_term,
           ROUND(SUM(ROUND((de - dn) * LN(de / dn), 6)) OVER (), 6)
             AS iv_total
    FROM t ORDER BY bin
    """


@_q(
    "woe_price_vs_urgent",
    _WOE_ORACLE,
    doc="supervised feature binning (operators/curation.py:"
    "woe_iv_bins): order price in 10 equal-mass bins scored by Weight "
    "of Evidence against the is-urgent label, with the Information "
    "Value decomposition — the scorecard/feature-selection readout "
    "one rung above PSI's unsupervised drift. One exact-percentile "
    "aggregate (edges broadcast), one map-side-combined (bin, label) "
    "count, then arithmetic over <= 10 rows (the unpartitioned "
    "windows run on the bin matrix, bounded by construction). "
    "Distributions round to 6 BEFORE ln so both engines feed "
    "identical doubles into the log",
)
def woe_price_vs_urgent_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import woe_iv_bins

    orders = load(spark, sf_dir, "orders")
    return woe_iv_bins(
        orders, "o_totalprice",
        F.col("o_orderpriority") == "1-URGENT", bins=10,
    )


_DAILY_ROLLUP_SQL = """
      SELECT event_type, CAST(ts AS DATE) AS day,
             ROUND(SUM(value), 6) AS v
      FROM events GROUP BY 1, 2"""


@_q(
    "seasonal_backtest_events",
    f"""
    WITH r AS MATERIALIZED ({_DAILY_ROLLUP_SQL}),
    s AS (
      SELECT a.event_type, a.v AS av, f.v AS fv
      FROM r a JOIN r f
        ON f.event_type = a.event_type AND a.day = f.day + 7)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           ROUND(ROUND(SUM(ABS(av - fv)), 6) / COUNT(*), 6) AS mae,
           ROUND(SQRT(ROUND(SUM((av - fv) * (av - fv)), 6) / COUNT(*)),
                 6) AS rmse,
           ROUND(ROUND(SUM(CASE WHEN av > 0 THEN ABS(av - fv) / av END),
                       6)
                 / COUNT(CASE WHEN av > 0 THEN 1 END), 6) AS mape
    FROM s GROUP BY event_type ORDER BY event_type
    """,
    doc="seasonal-naive forecast backtest (operators/series.py:"
    "seasonal_naive_backtest): predict each day's per-type value "
    "total with the actual from 7 days earlier, score MAE/RMSE/MAPE "
    "per type — the baseline every forecasting model must beat, as a "
    "continuous monitor. One self-join of the DAILY ROLLUP on "
    "(key, day-7) — rollup-sized, never event-sized — plus one "
    "map-side-combined aggregate; error means follow the stable_avg "
    "round-sum-then-divide rule",
)
def seasonal_backtest_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import seasonal_naive_backtest

    ev = load_events(spark, sf_dir)
    rollup = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return seasonal_naive_backtest(
        rollup, ["event_type"], "day", "v", period_days=7
    )


_ACF_ORACLE = (
    f"WITH r AS MATERIALIZED ({_DAILY_ROLLUP_SQL})\n    "
    + "\n    UNION ALL\n    ".join(
        f"""SELECT a.event_type, CAST({lag} AS BIGINT) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CORR(a.v, f.v), 6) AS acf
    FROM r a JOIN r f
      ON f.event_type = a.event_type AND a.day = f.day + {lag}
    GROUP BY a.event_type"""
        for lag in range(1, 8)
    )
    + "\n    ORDER BY event_type, lag"
)


@_q(
    "acf_daily_values",
    _ACF_ORACLE,
    doc="autocorrelation function per event type "
    "(operators/series.py:acf_by_key): Pearson correlation of the "
    "daily value series against itself at lags 1..7 — the "
    "seasonality/persistence diagnostic that picks the "
    "seasonal-naive period worth backtesting. Per lag one "
    "rollup-sized self-join on (key, day-lag) with pairwise-complete "
    "semantics on gappy series; correlations round 6 (the q12 "
    "convention). Each lag is an independent branch over the REDUCED "
    "rollup, never raw events",
)
def acf_daily_values_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import acf_by_key

    ev = load_events(spark, sf_dir)
    rollup = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return acf_by_key(rollup, ["event_type"], "day", "v", max_lag=7)


@_q(
    "itemitem_part_recs",
    """
    WITH r AS MATERIALIZED (
      SELECT o_custkey AS u, l_partkey AS i,
             ROUND(SUM(l_quantity), 6) AS rt
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    norms AS MATERIALIZED (
      SELECT i, ROUND(SUM(rt * rt), 6) AS ss FROM r GROUP BY 1),
    pairs AS (
      SELECT a.i AS ia, b.i AS ib, COUNT(*) AS nc,
             ROUND(SUM(a.rt * b.rt), 6) AS dot
      FROM r a JOIN r b ON a.u = b.u AND a.i < b.i
      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    sym AS (
      SELECT ia AS item, ib AS neighbor, nc, dot FROM pairs
      UNION ALL
      SELECT ib AS item, ia AS neighbor, nc, dot FROM pairs),
    sc AS (
      SELECT item, neighbor, nc,
             ROUND(dot / (SQRT(na.ss) * SQRT(nb.ss)), 6) AS cosine
      FROM sym
      JOIN norms na ON na.i = item
      JOIN norms nb ON nb.i = neighbor),
    rk AS (
      SELECT item, neighbor, nc, cosine,
             ROW_NUMBER() OVER (PARTITION BY item
                                ORDER BY cosine DESC, neighbor) AS rank
      FROM sc)
    SELECT item, neighbor, CAST(nc AS BIGINT) AS n_common, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= 5
    """,
    doc="item-item neighborhood CF (operators/relational.py:"
    "itemitem_topk): each part's 5 most cosine-similar parts by "
    "quantity-weighted co-purchase across customers, min 2 co-buyers "
    "— the 'bought X also bought' model table; affinity answers "
    "lift-vs-chance and ppr random-walk closeness, this ranks by "
    "rating cosine. Pair work = sum_u C(#items_u, 2) (whale-user cap "
    "available), item-keyed norm joins, per-item rank window on "
    "candidates only — never an item x item product. Quantity sums "
    "are integer-valued so every aggregate is exact in double; "
    "cosine rounds 6 before the deterministic (cosine desc, "
    "neighbor) cut",
)
def itemitem_part_recs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import itemitem_topk

    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ratings = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select("o_custkey", "l_partkey", "l_quantity")
    return itemitem_topk(
        ratings, "o_custkey", "l_partkey", "l_quantity",
        k=5, min_common=2,
    )


@_q(
    "skyline_parts",
    """
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice
        AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice
             OR q.p_size > p.p_size))
      AND p.p_size IS NOT NULL AND p.p_retailprice IS NOT NULL
    """,
    doc="2D Pareto skyline (operators/relational.py:skyline_2d): the "
    "parts no other part beats on BOTH price (min) and size (max) — "
    "the multi-objective answer set a single sort key cannot "
    "express. Spark plans it with NO dominance self-join and NO "
    "single-partition window: monotone range-bucketing on the x "
    "axis, per-bucket max-y partials, an exclusive suffix-max over "
    "the <= buckets-row frame (higher bucket implies strictly better "
    "x, so hmax >= y kills outright), and within-bucket dense-rank + "
    "RANGE-frame windows riding ONE bucket-keyed shuffle. The DuckDB "
    "oracle is the quadratic NOT EXISTS dominance test — every green "
    "row proves the bucketed plan against brute force. Exact double "
    "comparisons end to end; no rounding anywhere",
)
def skyline_parts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import skyline_2d

    part = load(spark, sf_dir, "part")
    return skyline_2d(
        part.select("p_partkey", "p_size", "p_retailprice"),
        "p_retailprice", "p_size", x_dir="min", y_dir="max",
    ).select("p_partkey", "p_size", "p_retailprice")


_LPA_ITER = """
    l{k} AS MATERIALIZED (
      SELECT a AS node, label FROM (
        SELECT u.a, l.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY u.a
                                  ORDER BY COUNT(*) DESC, l.label)
                 AS rn
        FROM und u JOIN l{p} l ON u.b = l.node
        GROUP BY u.a, l.label)
      WHERE rn = 1)"""

_LPA_ORACLE = (
    """
    WITH pairs AS (
      SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
                      's:' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    und0 AS (
      SELECT src AS a, dst AS b FROM pairs
      UNION
      SELECT dst AS a, src AS b FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM und0),
    und AS (
      SELECT a, b FROM und0
      UNION
      SELECT node AS a, node AS b FROM nodes),
    l0 AS (SELECT node, node AS label FROM nodes),"""
    + ",".join(_LPA_ITER.format(k=k, p=k - 1) for k in range(1, 5))
    + """
    SELECT node, label FROM l4
    """
)


@_q(
    "lpa_communities",
    _LPA_ORACLE,
    doc="synchronous label propagation, 4 fixed rounds with self-loop "
    "damping (operators/graph.py:label_propagation): locally dense "
    "communities on the customer<->supplier purchase graph — "
    "connected components merges everything reachable, LPA finds the "
    "neighborhoods inside one component. Most-frequent-neighbor-label "
    "votes, ties to the MINIMUM label (a total order: "
    "bit-deterministic, fixed-round oracle-replayable; the self vote "
    "damps sync-LPA's period-2 bipartite oscillation). Per round one "
    "edge x label join + one map-side (node, label) count + one "
    "per-node argmax window; labels checkpointed per round",
)
def lpa_communities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation

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
    return label_propagation(edges, "src", "dst", rounds=4)


@_q(
    "cusum_daily_drift",
    f"""
    WITH r AS MATERIALIZED ({_DAILY_ROLLUP_SQL}),
    st AS (
      SELECT event_type, day, v,
             ROUND(SUM(v) OVER (PARTITION BY event_type), 6)
               / COUNT(v) OVER (PARTITION BY event_type) AS mu,
             ROUND(STDDEV_SAMP(v) OVER (PARTITION BY event_type), 6)
               AS sigma
      FROM r),
    d AS (
      SELECT event_type, day, v,
             CAST(FLOOR((v - mu) * 1000000.0) AS BIGINT) AS dd,
             CAST(FLOOR(sigma * 250000.0) AS BIGINT) AS kk,
             CAST(FLOOR(sigma * 2000000.0) AS BIGINT) AS hh
      FROM st),
    p AS (
      SELECT event_type, day, v, hh,
             SUM(dd - kk) OVER w AS ph,
             SUM(-dd - kk) OVER w AS pl
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
      SELECT event_type, day, v, hh,
             ph - LEAST(CAST(0 AS BIGINT), MIN(ph) OVER w) AS shi,
             pl - LEAST(CAST(0 AS BIGINT), MIN(pl) OVER w) AS slo
      FROM p
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type, day, v,
           ROUND(shi / 1000000.0, 6) AS s_hi,
           ROUND(slo / 1000000.0, 6) AS s_lo,
           COALESCE(shi > hh, FALSE) AS alarm_hi,
           COALESCE(slo > hh, FALSE) AS alarm_lo
    FROM s ORDER BY event_type, day
    """,
    doc="two-sided CUSUM drift monitor per event type "
    "(operators/series.py:cusum_changepoints): Page's cumulative-sum "
    "detector over the daily value rollup with the classic "
    "k=0.25sigma allowance / h=2sigma alarm — catches a sustained "
    "small level shift that the per-point z-score gate "
    "(anomaly_zscore_daily) never trips. The max(0, .) recursion is "
    "window-expressible via its prefix-sum closed form S_t = P_t - "
    "min(0, min_prefix P), so the whole detector is one running SUM "
    "+ one running MIN on a single (key, day) sort — no UDF, no "
    "iteration. Deltas quantize to exact micros BIGINTs before any "
    "running arithmetic (the concurrency_peaks discipline), so "
    "Spark's incremental and DuckDB's segment-tree window "
    "accumulation orders are unobservable",
)
def cusum_daily_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.series import cusum_changepoints

    ev = load_events(spark, sf_dir)
    rollup = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return cusum_changepoints(
        rollup, ["event_type"], "day", "v", h=2.0, k=0.25, relative=True
    )


@_q(
    "benford_price_digits",
    """
    WITH d AS (
      SELECT CAST(regexp_extract(
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
               '[1-9]', 0) AS BIGINT) AS digit
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL
        AND regexp_extract(
              CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR),
              '[1-9]', 0) <> ''),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM d GROUP BY digit),
    exp AS (
      SELECT d.digit, ROUND(LOG10(1.0 + 1.0 / d.digit), 6) AS exp_freq
      FROM (SELECT UNNEST(GENERATE_SERIES(1, 9)) AS digit) d),
    j AS (
      SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs, e.exp_freq,
             SUM(COALESCE(o.n_obs, 0)) OVER () AS n_total
      FROM exp e LEFT JOIN obs o ON o.digit = e.digit)
    SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
           CAST(n_total AS BIGINT) AS n_total,
           ROUND(n_obs / n_total, 6) AS obs_freq,
           exp_freq,
           ROUND((n_obs - n_total * exp_freq)
                 * (n_obs - n_total * exp_freq)
                 / (n_total * exp_freq), 6) AS chi2_part
    FROM j ORDER BY digit
    """,
    doc="Benford first-digit audit of line-item prices "
    "(operators/dq.py:benford_digit_test): observed leading-digit "
    "frequencies vs log10(1+1/d) with per-digit chi-square "
    "contributions — the fabricated/truncated-data smell test for "
    "financial columns. Digits come from the DECIMAL string "
    "rendering, not FLOOR(LOG10()) (ulp cliff at powers of ten; "
    "doubles render differently across engines, decimals exactly); "
    "the chi2 expectation uses the 6dp-rounded Benford constant so "
    "both engines square the same double. One column-pruned "
    "aggregate pass to 9 rows + a broadcast 9-row expected table",
)
def benford_price_digits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import benford_digit_test

    li = load(spark, sf_dir, "lineitem")
    return benford_digit_test(
        li.select(
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
        ),
        "price",
    )


_SSSP_ITER = """
    d{k} AS MATERIALIZED (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM d{p}
        UNION ALL
        SELECT e.b AS node, x.d + e.w AS d
        FROM e JOIN d{p} x ON e.a = x.node)
      GROUP BY node)"""

_SSSP_ORACLE = (
    """
    WITH pe AS (
      SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
             's:' || CAST(l_suppkey AS VARCHAR) AS dst,
             CAST(MIN(l_quantity) AS BIGINT) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2),
    und AS (
      SELECT src AS a, dst AS b, w FROM pe
      UNION ALL
      SELECT dst AS a, src AS b, w FROM pe),
    e AS (
      SELECT a, b, MIN(w) AS w FROM und WHERE a <> b GROUP BY a, b),
    d0 AS (
      SELECT DISTINCT 's:' || CAST(s_suppkey AS VARCHAR) AS node,
             CAST(0 AS BIGINT) AS d
      FROM supplier WHERE s_suppkey <= 5),"""
    + ",".join(_SSSP_ITER.format(k=k, p=k - 1) for k in range(1, 5))
    + """
    SELECT node, CAST(d AS BIGINT) AS dist FROM d4
    """
)


@_q(
    "sssp_purchase_paths",
    _SSSP_ORACLE,
    doc="multi-source weighted shortest paths, bounded Bellman-Ford "
    "(operators/graph.py:shortest_paths): cheapest quantity-weighted "
    "path from the seed supplier cohort over the undirected "
    "customer<->supplier purchase graph within 4 edges — the "
    "cost-aware generalization of bfs_purchase_rings (hops become "
    "weights). Per round one frontier x edges equi-join (relaxation "
    "candidates come only from nodes whose distance improved — "
    "identical result to full relaxation, a fraction of the "
    "shuffle), one map-side MIN, one key-sized full join; state "
    "lazily checkpointed per round. Integer weights -> exact BIGINT "
    "distances, bit-deterministic, replayed by a fixed-depth "
    "unrolled-CTE oracle",
)
def sssp_purchase_paths_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import shortest_paths

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .agg(F.min("l_quantity").cast("long").alias("w"))
    )
    seeds = supplier.where(F.col("s_suppkey") <= 5).select(
        F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias(
            "node"
        )
    )
    return shortest_paths(
        edges, seeds, "node", "src", "dst", "w", rounds=4
    ).select("node", "dist")


@_q(
    "ols_order_value",
    """
    WITH per_order AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(18,2)) AS y,
             CAST(COUNT(*) AS DECIMAL(18,2)) AS x1,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                  AS DECIMAL(18,2)) AS x2
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY 1, 2, 3),
    m AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS DOUBLE) AS s1,
             CAST(SUM(x2) AS DOUBLE) AS s2,
             CAST(SUM(y)  AS DOUBLE) AS sy,
             CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
             CAST(SUM(x1 * x2) AS DOUBLE) AS s12,
             CAST(SUM(x2 * x2) AS DOUBLE) AS s22,
             CAST(SUM(x1 * y)  AS DOUBLE) AS s1y,
             CAST(SUM(x2 * y)  AS DOUBLE) AS s2y,
             CAST(SUM(y * y)   AS DOUBLE) AS syy
      FROM per_order GROUP BY 1),
    c AS (
      SELECT *, CAST(n AS DOUBLE) AS nd,
             (CAST(n AS DOUBLE) * (s11*s22 - s12*s12)
              - s1 * (s1*s22 - s12*s2)
              + s2 * (s1*s12 - s11*s2)) AS det,
             (sy * (s11*s22 - s12*s12)
              - s1 * (s1y*s22 - s12*s2y)
              + s2 * (s1y*s12 - s11*s2y)) AS det0,
             (CAST(n AS DOUBLE) * (s1y*s22 - s12*s2y)
              - sy * (s1*s22 - s12*s2)
              + s2 * (s1*s2y - s1y*s2)) AS det1,
             (CAST(n AS DOUBLE) * (s11*s2y - s1y*s12)
              - s1 * (s1*s2y - s1y*s2)
              + sy * (s1*s12 - s11*s2)) AS det2
      FROM m)
    SELECT o_orderpriority, n,
           CASE WHEN n >= 3 AND det <> 0
                THEN ROUND(det0 / det, 6) END AS b0,
           CASE WHEN n >= 3 AND det <> 0
                THEN ROUND(det1 / det, 6) END AS b1,
           CASE WHEN n >= 3 AND det <> 0
                THEN ROUND(det2 / det, 6) END AS b2,
           CASE WHEN n >= 3 AND det <> 0
                     AND (syy - sy*sy/nd) > 0
                THEN ROUND(1 - (syy - ((det0/det)*sy
                                       + (det1/det)*s1y
                                       + (det2/det)*s2y))
                             / (syy - sy*sy/nd), 6) END AS r2
    FROM c ORDER BY o_orderpriority
    """,
    doc="one-pass multiple linear regression per order priority "
    "(operators/relational.py:ols_two_features): o_totalprice ~ "
    "line_count + total_quantity solved from the nine "
    "normal-equation moments by Cramer's rule — how a linear model "
    "fits at 100 TB, the shuffle carrying nine numbers per group. "
    "Moments are EXACT DECIMAL(18,2) sums (y*y reaches 1e15 where "
    "double ulps beat any round-6 fix), cast to double only for the "
    "fixed-operation-order closed form, so both engines produce "
    "bit-identical coefficients; the oracle spells Cramer in the "
    "same expansion order — that order is part of the contract",
)
def ols_order_value_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import ols_two_features

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    per_order = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        )
        .agg(
            F.count(F.lit(1)).cast("decimal(18,2)").alias("x1"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("x2"),
        )
    )
    return ols_two_features(
        per_order, ["o_orderpriority"], "y", "x1", "x2"
    )


_EVAL_QSETS = {
    "q1": ["join", "hash"],
    "q2": ["scan", "filter", "column"],
    "q3": ["stream", "window", "batch"],
}


def _eval_block(qid: str, terms: list[str]) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    arr = "[" + ", ".join(f"'{t}'" for t in terms) + "]"
    return f"""
    tf_{qid} AS (
      SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, dl, UNNEST(toks) AS t FROM docs)
      WHERE t IN ({tl})
      GROUP BY doc_id, dl, t),
    dfreq_{qid} AS (
      SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tf_{qid} GROUP BY t),
    bm_{qid} AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln(1 + (s.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))
             ), 6) AS bm25
      FROM tf_{qid} tf JOIN dfreq_{qid} dfreq USING (t)
      CROSS JOIN stats s
      GROUP BY tf.doc_id),
    rk_{qid} AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      FROM bm_{qid} QUALIFY rank <= 10),
    rel_{qid} AS (
      SELECT doc_id, rel FROM (
        SELECT doc_id,
               len(list_intersect(list_distinct(toks), {arr})) AS rel
        FROM docs)
      WHERE rel > 0),
    got_{qid} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
             ROUND(SUM(COALESCE(rel, 0) / log2(rank + 1)), 6) AS dcg,
             MAX(CASE WHEN rel > 0 THEN 1.0 / rank END) AS mrr,
             CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits
      FROM rk_{qid} LEFT JOIN rel_{qid} USING (doc_id)),
    ideal_{qid} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rel,
             ROUND(SUM(CASE WHEN rn <= 10
                            THEN rel / log2(rn + 1) END), 6) AS idcg
      FROM (SELECT rel,
                   row_number() OVER (ORDER BY rel DESC, doc_id) AS rn
            FROM rel_{qid}))"""


_EVAL_FINAL = """
    SELECT '{qid}' AS query_id, n_ranked, n_rel,
           ROUND(dcg / idcg, 6) AS ndcg,
           ROUND(COALESCE(mrr, 0), 6) AS mrr,
           ROUND(COALESCE(hits, 0) / 10.0, 6) AS precision,
           CASE WHEN n_rel > 0
                THEN ROUND(hits / n_rel, 6) END AS recall
    FROM got_{qid} CROSS JOIN ideal_{qid}"""

_SEARCH_EVAL_ORACLE = (
    """
    WITH docs AS MATERIALIZED (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks,
             len(string_split_regex(trim(text), '\\s+')) AS dl
      FROM documents),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM docs),"""
    + ",".join(_eval_block(q, t) for q, t in _EVAL_QSETS.items())
    + "\n    UNION ALL".join(
        _EVAL_FINAL.format(qid=q) for q in _EVAL_QSETS
    )
    + "\n    ORDER BY query_id"
)


@_q(
    "search_eval_bm25",
    _SEARCH_EVAL_ORACLE,
    doc="offline retrieval evaluation "
    "(operators/retrieval.py:ranking_metrics): NDCG@10 / MRR@10 / "
    "precision@10 / recall@10 for three fixed term-set queries, BM25 "
    "rankings judged against graded term-coverage relevance — the "
    "readout that says whether a ranker change helped BEFORE it "
    "ships. Each leg's top-10 is cut by orderBy().limit(10) "
    "(TakeOrderedAndProject, fully distributed) before the 10-row "
    "rank window; the metrics join is (queries x k)-sized; IDCG "
    "windows only each query's judged pool. DCG uses linear gain "
    "rel/log2(rank+1) (Jarvelin-Kekalainen), log2 sums round 6 "
    "before the cross-engine-shared ratio",
)
def search_eval_bm25_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_search_eval

    docs = load(spark, sf_dir, "documents")
    return bm25_search_eval(docs, "doc_id", "text", _EVAL_QSETS, k=10)


_WQ_PS = (0.25, 0.5, 0.75)

_WQ_ORACLE = (
    """
    WITH base AS (
      SELECT o_orderpriority AS pri,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
             CAST(l_quantity AS BIGINT) AS w
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      WHERE l_extendedprice IS NOT NULL AND l_quantity > 0),
    g AS (SELECT pri, v, SUM(w) AS w FROM base GROUP BY pri, v),
    c AS (
      SELECT pri, v,
             CAST(SUM(w) OVER (PARTITION BY pri ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS cw,
             CAST(SUM(w) OVER (PARTITION BY pri) AS BIGINT) AS tw
      FROM g)
    """
    + "\n    UNION ALL".join(
        f"""
    SELECT pri AS o_orderpriority, CAST({p} AS DOUBLE) AS p,
           MIN(CASE WHEN cw >= {p} * tw THEN v END) AS wq,
           CAST(MAX(tw) AS BIGINT) AS total_w
    FROM c GROUP BY pri"""
        for p in _WQ_PS
    )
    + "\n    ORDER BY o_orderpriority, p"
)


@_q(
    "weighted_price_quartiles",
    _WQ_ORACLE,
    doc="exact quantity-weighted price quartiles per order priority "
    "(operators/relational.py:weighted_percentiles): the smallest "
    "price whose cumulative UNIT volume reaches p of the total — the "
    "per-unit distribution approx_percentile cannot weight and "
    "explode-by-weight cannot afford. Weight pre-aggregated per "
    "distinct value before the cumulative window, so tie order is "
    "unobservable and every running weight is an exact BIGINT; one "
    "map-side-combined groupBy + one window over the REDUCED "
    "distinct-value frame + one conditional-min pass for all three "
    "quartiles",
)
def weighted_price_quartiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import weighted_percentiles

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    j = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col("o_orderpriority"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("v"),
        F.col("l_quantity").alias("w"),
    )
    return weighted_percentiles(
        j, ["o_orderpriority"], "v", "w", ps=_WQ_PS
    )


@_q(
    "zipf_vocab_fit",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS term
      FROM documents),
    ts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term <> ''
      GROUP BY term ORDER BY tf DESC, term LIMIT 500),
    r AS (
      SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank
      FROM ts),
    pts AS (SELECT log2(rank) AS x, log2(tf) AS y FROM r),
    ptsr AS (
      SELECT -- DECIMAL(19,6): see daily_trend_slope's oracle — width
             -- 19 forces DuckDB's exact HUGEINT multiply path
             CAST(ROUND(x, 6) AS DECIMAL(19,6)) AS xd,
             CAST(ROUND(y, 6) AS DECIMAL(19,6)) AS yd
      FROM pts),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xd) AS DOUBLE) AS sx,
             CAST(SUM(yd) AS DOUBLE) AS sy,
             CAST(SUM(xd * yd) AS DOUBLE) AS sxy,
             CAST(SUM(xd * xd) AS DOUBLE) AS sxx,
             CAST(SUM(yd * yd) AS DOUBLE) AS syy
      FROM ptsr),
    s AS (
      SELECT n, sx, sy, sxy, sxx, syy,
             CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0
                  THEN ROUND((n * sxy - sx * sy)
                             / (n * sxx - sx * sx), 6) END AS slope
      FROM m)
    SELECT n, slope,
           CASE WHEN slope IS NOT NULL
                THEN ROUND((sy - slope * sx) / n, 6) END AS intercept,
           CASE WHEN slope IS NOT NULL AND (n * syy - sy * sy) > 0
                THEN ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx)
                              * (n * syy - sy * sy)), 6) END AS r2
    FROM s
    """,
    doc="Zipf's-law corpus health gauge (operators/text.py:zipf_fit): "
    "log-log OLS of term frequency vs rank over the top-500 "
    "vocabulary — organic language sits near slope -1, template "
    "floods bend the curve. Vocabulary aggregate with map-side "
    "combine, distributed TakeOrderedAndProject cut, rank window "
    "over the reduced 500-row frame only, then linear_trend's "
    "rounded-moment closed form (sufficient statistics round 6 "
    "before the shared formula; the oracle mirrors intercept from "
    "the ROUNDED slope)",
)
def zipf_vocab_fit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import zipf_fit

    docs = load(spark, sf_dir, "documents")
    return zipf_fit(docs, "doc_id", "text", top_n=500)


@_q(
    "embedding_silhouette",
    """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (
      SELECT vec_id AS cid, v AS cv,
             row_number() OVER (ORDER BY vec_id) AS ci
      FROM e ORDER BY vec_id LIMIT 8),
    sc AS (
      SELECT e.vec_id, c.cid, c.ci,
             ROUND(list_cosine_similarity(e.v, c.cv), 6) AS s
      FROM e CROSS JOIN c),
    rk AS (
      SELECT vec_id, cid, s,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, ci) AS rn
      FROM sc),
    tb AS (
      SELECT a.vec_id, a.cid AS cluster,
             (1 - a.s) AS da, (1 - b.s) AS db
      FROM rk a JOIN rk b ON a.vec_id = b.vec_id
      WHERE a.rn = 1 AND b.rn = 2),
    sil AS (
      SELECT cluster, da, db,
             CASE WHEN GREATEST(da, db) > 0
                  THEN ROUND((db - da) / GREATEST(da, db), 6)
                  ELSE 0.0 END AS s
      FROM tb)
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR((ROUND(SUM(s), 6) / COUNT(*)) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_silhouette,
           FLOOR((ROUND(SUM(da), 6) / COUNT(*)) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_dist_own,
           FLOOR((ROUND(SUM(db), 6) / COUNT(*)) * 1000000.0 + 0.5)
             / 1000000.0 AS mean_dist_next
    FROM sil GROUP BY cluster ORDER BY cluster
    """,
    doc="simplified silhouette per cluster "
    "(operators/similarity.py:cluster_silhouette): mean "
    "(b-a)/max(a,b) with a = cosine distance to own (nearest) "
    "centroid, b = to the second-nearest — the clustering family's "
    "evaluation rung, as ranking_metrics is for search. One k-row "
    "broadcast cross join, one groupBy whose payload is the "
    "k-element struct list (k bounded, vectors never shuffle), one "
    "map-side-combined per-cluster mean with the stable_avg "
    "round-sum-then-divide rule; sims round 6 before best/second "
    "ordering so the assignment boundary is engine-deterministic",
)
def embedding_silhouette_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cluster_silhouette

    emb = load(spark, sf_dir, "embeddings")
    return cluster_silhouette(emb, "vec_id", "embedding", n_clusters=8)


@_q(
    "ks_value_drift",
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
      SELECT wd, v,
             SUM(ca) OVER w AS cca, SUM(cb) OVER w AS ccb,
             SUM(ca) OVER g AS na, SUM(cb) OVER g AS nb
      FROM per_v
      WINDOW w AS (PARTITION BY wd ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             g AS (PARTITION BY wd)),
    d AS (
      SELECT wd, v, na, nb,
             ROUND(ABS(CAST(cca AS DOUBLE) / na
                       - CAST(ccb AS DOUBLE) / nb), 6) AS dd
      FROM c),
    m AS (SELECT *, MAX(dd) OVER (PARTITION BY wd) AS dmax
          FROM d WHERE na > 0 AND nb > 0)
    SELECT wd AS weekday, CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           MAX(dmax) AS ks_stat, MIN(v) AS ks_at
    FROM m WHERE dd = dmax GROUP BY wd ORDER BY wd
    """,
    doc="exact two-sample Kolmogorov-Smirnov drift per weekday "
    "(operators/relational.py:ks_two_sample): D = max |ECDF_click - "
    "ECDF_view| over the pooled distinct values — the binning-free "
    "complement to psi_value_drift (PSI misses within-bin shifts and "
    "needs edges). ECDFs are cumulative INTEGER counts over the "
    "distinct-value frame divided by integer totals, so both engines "
    "divide the same numbers; D rounds 6 before the argmax and the "
    "location reports the smallest attaining value. One "
    "map-side-combined groupBy to distinct values + cumulative "
    "windows over the reduced frame",
)
def ks_value_drift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import ks_two_sample

    ev = load_events(spark, sf_dir)
    base = ev.select(
        F.weekday("ts").cast("long").alias("weekday"),
        "value",
        "event_type",
    )
    return ks_two_sample(
        base, ["weekday"], "value", "event_type", "click", "view"
    )


@_q(
    "theilsen_daily_trend",
    f"""
    WITH r AS MATERIALIZED ({_DAILY_ROLLUP_SQL}),
    base AS (
      SELECT event_type,
             CAST(day - DATE '1970-01-01' AS DOUBLE) AS x, v AS y
      FROM r WHERE v IS NOT NULL),
    pairs AS (
      SELECT a.event_type,
             ROUND((b.y - a.y) / (b.x - a.x), 6) AS m
      FROM base a JOIN base b
        ON a.event_type = b.event_type AND a.x < b.x),
    ms AS (
      SELECT event_type, m,
             row_number() OVER (PARTITION BY event_type ORDER BY m)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM pairs),
    slope AS (
      SELECT event_type, m AS slope, CAST(cnt AS BIGINT) AS n_pairs
      FROM ms WHERE rn = FLOOR((cnt + 1) / 2)),
    resid AS (
      SELECT b.event_type, s.slope, s.n_pairs,
             ROUND(b.y - s.slope * b.x, 6) AS bb
      FROM base b JOIN slope s USING (event_type)),
    ri AS (
      SELECT event_type, slope, n_pairs, bb,
             row_number() OVER (PARTITION BY event_type ORDER BY bb)
               AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS nn
      FROM resid),
    sel AS (
      SELECT event_type, n_pairs, slope, bb AS intercept
      FROM ri WHERE rn = FLOOR((nn + 1) / 2)),
    counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM base GROUP BY 1)
    SELECT c.event_type, c.n, s.n_pairs, s.slope, s.intercept
    FROM counts c LEFT JOIN sel s USING (event_type)
    ORDER BY c.event_type
    """,
    doc="Theil-Sen robust trend per event type "
    "(operators/relational.py:theil_sen): slope = median of all "
    "pairwise daily slopes, intercept = median residual — shrugs off "
    "~29% outliers where daily_trend_slope's OLS chases them; the "
    "robust rung of the regression family, as MAD is to stddev. "
    "EXACT (no sampling) because the input is the per-key DAILY "
    "ROLLUP: the pair join is O(days^2) per key on the reduced "
    "frame, the acf/seasonal contract. Lower-median (type-1) "
    "selection by row position over round-6 values — no middle-pair "
    "averaging, engine-deterministic under slope ties",
)
def theilsen_daily_trend_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import theil_sen

    ev = load_events(spark, sf_dir)
    rollup = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    pts = rollup.select(
        "event_type",
        F.datediff(F.col("day"), F.lit("1970-01-01"))
        .cast("double")
        .alias("x"),
        F.col("v").alias("y"),
    )
    return theil_sen(pts, ["event_type"], "x", "y")


@_q(
    "value_histogram_events",
    """
    WITH base AS (
      SELECT event_type AS g, value AS v FROM events
      WHERE value IS NOT NULL),
    stats AS (
      SELECT g, CAST(MIN(v) AS DOUBLE) AS lo,
             CAST(MAX(v) AS DOUBLE) AS hi
      FROM base GROUP BY g),
    counts AS (
      SELECT b.g,
             CASE WHEN (s.hi - s.lo) / 10.0 > 0
                  THEN LEAST(9, CAST(FLOOR((b.v - s.lo)
                        / ((s.hi - s.lo) / 10.0)) AS BIGINT))
                  ELSE 0 END AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base b JOIN stats s USING (g)
      GROUP BY 1, 2),
    grid AS (
      SELECT s.g, s.lo, s.hi, CAST(t.b AS BIGINT) AS bucket
      FROM stats s CROSS JOIN
           (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS b) t)
    SELECT grid.g AS event_type, grid.bucket AS bucket,
           ROUND(grid.lo + grid.bucket * ((grid.hi - grid.lo) / 10.0),
                 6) AS lo,
           ROUND(grid.lo + (grid.bucket + 1)
                 * ((grid.hi - grid.lo) / 10.0), 6) AS hi,
           CAST(COALESCE(counts.n, 0) AS BIGINT) AS n
    FROM grid LEFT JOIN counts
      ON counts.g = grid.g AND counts.bucket = grid.bucket
    ORDER BY event_type, bucket
    """,
    doc="per-event-type equal-width value histogram, empty buckets "
    "included (operators/relational.py:value_histogram): the shape "
    "readout next to group_percentiles' equal-mass cuts. One "
    "map-side-combined min/max aggregate, broadcast of group stats "
    "back onto the rows, one (group, bucket) count, and a "
    "broadcast-scale groups x bins grid left join; bucket boundaries "
    "derive from exact extremes so both engines cut identically, "
    "max lands in the last bucket by the LEAST(bins-1) clamp",
)
def value_histogram_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational import value_histogram

    ev = load_events(spark, sf_dir)
    return value_histogram(
        ev.select(F.col("event_type"), F.col("value")),
        ["event_type"],
        "value",
        bins=10,
    )


@_q(
    "readability_docs",
    """
    WITH base AS (
      SELECT doc_id,
             CAST(COALESCE(length(
               regexp_replace(text, '[^A-Za-z0-9]', '', 'g')), 0)
                  AS BIGINT) AS n_chars,
             CAST(COALESCE(len(list_filter(
               string_split_regex(trim(text), '\\s+'),
               x -> length(x) > 0)), 0) AS BIGINT) AS n_words,
             CAST(COALESCE(len(regexp_extract_all(text, '[.!?]+')), 0)
                  AS BIGINT) AS n_raw_sents
      FROM documents),
    counted AS (
      SELECT doc_id, n_chars, n_words,
             CASE WHEN n_words > 0
                  THEN GREATEST(CAST(1 AS BIGINT), n_raw_sents)
                  ELSE CAST(0 AS BIGINT) END AS n_sentences
      FROM base)
    SELECT doc_id, n_chars, n_words, n_sentences,
           CASE WHEN n_words > 0
                THEN (471 * n_chars * n_sentences
                      + 50 * n_words * n_words
                      - 2143 * n_words * n_sentences)
                     / (100.0 * n_words * n_sentences) END AS ari,
           CASE WHEN n_words > 0
                THEN (588 * n_chars - 2960 * n_sentences
                      - 1580 * n_words)
                     / (100.0 * n_words) END AS coleman_liau
    FROM counted ORDER BY doc_id
    """,
    doc="per-document readability indices "
    "(operators/text.py:readability_scores): ARI and Coleman-Liau "
    "from pure character/word/sentence counts — grade-level bands "
    "for curation filters on an interpretable scale, no syllable "
    "dictionary. Pure column expressions in codegen, zero shuffles "
    "beyond the scan; integer counts make both engines' ratio "
    "doubles identical; sentence count floors at 1 for non-empty "
    "text (a fragment is one sentence)",
)
def readability_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import readability_scores

    docs = load(spark, sf_dir, "documents")
    return readability_scores(docs, "doc_id", "text")


