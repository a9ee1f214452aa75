"""Shared operator utilities."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


#: every per-application memo entry, keyed (applicationId, tag, key)
_MEMO: dict = {}
_MISS = object()


def app_memo(spark, tag: str, key, compute, store=None):
    """Return ``compute()``, reusing the answer kept for ``key()``
    earlier in this Spark application: the one memo for plan choices
    and table metadata.

    Builders re-run probes whose answers cost a Spark job or a planning
    pass (a count, a blowup aggregate, schema inference) every time a
    query is rebuilt, and the answer depends only on what the key
    names. The contract:

    - Only plan-shaping scalars and table metadata are kept, never
      rows. ``tag`` names the site, so two sites never share an entry.
    - ``key`` is a zero-argument callable. If it raises or returns
      ``None``, the answer is computed live and nothing is kept.
    - ``store(value)``, when given, decides whether a computed answer
      is kept; a refused answer is still returned.
    - Entries belong to one ``applicationId``. Keeping a new entry
      drops every other application's, so a new session derives each
      answer again and a stopped one's entries do not accumulate.
    - A key names its input by plan or by file set. Unless it also
      carries the files' stamp (``_file_stamp`` in the harness), a
      file rewritten in place within one application replays the
      earlier answer; every plan-choice site keeps that lossless,
      because the plans it chooses between return identical rows.
    """
    try:
        k = key()
    except Exception:  # noqa: BLE001 - an unkeyable input computes live
        k = None
    if k is None:
        return compute()
    app = spark.sparkContext.applicationId
    entry = (app, tag, k)
    value = _MEMO.get(entry, _MISS)
    if value is _MISS:
        value = compute()
        if store is None or store(value):
            for stale in [e for e in list(_MEMO) if e[0] != app]:
                _MEMO.pop(stale, None)
            _MEMO[entry] = value
    return value


def plan_key(df: DataFrame) -> int:
    """``app_memo`` key for a frame's plan: the UNANALYZED logical
    plan's ``semanticHash``, so a memo hit analyzes nothing (~40 ms
    against ~135 ms for the analyzed plan, per fresh build). Identical
    rebuilds hash alike; a different source, filter or expression
    hashes apart (the scan leaf carries the concrete file relation)."""
    return df._jdf.queryExecution().logical().semanticHash()


def input_file_set(df: DataFrame):
    """``app_memo`` key for a frame's input files, sorted; ``None``
    for an in-memory frame, whose answers are not file-derived."""
    return tuple(sorted(df.inputFiles())) or None


#: logical-plan node classes whose presence makes a frame not
#: scan-narrow: anything that shuffles or changes the partition
#: count. Matched as substrings of plan-node names only (so
#: ``Aggregate`` also covers ``AggregateInPandas`` and ``Join`` covers
#: ``AsOfJoin``), never of the plan text, where a column named
#: ``JoinKey`` used to disqualify a plain scan.
_WIDE_NODES = (
    "Repartition", "RebalancePartitions", "Join", "Aggregate", "Window",
    "Sort", "Deduplicate", "Distinct", "GlobalLimit", "Intersect",
    "Except", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "CoGroup",
)


#: the node name that starts each line of a plan's tree string (after
#: the ``:- ``/``+- `` drawing); expressions and column names never
#: start a line
_NODE_RX = re.compile(r"^[\s:|+\-]*(\w+)", re.MULTILINE)


def _plan_node_names(df: DataFrame) -> list[str]:
    """Names of the nodes of the analyzed logical plan, read from ONE
    py4j ``toString`` round-trip (analyzed, so REPARTITION/REBALANCE
    hints appear as nodes). ``toJSON`` would name the classes too, but
    it serializes a ``LocalRelation``'s rows: ~450 KB and ~120 ms for
    one incremental-MinHash frame, against a few KB for the tree."""
    return _NODE_RX.findall(df._jdf.queryExecution().analyzed().toString())


def fan_out(df: DataFrame) -> DataFrame:
    """Ensure CPU-heavy per-row stages use the full executor pool.

    A single-row-group parquet file scans as ONE task no matter how
    many cores exist; shingling/minhashing would then run serially.
    On a real multi-split 100 TB input this repartition collapses to
    a no-op (partitions already >= parallelism); locally it is one
    tiny shuffle of the raw rows that unlocks every core.

    The partition count comes from ``df.rdd.getNumPartitions()``,
    which plans a fresh frame (~50-125 ms driver-side). ``app_memo``
    keeps it per input-file set, for scan-narrow plans only and only
    when under-parallel."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism

    def narrow_files():
        # a wide plan over the same files must neither store nor hit:
        # a scan's under-parallel count would coalesce it to
        # defaultParallelism, a full extra shuffle
        if any(w in c for c in _plan_node_names(df) for w in _WIDE_NODES):
            return None
        return input_file_set(df)

    n = app_memo(
        spark, "fan_out", narrow_files, lambda: df.rdd.getNumPartitions(),
        # keep only the under-parallel direction: a stale entry can then
        # only ADD a redundant tiny repartition, never skip a needed one
        store=lambda n: n < target,
    )
    if n < target:
        return df.repartition(target)
    return df


def round6_floor(c):
    """Engine-agnostic 6-dp rounding via IEEE-only ops:
    ``floor(x·1e6 + 0.5) / 1e6`` — the hardened form for round-6
    outputs whose unrounded value is a COMPOSED double (sqrt/exp
    chains over the exact moments).

    Why not ``ROUND(x, 6)``: Spark routes double rounding through
    BigDecimal HALF_UP over the exact decimal expansion of the binary
    double, while DuckDB rounds in double arithmetic — two
    implementations that can disagree by one 6-dp grain when x sits
    within ~1 ulp of a ``k + .5e-6`` boundary, which is exactly the
    flake class the round-12 driver record surfaced
    (``deming_part_price``, hash-only, judge-unreproducible). This
    form uses only IEEE-exact operations (multiply, add, floor,
    divide — each correctly rounded by the standard, no libm, no
    decimal conversion), so both engines compute BIT-IDENTICAL
    results for any input, boundary or not.

    Contract deltas vs ROUND (documented, shared by the SQL twin
    ``ROUND6_FLOOR_SQL``): exact halfway values round toward +inf
    (floor semantics) rather than away from zero, and the domain is
    |x| < 2^52/1e6 ≈ 4.5e9 (beyond that the micro grid is below
    double resolution — same as ROUND). NULL propagates. Never emits
    -0.0 (floor's integer output has no signed zero on the Spark
    side; on DuckDB ``x·1e6 + 0.5`` can only be -0.0 if x·1e6 is
    exactly -0.5, whose IEEE sum is +0.0).
    """
    from pyspark.sql import functions as F

    return F.floor(c * 1000000.0 + F.lit(0.5)) / 1000000.0


#: DuckDB twin of ``round6_floor`` — format with ``{x}``.
ROUND6_FLOOR_SQL = "(FLOOR(({x}) * 1000000.0 + 0.5) / 1000000.0)"


def norm_cdf(z):
    """Standard normal CDF Φ(z) as a Column expression, via the
    Abramowitz-Stegun 7.1.26 rational approximation (|error| <
    7.5e-8 absolute — far below the repo's round-6 grain).

    Why not a native function: neither Spark SQL nor DuckDB exposes
    erf/Φ, and the p-value family (BH-FDR, one-sample AD) needs the
    SAME Φ on both engines — a shared CLOSED FORMULA evaluates to
    bit-near-identical doubles everywhere (the only engine-variant
    term is exp(), whose ≤1-ulp libm differences sit ~9 orders of
    magnitude below the approximation's own error), where linking
    two different erf implementations would not. The oracle twin is
    ``NORM_CDF_SQL``; keep the two in lockstep.
    """
    from pyspark.sql import functions as F

    az = F.abs(z)
    t = 1.0 / (1.0 + 0.2316419 * az)
    poly = t * (
        0.319381530
        + t
        * (
            -0.356563782
            + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
        )
    )
    upper = (
        F.exp(-az * az / 2.0) / F.lit(2.5066282746310002) * poly
    )  # φ(z)·poly; 2.50662... = √(2π)
    return F.when(z >= 0, 1.0 - upper).otherwise(upper)


#: DuckDB twin of ``norm_cdf`` — same A-S 7.1.26 algebra, same
#: constants, applied to a column expression {z}.
NORM_CDF_SQL = """
    (CASE WHEN ({z}) >= 0 THEN
       1.0 - EXP(-(ABS({z}) * ABS({z})) / 2.0) / 2.5066282746310002
             * ((1.0 / (1.0 + 0.2316419 * ABS({z})))
                * (0.319381530
                   + (1.0 / (1.0 + 0.2316419 * ABS({z})))
                   * (-0.356563782
                      + (1.0 / (1.0 + 0.2316419 * ABS({z})))
                      * (1.781477937
                         + (1.0 / (1.0 + 0.2316419 * ABS({z})))
                         * (-1.821255978
                            + (1.0 / (1.0 + 0.2316419 * ABS({z})))
                            * 1.330274429)))))
     ELSE
       EXP(-(ABS({z}) * ABS({z})) / 2.0) / 2.5066282746310002
       * ((1.0 / (1.0 + 0.2316419 * ABS({z})))
          * (0.319381530
             + (1.0 / (1.0 + 0.2316419 * ABS({z})))
             * (-0.356563782
                + (1.0 / (1.0 + 0.2316419 * ABS({z})))
                * (1.781477937
                   + (1.0 / (1.0 + 0.2316419 * ABS({z})))
                   * (-1.821255978
                      + (1.0 / (1.0 + 0.2316419 * ABS({z})))
                      * 1.330274429)))))
     END)
"""


def norm_ppf(p):
    """Inverse standard normal CDF Φ⁻¹(p) as a Column expression, via
    Peter Acklam's piecewise rational approximation (|relative error|
    < 1.15e-9 over (0, 1) — far below the repo's round-6 grain).

    Same rationale as ``norm_cdf``: neither engine exposes a
    deterministic probit builtin, and the normal-scores family (van
    der Waerden, Fligner-Killeen, Shapiro-Francia's Blom scores)
    needs the SAME Φ⁻¹ on both engines — a shared closed formula
    evaluates to bit-near-identical doubles everywhere (the only
    engine-variant terms are ln/sqrt, ≤ 1 ulp each, ~7 orders below
    the approximation's own error). The oracle twin is
    ``NORM_PPF_SQL``; keep the two in lockstep. Callers guarantee
    p ∈ (0, 1) — rank-derived arguments r/(N+1) are by construction.
    """
    from pyspark.sql import functions as F

    def central(pp):
        q = pp - 0.5
        r = q * q
        num = (
            (
                (
                    (
                        (-3.969683028665376e01 * r + 2.209460984245205e02)
                        * r
                        - 2.759285104469687e02
                    )
                    * r
                    + 1.383577518672690e02
                )
                * r
                - 3.066479806614716e01
            )
            * r
            + 2.506628277459239e00
        ) * q
        den = (
            (
                (
                    (
                        (-5.447609879822406e01 * r + 1.615858368580409e02)
                        * r
                        - 1.556989798598866e02
                    )
                    * r
                    + 6.680131188771972e01
                )
                * r
                - 1.328068155288572e01
            )
            * r
            + 1.0
        )
        return num / den

    def tail(q):
        num = (
            (
                (
                    (
                        (-7.784894002430293e-03 * q - 3.223964580411365e-01)
                        * q
                        - 2.400758277161838e00
                    )
                    * q
                    - 2.549732539343734e00
                )
                * q
                + 4.374664141464968e00
            )
            * q
            + 2.938163982698783e00
        )
        den = (
            (
                (
                    (7.784695709041462e-03 * q + 3.224671290700398e-01) * q
                    + 2.445134137142996e00
                )
                * q
                + 3.754408661907416e00
            )
            * q
            + 1.0
        )
        return num / den

    lo = tail(F.sqrt(-2.0 * F.log(p)))
    hi = -tail(F.sqrt(-2.0 * F.log(1.0 - p)))
    # branch literals match the SQL twin verbatim (0.97575 as a
    # LITERAL, not 1 − 0.02425 — the two differ by an ulp, and branch
    # parity beats algebraic elegance; outputs at the seam agree to
    # ~1e-9 either way)
    return (
        F.when(p < 0.02425, lo)
        .when(p > 0.97575, hi)
        .otherwise(central(p))
    )


def _ppf_tail_sql(q: str) -> str:
    return (
        f"((((((-0.007784894002430293 * ({q}) - 0.3223964580411365)"
        f" * ({q}) - 2.400758277161838) * ({q}) - 2.549732539343734)"
        f" * ({q}) + 4.374664141464968) * ({q}) + 2.938163982698783)"
        f" / ((((0.007784695709041462 * ({q}) + 0.3224671290700398)"
        f" * ({q}) + 2.445134137142996) * ({q}) + 3.754408661907416)"
        f" * ({q}) + 1.0))"
    )


def _ppf_central_sql(p: str) -> str:
    q = f"(({p}) - 0.5)"
    r = f"({q} * {q})"
    return (
        f"(((((((-39.69683028665376 * {r} + 220.9460984245205)"
        f" * {r} - 275.9285104469687) * {r} + 138.357751867269)"
        f" * {r} - 30.66479806614716) * {r} + 2.506628277459239)"
        f" * {q})"
        f" / (((((-54.47609879822406 * {r} + 161.5858368580409)"
        f" * {r} - 155.6989798598866) * {r} + 66.80131188771972)"
        f" * {r} - 13.28068155288572) * {r} + 1.0))"
    )


def norm_ppf_sql(p: str) -> str:
    """DuckDB twin of ``norm_ppf`` — same Acklam algebra, same
    constants, applied to a column expression ``p`` (pass a simple
    column name; the expression is substituted many times)."""
    lo_q = f"SQRT(-2.0 * LN({p}))"
    hi_q = f"SQRT(-2.0 * LN(1.0 - ({p})))"
    return (
        f"(CASE WHEN ({p}) < 0.02425 THEN {_ppf_tail_sql(lo_q)}"
        f" WHEN ({p}) > 0.97575 THEN -{_ppf_tail_sql(hi_q)}"
        f" ELSE {_ppf_central_sql(p)} END)"
    )
