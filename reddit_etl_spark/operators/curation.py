"""Dataset-curation operators: deterministic sampling, train/test
splits, and PII redaction — the plumbing a training-data pipeline runs
between dedup and tokenization.

Design rules for 100 TB:

- Sampling is a *pure filter* on a content-derived hash (md5 of the id),
  never ``rand()``: the sample is reproducible across runs, engines,
  partitionings, and retries (a task retry with ``rand()`` silently
  changes the sample), and it pushes down to the scan — no shuffle, no
  driver coordination, no state.
- The hash threshold is expressed on the first 4 hex chars (16 bits), so
  any fraction k/65536 is exact and the same row set is selected by any
  engine that computes md5 (portable to the DuckDB oracle verbatim).
- Redaction is sequential ``regexp_replace`` with RE2-and-Java-compatible
  patterns (no backreferences, no lookaround) — pure column expressions
  inside whole-stage codegen; counts are taken on the original text so
  they are independent of replacement order.

Reference scope note: the reference pipeline (script.py) has no
sampling/PII stage; this module is part of the training-data extension
surface (BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: pattern name -> (regex, replacement token). Order is the redaction
#: order; counts are computed per-pattern on the ORIGINAL text.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ssn": (r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    "phone": (r"\+?\d{1,2}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}", "[PHONE]"),
    "ipv4": (r"\b(?:\d{1,3}\.)(?:\d{1,3}\.)(?:\d{1,3}\.)\d{1,3}\b", "[IP]"),
}


def _hash16_col(id_col: Column | str) -> Column:
    """First 16 bits of md5(id) as a 4-char lowercase hex string.
    Lexicographic comparison on fixed-width lowercase hex == numeric
    comparison, so thresholds are plain string literals."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(c.cast("string")), 1, 4)


def hash_threshold(fraction: float) -> str:
    """Hex threshold selecting ~``fraction`` of uniformly-hashed ids
    (exact when fraction*65536 is integral). At fraction=1.0 the
    threshold 65536 doesn't fit in 4 hex chars ('10000' is 5 chars and
    lexicographically SMALLER than most 4-char hashes), so the upper
    bound is pinned to the sentinel 'g' — above every lowercase hex
    string — which keeps all rows."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    t = min(int(round(fraction * 65536)), 65536)
    if t >= 65536:
        return "g"  # > 'ffff': strictly above every 4-char hex prefix
    return format(t, "04x")


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    fraction: float,
    strata_col: str | None = None,
    fractions: dict[str, float] | None = None,
) -> DataFrame:
    """Reproducible sample: keep rows whose md5(id) prefix falls below
    the fraction threshold. With ``strata_col``/``fractions``, each
    stratum gets its own rate (default ``fraction``) — stratified
    sampling as a single CASE-gated filter, still shuffle-free."""
    h = _hash16_col(id_col)
    if strata_col is None or not fractions:
        return df.filter(h < hash_threshold(fraction))
    expr = F.lit(hash_threshold(fraction))
    for stratum, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(strata_col) == stratum, F.lit(hash_threshold(frac))
        ).otherwise(expr)
    return df.filter(h < expr)


def split_col(id_col: Column | str, train_fraction: float = 0.9) -> Column:
    """Deterministic train/test tag from the same id hash. Disjoint
    with any ``deterministic_sample`` threshold arithmetic because both
    read the same 16 hash bits."""
    return F.when(
        _hash16_col(id_col) < hash_threshold(train_fraction), "train"
    ).otherwise(F.lit("test"))


def redact_pii(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, tuple[str, str]] | None = None,
    out_col: str = "redacted_text",
) -> DataFrame:
    """Add ``out_col`` with all PII patterns replaced and one
    ``n_<name>`` count column per pattern (counted on the original
    text). Sequential regexp_replace stays inside whole-stage codegen —
    no UDF, no shuffle; at scale this is a pure map over the scan."""
    pats = patterns or PII_PATTERNS
    t = F.col(text_col)
    red = t
    counts = {}
    for name, (rx, token) in pats.items():
        counts[f"n_{name}"] = F.regexp_count(t, F.lit(rx)).cast("long")
        red = F.regexp_replace(red, rx, token)
    return df.withColumns(counts).withColumn(out_col, red)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for each document, count its distinct
    word ``n``-grams that also appear anywhere in the ``benchmark``
    corpus (eval/test sets that must not leak into training data).
    Returns (id, n_contaminated_grams) for contaminated docs only;
    anti-join the result against the corpus to drop them.

    Scale shape: the benchmark side collapses to DISTINCT n-grams —
    eval suites are tiny relative to a 100 TB corpus — and is
    broadcast, so the corpus side is a single scan + explode with a
    map-side hash-join probe: no shuffle of corpus data at all. If the
    benchmark outgrows broadcast size, drop the hint and the same plan
    becomes a shuffle join on the gram key."""
    from .dedup import shingle_frame
    from .util import fan_out

    # fan_out BEFORE shingling: a single-row-group input would otherwise
    # run the CPU-heavy gram expansion on one core (see dedup.py)
    doc_grams = shingle_frame(fan_out(docs), text_col, n, id_col, explode=True)
    bench_grams = shingle_frame(benchmark, text_col, n, explode=True).distinct()
    return (
        doc_grams.join(F.broadcast(bench_grams), "__gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_contaminated_grams"))
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis
    exponential keys: draw u ~ U(0,1] per row, rank by ln(u)/w
    descending, keep the top ``k`` (per ``group_col`` if given) — each
    row's inclusion probability is proportional to its weight. The
    training-data use case: sample documents ∝ token count (or ∝
    mixture weight) per source without materializing epochs.

    ``u`` is DETERMINISTIC — derived from md5(id, seed) exactly like
    ``deterministic_sample`` — so the sample is stable across runs,
    retries, and engines (DuckDB can rebuild the identical u and key:
    see the harness oracle), and adding/removing OTHER rows never
    flips a surviving row's key (consistent-sampling property).

    Scale shape: one narrow projection computes the key, then a
    per-group window top-k (single hash-partition shuffle) or a global
    TakeOrderedAndProject. Rows with weight <= 0 or NULL are excluded
    (they have zero inclusion probability).
    """
    from pyspark.sql import Window

    from .dedup import token_hash_col

    # md5 top-60-bits -> u in (0, 1]; +1 keeps u > 0 so ln(u) is
    # finite. token_hash_col('md5_60') is THE canonical
    # engine-portable hash — one definition shared with SimHash/
    # winnowing so oracle parity cannot drift
    h = token_hash_col(
        F.concat_ws("\x1f", F.col(id_col).cast("string"), F.lit(str(seed))),
        "md5_60",
    )
    u = (h + F.lit(1).cast("double")) / F.lit(float(1 << 60) + 1.0)
    w = F.col(weight_col).cast("double")
    keyed = df.filter(w.isNotNull() & (w > 0)).withColumn(
        "__es_key", F.log(u) / w
    )
    if group_col is None:
        out = keyed.orderBy(F.desc("__es_key"), F.asc(id_col)).limit(k)
    else:
        win = Window.partitionBy(group_col).orderBy(
            F.desc("__es_key"), F.asc(id_col)
        )
        out = (
            keyed.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    return out.drop("__es_key")


def _bloom_build(hashes: "np.ndarray", fpp: float) -> tuple["np.ndarray", int, int]:
    """Standard Bloom sizing: m = -n ln p / (ln 2)^2 bits, k = (m/n) ln 2
    probes. Returns (uint64 bit words, m_bits, k). Probing uses
    Kirsch–Mitzenmacher double hashing from the 64-bit gram hash:
    idx_i = (h1 + i*h2) mod m with h2 forced odd."""
    import math

    import numpy as np

    n = max(int(hashes.size), 1)
    # floor m at 2048 bits and cap k: at tiny m the (h1 + i*h2) mod m
    # probe family correlates and the realized FP rate blows past
    # theory — 256 bytes is a negligible floor, and k > 16 buys
    # nothing once fpp <= 1e-4
    m = max(2048, int(-n * math.log(max(fpp, 1e-12)) / (math.log(2) ** 2)))
    k = min(16, max(1, round(m / n * math.log(2))))
    words = np.zeros((m + 63) // 64, dtype=np.uint64)
    if hashes.size:
        h = hashes.view(np.uint64)
        h1 = h % np.uint64(m)
        h2 = (h >> np.uint64(33)) | np.uint64(1)
        for i in range(k):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(
                words, (idx >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (idx & np.uint64(63)),
            )
    return words, m, k


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    fpp: float = 1e-3,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the scale lever for
    when the benchmark's distinct-gram set outgrows a broadcast hash
    set: ``decontaminate`` ships every gram string; this ships
    ~1.44 log2(1/fpp) BITS per gram (at fpp=1e-3 that is ~1.8 bytes vs
    tens of bytes per gram string — a 20-50x broadcast reduction).

    Returns (id, n_flagged_grams) for flagged docs only. GUARANTEED
    superset of the exact ``decontaminate`` output (Bloom filters have
    no false negatives); each doc's flagged-gram count can exceed its
    exact contaminated-gram count by the false-positive rate. Use as a
    cheap first-pass filter; exact-verify the (tiny) flagged set if
    fpp matters.

    Scale shape: benchmark grams collapse to distinct 64-bit hashes
    (one small aggregation on the SMALL side), the bit array is built
    driver-side (bounded: |bench grams| longs) and broadcast once; the
    corpus side is a single scan — grams are hashed JVM-side, only
    long arrays cross Arrow, and the probe is a vectorized NumPy
    segment-count. NO corpus shuffle, NO gram strings on the wire.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from .dedup import shingle_frame
    from .util import fan_out

    bench_hashes = np.array(
        [
            r[0]
            for r in shingle_frame(benchmark, text_col, n, explode=True)
            .select(F.xxhash64("__gram").alias("__h"))
            .distinct()
            .collect()
        ],
        dtype=np.int64,
    )
    words, m, k = _bloom_build(bench_hashes, fpp)
    bc = docs.sparkSession.sparkContext.broadcast((words, m, k))

    # no type hints: PEP 563 stringized annotations (future-import at
    # module top) break pandas_udf's signature inspection
    @pandas_udf(LongType())
    def bloom_hits(gram_arrays):
        w, m_, k_ = bc.value
        mu = np.uint64(m_)
        out = np.zeros(len(gram_arrays), dtype=np.int64)
        # NULL text -> NULL shingle array -> None here; treat as empty
        # (a doc with no content can't be contaminated) instead of
        # letting np.asarray(None) kill the stage — same NULL
        # discipline as simhash_pairs/decontaminate.
        arrs = [
            np.asarray(a if a is not None else [], dtype=np.int64)
            for a in gram_arrays
        ]
        lens = np.array([a.size for a in arrs], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series(out)
        h = np.concatenate([a for a in arrs if a.size]).view(np.uint64)
        h1 = h % mu
        h2 = (h >> np.uint64(33)) | np.uint64(1)
        hit = np.ones(h.size, dtype=bool)
        for i in range(k_):
            idx = (h1 + np.uint64(i) * h2) % mu
            bits = (
                w[(idx >> np.uint64(6)).astype(np.int64)]
                >> (idx & np.uint64(63))
            ) & np.uint64(1)
            hit &= bits.astype(bool)
        offsets = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        nonempty = lens > 0
        sums = np.add.reduceat(hit.astype(np.int64), offsets[nonempty])
        out[nonempty] = sums
        return pd.Series(out)

    # the UDF is deterministic, but marked otherwise so the optimizer
    # keeps the n_flagged_grams filter above it: pushed through the
    # projections, the filter re-ran the UDF with the tokenizer inlined
    # into the window lambda, and the projection then ran it again
    bloom_hits = bloom_hits.asNondeterministic()

    hashed = shingle_frame(fan_out(docs), text_col, n, id_col).select(
        F.col(id_col),
        F.transform("__grams", lambda g: F.xxhash64(g)).alias("__gh"),
    )
    return (
        hashed.select(
            F.col(id_col), bloom_hits(F.col("__gh")).alias("n_flagged_grams")
        )
        .filter(F.col("n_flagged_grams") > 0)
    )


def boilerplate_grams(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level boilerplate n-grams: distinct word n-grams that
    occur in at least ``min_docs`` distinct documents (navigation
    chrome, license headers, template text). Because ``shingle_frame``
    is already distinct-per-document, ``COUNT(*)`` after the explode IS
    the document frequency — no countDistinct expansion needed.

    Scale shape: explode -> partial-agg groupBy(gram); the shuffle
    carries at most |distinct grams per partition| rows. The result is
    tiny relative to the corpus (boilerplate is by definition shared),
    so downstream consumers broadcast it."""
    from .dedup import shingle_frame
    from .util import fan_out

    grams = shingle_frame(fan_out(docs), text_col, n, explode=True)
    return (
        grams.groupBy(F.col("__gram").alias("gram"))
        .agg(F.count("*").cast("long").alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_docs)
    )


def boilerplate_fraction(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Per-document boilerplate contamination: the fraction of each
    document's distinct word n-grams that are corpus boilerplate
    (per ``boilerplate_grams``). High-fraction documents are template
    spam a curation pipeline drops or down-weights.

    Two passes over the corpus (build the gram set, then probe it) —
    at 100 TB the first pass's output is persisted once and the probe
    is a broadcast hash join against the scan, so no corpus data is
    ever shuffled in the probe pass."""
    from .dedup import shingle_frame
    from .util import fan_out

    bp = boilerplate_grams(docs, id_col, text_col, n, min_docs).select(
        F.col("gram").alias("__gram"), F.lit(1).alias("__bp")
    )
    # one row per distinct gram of each document (never zero rows: an
    # empty or NULL text yields the single '' gram), so the per-doc row
    # count IS the gram count; bp is unique per gram, so the left join
    # keeps every row exactly once
    doc_grams = shingle_frame(fan_out(docs), text_col, n, id_col, explode=True)
    return (
        doc_grams.join(F.broadcast(bp), "__gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("__bp"), F.lit(0)).cast("long").alias("n_boilerplate"),
        )
        .withColumn(
            "boilerplate_frac",
            F.round(F.col("n_boilerplate") / F.col("n_grams"), 6),
        )
    )


def mixture_weights(
    df: DataFrame,
    source_col: str,
    token_col: str,
    temperature: float = 0.7,
    target_tokens: int | None = None,
) -> DataFrame:
    """Training-mixture weights per source/domain: temperature-scaled
    sampling probabilities ``w_s = tokens_s^T / sum_t tokens_t^T``
    (T=1 is proportional sampling, T->0 uniform — the multilingual/
    multi-domain rebalancing rule from GPT-3 / XLM-R data recipes).
    With ``target_tokens`` also emits ``epochs`` = how many passes over
    each source the target budget implies (epochs > 1 flags sources
    the schedule would repeat).

    Scale shape: one partial-agg groupBy over the corpus down to
    |sources| rows; the normalizer is a 1-row aggregate broadcast back
    over that tiny frame (not a global window — a single-partition
    WindowExec would funnel the rows through one task and warn) — the
    expensive scan happens exactly once and nothing larger than the
    source list is ever exchanged."""
    per_source = df.groupBy(source_col).agg(
        F.sum(token_col).cast("long").alias("tokens")
    )
    raw = F.pow(F.col("tokens"), F.lit(temperature))
    total = per_source.agg(F.sum(raw).alias("__total"))
    out = (
        per_source.crossJoin(F.broadcast(total))
        .withColumn("weight", F.round(raw / F.col("__total"), 6))
        .drop("__total")
    )
    if target_tokens is not None:
        out = out.withColumn(
            "epochs",
            F.round(F.lit(target_tokens) * F.col("weight") / F.col("tokens"), 6),
        )
    return out


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    group_col: str,
    order_col: str | None = None,
) -> DataFrame:
    """Next-fit sequence packing: assign documents to fixed-token-budget
    bins (training shards / context windows) in a deterministic order.

    Bin id = floor(exclusive-running-token-sum / budget) within each
    ``group_col`` partition — i.e. a document opens a new bin when the
    bin it would join has already reached the budget (the straddling
    document CLOSES its bin, so bins can overshoot by at most one
    document; that next-fit-with-overflow rule is what makes packing a
    pure window expression instead of a sequential loop).

    Scale shape: one hash-partition + in-partition sort per group — the
    same cost as any windowed aggregate. Packing is parallel across
    groups (shard corpora by domain/source; a single global pack order
    would serialize on one partition, which is exactly what training
    pipelines avoid by sharding first)."""
    from pyspark.sql import Window

    order = order_col or id_col
    w = (
        Window.partitionBy(group_col)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(token_col),
        F.floor(prior / budget).cast("long").alias("bin"),
    )


def materialize_packed_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_col: str,
    budget: int,
    group_col: str,
    separator: str = "\n\n",
    order_col: str | None = None,
) -> DataFrame:
    """Materialize the training shards ``pack_sequences`` plans: one
    row per (group, bin) with the member documents' text concatenated
    in pack order — the actual context-window payloads a trainer
    consumes.

    Order inside a shard is made deterministic without a second window:
    collect (order_key, text) structs per bin, ``array_sort`` (struct
    ordering = field order, so order_key leads), then join. One
    aggregation shuffle on (group, bin); text moves exactly once.

    Returns (group, bin, n_docs, total_tokens, text).
    """
    order = order_col or id_col
    # keep order_col in the projection when it is a distinct column —
    # pack_sequences orders its window by it
    pack_cols = [id_col, group_col, token_col]
    if order_col is not None and order_col not in pack_cols:
        pack_cols.append(order_col)
    packed = pack_sequences(
        df.select(*pack_cols), id_col, token_col,
        budget, group_col, order_col=order_col,
    )
    joined = packed.join(
        df.select(id_col, F.col(order).alias("__ord"), F.col(text_col)),
        id_col,
    )
    return (
        joined.groupBy(group_col, "bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(token_col).cast("long").alias("total_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__ord"), F.col(text_col)))
                    ),
                    lambda s: s[text_col],
                ),
                separator,
            ).alias("text"),
        )
    )


def dsir_logratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    buckets: int = 256,
    weight_col: str = "dsir_logratio",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    every document by how much more likely its hashed n-gram profile is
    under the TARGET distribution (rows where ``target`` is true — the
    high-quality slice you want more of) than under the RAW corpus
    distribution.

    Features are unigrams + bigrams of the normalized token stream,
    hashed into ``buckets`` buckets with the engine-portable md5_60
    hash (``dedup.token_hash_col``) — so the whole computation,
    including the hash, replays verbatim in the DuckDB oracle. Bucket
    probabilities are add-1 smoothed; the per-document weight is

        sum over gram occurrences of
            ln((tgt[b]+1)/(T+B)) - ln((raw[b]+1)/(R+B))

    with per-bucket log-ratios rounded to 6 before the sum and the sum
    rounded to 6 after (the repo's cross-engine float contract). Select
    with ``weighted_sample``/top-k downstream to actually resample.

    Distributed shape: ONE gram explode feeds both the bucket-count
    aggregate (B-bounded, two conditional sums in one pass) and the
    per-doc re-join; the bucket table (B rows) broadcasts back, so the
    only data-sized exchanges are the gram->bucket partial aggregate
    and the final per-doc sum — both on (id, long) pairs, never text.
    At 100 TB the bucket table stays KB-sized no matter the corpus.
    """
    from .dedup import token_hash_col
    from .text import normalize_text_col

    arr = F.split(normalize_text_col(text_col), " ")
    n_pairs = F.greatest(F.size(arr) - 1, F.lit(0))
    bigrams = F.transform(
        F.slice(arr, 1, n_pairs),
        lambda x, i: F.concat(x, F.lit(" "), F.element_at(arr, i + F.lit(2))),
    )
    grams = F.filter(
        F.concat(arr, bigrams), lambda g: F.length(g) > 0
    )
    base = df.select(
        F.col(id_col),
        target.alias("__tgt"),
        F.explode(grams).alias("__g"),
    ).select(
        id_col,
        "__tgt",
        F.pmod(token_hash_col(F.col("__g"), "md5_60"), F.lit(buckets)).alias(
            "__b"
        ),
    )
    counts = base.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__tc"),
        F.count("*").alias("__rc"),
    )
    totals = counts.agg(
        F.sum("__tc").alias("__T"), F.sum("__rc").alias("__R")
    )
    ratio = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "__b",
            F.round(
                F.log((F.col("__tc") + 1) / (F.col("__T") + buckets))
                - F.log((F.col("__rc") + 1) / (F.col("__R") + buckets)),
                6,
            ).alias("__lr"),
        )
    )
    return (
        base.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.round(F.sum("__lr"), 6).alias(weight_col),
        )
    )


def sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, chosen by the same
    md5(id) ordering the fraction samplers use — deterministic,
    engine-portable, and stable under reruns/backfills (a group's
    sample only changes when its membership does). Completes the
    sampling family: fraction (deterministic_sample), weighted-without-
    replacement (weighted_sample_keys), and now exact-k per group.

    One shuffle on the group key; the rank window rides it. Hot
    groups are one partition's rows — for whale groups where even
    ranking one group's rows on one task is too much, pre-filter with
    deterministic_sample(fraction ~ 10k/|group|) first and take k of
    the survivors (documented two-phase shape, same determinism).

    Ties: md5 collisions on the 32-hex prefix are ~2^-128; the id
    itself is the final tiebreak so the cut is total regardless.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    h = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(
        h.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def psi_drift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    group_cols: "Sequence[str] | None" = None,
    bins: int = 10,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Population Stability Index between a reference window and the
    current one — the standard model-monitoring drift score: bin
    edges come from the REFERENCE distribution's quantiles (equal-mass
    bins), both windows are histogrammed on those fixed edges, and
    PSI = sum (p_cur - p_ref) * ln(p_cur / p_ref). Rule-of-thumb
    reading (documented, not enforced): < 0.1 stable, 0.1-0.25 drift
    worth watching, > 0.25 action.

    Zero-count bins take an ``epsilon`` floor before the ratio (the
    standard PSI regularization — ln(0) otherwise). Edges, bin shares,
    and the PSI term all round to 6 so both engines of a cross-engine
    comparison bin and sum identically; bin assignment is right-open
    on interior edges with the last bin closed (a max-value row stays
    in bin ``bins``).

    Plan: one exact-percentile aggregate over the reference (the
    edges, <= bins values, broadcast), then one groupBy per window on
    (group, bin) with map-side combine — the windows are scanned once
    each, nothing data-sized shuffles.

    Output: group_cols + (psi DOUBLE, n_ref, n_cur BIGINT), one row
    per group (or a single global row when ``group_cols`` is None).
    """
    keys = list(group_cols or [])
    probs = [i / bins for i in range(1, bins)]
    edge_agg = [
        F.round(F.percentile(value_col, p), 6).alias(f"__e{i}")
        for i, p in enumerate(probs)
    ]
    edges = (
        reference.groupBy(*keys).agg(*edge_agg)
        if keys
        else reference.agg(*edge_agg)
    )

    def _bin(col: Column) -> Column:
        # right-open interior bins: bin b = # edges <= value, so the
        # minimum lands in bin 0 and the maximum in bin bins-1
        b = F.lit(0)
        for i in range(len(probs)):
            b = b + (col >= F.col(f"__e{i}")).cast("int")
        return b

    def _shares(df: DataFrame, side: str) -> DataFrame:
        with_edges = (
            df.join(edges, keys) if keys else df.crossJoin(F.broadcast(edges))
        )
        binned = with_edges.select(
            *keys, _bin(F.col(value_col)).alias("__bin")
        )
        counts = binned.groupBy(*keys, "__bin").agg(
            F.count("*").alias(f"__c_{side}")
        )
        totals = binned.groupBy(*keys).agg(
            F.count("*").alias(f"__n_{side}")
        )
        return counts.join(totals, keys) if keys else counts.crossJoin(
            F.broadcast(totals)
        )

    ref = _shares(reference.filter(F.col(value_col).isNotNull()), "ref")
    cur = _shares(current.filter(F.col(value_col).isNotNull()), "cur")
    joined = ref.join(cur, [*keys, "__bin"], "outer").select(
        *keys,
        "__bin",
        F.coalesce("__c_ref", F.lit(0)).alias("__c_ref"),
        F.coalesce("__c_cur", F.lit(0)).alias("__c_cur"),
        F.first("__n_ref", ignorenulls=True)
        .over(Window.partitionBy(*keys) if keys else Window.partitionBy())
        .alias("__n_ref"),
        F.first("__n_cur", ignorenulls=True)
        .over(Window.partitionBy(*keys) if keys else Window.partitionBy())
        .alias("__n_cur"),
    )
    p_ref = F.greatest(
        F.round(F.col("__c_ref") / F.col("__n_ref"), 6), F.lit(epsilon)
    )
    p_cur = F.greatest(
        F.round(F.col("__c_cur") / F.col("__n_cur"), 6), F.lit(epsilon)
    )
    term = F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6)
    return (
        joined.withColumn("__term", term)
        .groupBy(*keys)
        .agg(
            F.round(F.sum("__term"), 6).alias("psi"),
            F.max("__n_ref").cast("long").alias("n_ref"),
            F.max("__n_cur").cast("long").alias("n_cur"),
        )
    )


def woe_iv_bins(
    df: DataFrame,
    value_col: str,
    label_col: Column | str,
    bins: int = 10,
    epsilon: float = 1e-4,
) -> DataFrame:
    """Supervised feature diagnostics: equal-mass bins of a numeric
    feature with per-bin Weight of Evidence against a binary label,
    plus the Information Value decomposition — the standard
    scorecard/feature-selection readout (IV rule of thumb, documented
    not enforced: < 0.02 useless, 0.02-0.1 weak, 0.1-0.3 medium,
    0.3-0.5 strong).

    ``label_col`` is a boolean column (or name): True = event/"bad".
    Bin edges come from the FULL population's quantiles (equal-mass,
    the same discipline as :func:`psi_drift`); WOE_i =
    ln(dist_event_i / dist_nonevent_i) with the epsilon floor on
    empty cells; iv_term_i = (dist_event_i - dist_nonevent_i) * WOE_i
    and ``iv_total`` repeats their sum on every row (a window over
    <= ``bins`` rows).

    Cross-engine: counts are exact; distributions round to 6 BEFORE
    the log (identical doubles into ln on both engines); WOE and IV
    terms round to 6 after. NULL feature values are excluded; NULL
    labels are rejected upstream by comparison semantics (coalesce
    first if your label can be NULL).

    Plan: one exact-percentile aggregate (edges, broadcast — never
    collected), one map-side-combined (bin, label) count, then
    arithmetic over <= ``bins`` rows. Two scans, nothing data-sized
    shuffles — the same shape at any corpus size.

    Output: (bin, n BIGINT, n_event BIGINT, event_rate, dist_event,
    dist_nonevent, woe, iv_term, iv_total), ordered by bin.
    """
    if bins < 2:
        raise ValueError("woe_iv_bins needs bins >= 2")
    label = F.col(label_col) if isinstance(label_col, str) else label_col
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("__v"), label.cast("boolean").alias("__y")
    )
    probs = [i / bins for i in range(1, bins)]
    edges = base.agg(
        *[
            F.round(F.percentile("__v", p), 6).alias(f"__e{i}")
            for i, p in enumerate(probs)
        ]
    )
    b = F.lit(0)
    for i in range(len(probs)):
        b = b + (F.col("__v") >= F.col(f"__e{i}")).cast("int")
    binned = base.crossJoin(F.broadcast(edges)).select(
        b.alias("bin"), "__y"
    )
    cnt = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("__y").cast("long")).cast("long").alias("n_event"),
    )
    tot = Window.partitionBy()
    n_event_tot = F.sum("n_event").over(tot)
    n_non_tot = F.sum(F.col("n") - F.col("n_event")).over(tot)
    de = F.greatest(
        F.round(F.col("n_event") / n_event_tot, 6), F.lit(epsilon)
    )
    dn = F.greatest(
        F.round((F.col("n") - F.col("n_event")) / n_non_tot, 6),
        F.lit(epsilon),
    )
    woe = F.round(F.log(de / dn), 6)
    iv_term = F.round((de - dn) * F.log(de / dn), 6)
    out = cnt.select(
        F.col("bin").cast("long").alias("bin"),
        "n",
        "n_event",
        F.round(F.round(F.col("n_event"), 6) / F.col("n"), 6).alias(
            "event_rate"
        ),
        de.alias("dist_event"),
        dn.alias("dist_nonevent"),
        woe.alias("woe"),
        iv_term.alias("iv_term"),
    )
    return out.withColumn(
        "iv_total", F.round(F.sum("iv_term").over(Window.partitionBy()), 6)
    ).orderBy("bin")


def leakage_safe_splits(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
    train_fraction: float = 0.9,
) -> DataFrame:
    """Train/test split that CANNOT leak near-duplicates across the
    boundary: split by near-dup CLUSTER, not by document. A plain
    split_col() puts two 95%-identical documents on opposite sides
    and the eval set silently overlaps training — the leakage every
    contamination audit exists to catch, created at split time.
    Here every connected component of the ``pairs`` graph (from any
    near-dup detector: ngram Jaccard, MinHash, SemDeDup) lands WHOLLY
    in one split: the split hash reads the cluster representative,
    singletons hash their own id.

    Same md5-prefix determinism as split_col — reproducible across
    runs, engines, and cluster sizes; adding new singleton documents
    never reshuffles existing assignments (the stratified-sampling
    stability contract), though growing a CLUSTER can move that
    cluster as a unit (by design: its representative may change).

    Plan: min-label connected components over the pair graph
    ((node, label) longs only), one left join of the corpus against
    the component map (near-dup members are the small side), and a
    shuffle-free hash filter. Returns df + (cluster, split).
    """
    from .graph import connected_components  # noqa: PLC0415

    comps = connected_components(pairs, pair_a, pair_b)
    # explicit broadcast: the component map holds only near-dup
    # MEMBERS (a sliver of the corpus); without the hint this can
    # plan as a sort-merge join shuffling every corpus row on id
    out = df.join(
        F.broadcast(
            comps.select(
                F.col("node").alias(id_col),
                F.col("component").alias("__comp"),
            )
        ),
        id_col,
        "left",
    ).withColumn(
        "cluster", F.coalesce(F.col("__comp"), F.col(id_col))
    )
    return out.withColumn(
        "split", split_col(F.col("cluster"), train_fraction)
    ).drop("__comp")


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Optimal (Neyman) sample-size allocation across strata: given a
    total labeling/inspection ``budget``, allocate n_h ∝ N_h·σ_h —
    more samples where the stratum is BIG and VARIABLE — the design
    that minimizes the variance of the stratified estimator
    (Neyman 1934). The design-time complement of the engine's
    sampling executors (``sample_exact_k_per_group`` draws what this
    decides); proportional allocation is the σ-blind special case.

    Integer-exact end to end, so the allocation is bit-identical on
    any engine: σ_h comes from exact DECIMAL moments (n·Σx² − (Σx)²
    on integer-quantized values — summation order unobservable),
    weights are BIGINTs w_h = N_h·round(σ_h·1e6), each stratum's base
    share is the exact integer division (budget·w_h) div W, and the
    leftover (budget − Σ base) goes to the largest exact remainders
    (budget·w_h) mod W, ties broken on the stratum name — the
    largest-remainder method, so Σ alloc == budget exactly whenever
    any stratum varies. Zero-variance strata weigh 0 (one probe
    proves them; cap/floor policy is the caller's).

    ``value_col`` must be integer-valued (quantize first — the
    operator casts to DECIMAL(38,0) for the moment sums). n_h may
    exceed N_h for extreme σ skew (Neyman's formula is unconstrained;
    callers clamp and re-run on the remainder if sampling without
    replacement).

    Plan: one map-side-combined stratum aggregate (strata-sized
    output), one broadcast total, one ordered window over the
    strata frame. Nothing row-scale shuffles twice.

    Returns per stratum: (stratum, n_rows BIGINT, sigma, weight
    BIGINT, alloc BIGINT), ordered by stratum.
    """
    if budget < 0:
        raise ValueError("budget must be >= 0")
    x = F.col(value_col).cast("decimal(38,0)")
    per = (
        df.filter(
            F.col(stratum_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .groupBy(F.col(stratum_col).alias("stratum"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(x).alias("__sx"),
            F.sum((x * x).cast("decimal(38,0)")).alias("__sxx"),
        )
    )
    n = F.col("n_rows")
    # sample variance from exact moments; one double division at the end
    var = F.when(
        n >= 2,
        (
            (n.cast("decimal(38,0)") * F.col("__sxx"))
            - (F.col("__sx") * F.col("__sx")).cast("decimal(38,0)")
        ).cast("double")
        / (n * (n - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    sigma = F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6)
    weighted = per.select(
        "stratum",
        "n_rows",
        sigma.alias("sigma"),
        (n * F.round(sigma * 1_000_000, 0).cast("long")).alias("weight"),
    )
    tot = weighted.agg(F.sum("weight").alias("__w_total"))
    j = weighted.crossJoin(F.broadcast(tot))
    # (budget*w) div W / mod W on non-negative DECIMAL(38,0)s — `div`
    # truncates, which equals floor here, matching DuckDB's `//`
    wt = (
        F.col("weight").cast("decimal(38,0)")
        * F.lit(budget).cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    wtot = F.col("__w_total").cast("decimal(38,0)")
    base = F.when(
        F.col("__w_total") > 0,
        F.expr(
            f"CAST(CAST(weight AS DECIMAL(38,0)) * CAST({budget} AS"
            " DECIMAL(38,0)) AS DECIMAL(38,0))"
            " div CAST(__w_total AS DECIMAL(38,0))"
        ),
    ).otherwise(F.lit(0))
    rem = F.when(
        F.col("__w_total") > 0, F.pmod(wt, wtot)
    ).otherwise(F.lit(0).cast("decimal(38,0)"))
    staged = j.select(
        "stratum",
        "n_rows",
        "sigma",
        "weight",
        base.alias("__base"),
        rem.alias("__rem"),
    )
    w_left = Window.orderBy(F.desc("__rem"), F.asc("stratum"))
    w_all = Window.partitionBy()
    out = staged.select(
        "stratum",
        "n_rows",
        "sigma",
        "weight",
        (
            F.col("__base")
            + F.when(
                # leftover only exists when some stratum varies; the
                # all-zero-weight table allocates nothing (Neyman has
                # no preference — the caller picks a fallback design)
                (F.max("weight").over(w_all) > 0)
                & (
                    F.row_number().over(w_left)
                    <= F.lit(budget) - F.sum("__base").over(w_all)
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )
    return out.orderBy("stratum")


def hellinger_drift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    group_cols: "Sequence[str] | None" = None,
    bin_width: float = 1.0,
) -> DataFrame:
    """Hellinger / Bhattacharyya drift between a reference window and
    the current one — the METRIC companion to psi_drift: PSI is the
    monitoring convention (unbounded, epsilon-floored, reference-
    quantile bins), Hellinger is a true bounded distance
    (0 <= H <= 1, symmetric, triangle inequality) that needs NO
    epsilon — disjoint support simply scores H = 1 — so it composes
    into downstream math (mixture reweighting, drift budgets) where
    PSI's floor distorts:

        BC = Σ_bins sqrt(p_bin · q_bin)      (Bhattacharyya coefficient)
        H  = sqrt(1 - BC)                     D_B = -ln(BC)

    Bins are FIXED-WIDTH (the calibration_report discipline, not
    PSI's reference quantiles): bin = floor(value / bin_width) on the
    micros integers, so the bin grid is identical across runs,
    engines, and windows — and only bins PRESENT IN BOTH windows
    contribute to BC (terms with p or q = 0 vanish), so the pair join
    is an INNER join on (group, bin), never a dense grid (the jsd
    shared-support identity).

    Exactness: counts are exact BIGINTs off one (group, bin)
    aggregate per window; values quantize to micros and bin on
    integer division (negative values are excluded — Hellinger here
    is a distribution distance over a nonnegative measure; shift
    upstream if needed); sqrt terms sum then round-6. Groups present
    in both windows but sharing no bin emit BC = 0, H = 1, NULL
    Bhattacharyya (-ln 0).

    Plan: two map-side-combined (group, bin) aggregates + bin-
    cardinality-sized joins. Nothing data-sized shuffles twice.

    Returns (group..., n_ref BIGINT, n_cur BIGINT, bc, hellinger,
    bhattacharyya).
    """
    if bin_width <= 0:
        raise ValueError(f"bin_width must be > 0; got {bin_width}")
    keys = list(group_cols or [])
    wm = int(round(bin_width * 1_000_000))
    if wm <= 0:
        raise ValueError("bin_width must be >= 1e-6")
    mic = F.floor(F.col(value_col) * 1_000_000 + F.lit(0.5)).cast("long")

    def _cells(df: DataFrame, side: str) -> DataFrame:
        binned = df.filter(
            F.col(value_col).isNotNull() & (F.col(value_col) >= 0)
        ).select(*keys, (mic / F.lit(wm)).cast("long").alias("__bin"))
        return binned.groupBy(*keys, "__bin").agg(
            F.count("*").cast("long").alias(f"__c_{side}")
        )

    ref = _cells(reference, "ref")
    cur = _cells(current, "cur")
    tot_r = ref.groupBy(*keys).agg(
        F.sum("__c_ref").cast("long").alias("n_ref")
    )
    tot_c = cur.groupBy(*keys).agg(
        F.sum("__c_cur").cast("long").alias("n_cur")
    )
    shared = (
        ref.join(cur, [*keys, "__bin"])
        .groupBy(*keys)
        .agg(
            F.sum(
                F.sqrt(
                    F.col("__c_ref").cast("double") * F.col("__c_cur")
                )
            ).alias("__s")
        )
    )
    if keys:
        joined = tot_r.join(tot_c, keys).join(shared, keys, "left")
    else:
        # global form: totals are 1-row frames; the shared frame can be
        # EMPTY (no shared bin anywhere), so seat via an always-true
        # LEFT join, not a crossJoin that would erase the row
        joined = tot_r.crossJoin(tot_c).join(shared, F.lit(True), "left")
    bc = F.coalesce(
        F.col("__s") / F.sqrt(F.col("n_ref").cast("double") * F.col("n_cur")),
        F.lit(0.0),
    )
    out = joined.select(
        *keys,
        "n_ref",
        "n_cur",
        F.round(bc, 6).alias("bc"),
        F.round(F.sqrt(F.greatest(F.lit(0.0), 1.0 - bc)), 6).alias(
            "hellinger"
        ),
        F.round(F.when(bc > 0, -F.log(bc)), 6).alias("bhattacharyya"),
    )
    # global (group_cols=None) form is a single row — nothing to order
    return out.orderBy(*keys) if keys else out


#: Gopher-style document-quality rule thresholds (Rae et al. 2021,
#: "Scaling Language Models: ... Gopher", Table A1 — the repeatable
#: subset expressible over whitespace tokens). Injected identically
#: into both engines' plans; a rule change is a CONTRACT change.
GOPHER_RULES = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,  # '#' or '...' per word
    "min_alpha_word_ratio": 0.8,  # words containing >= 1 alphabetic
}


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rules: dict | None = None,
) -> DataFrame:
    """Gopher-style rule-based document quality flags — the classic
    pre-filter every LLM data pipeline runs before any learned
    scorer (unigram_quality_score, nb filters): per document, one
    boolean per rule (word-count window, mean-word-length window,
    symbol-to-word ratio, alphabetic-word ratio) plus the composite
    pass. Rule thresholds are injected literals (GOPHER_RULES);
    citing Rae et al. 2021 Table A1's repeatable subset — the
    stopword rule needs a wordlist and lives with nb_language's
    marker machinery instead.

    Exactness: every counter is an exact integer off the normalized
    whitespace tokenization (text.normalize_text_col), ratios are
    single double divisions, flags are engine-identical comparisons
    against the injected thresholds. Empty/whitespace documents get
    n_words = 0 and fail min_words (not NULL — a filter must decide).

    Plan at scale: pure column expressions over one scan — zero
    shuffles, zero joins; whole-stage-codegen friendly (the
    text_profile discipline).

    Returns (id, n_words BIGINT, mean_word_len, symbol_word_ratio,
    alpha_word_ratio, pass_min_words, pass_word_len,
    pass_symbol_ratio, pass_alpha_ratio, pass_all — all BOOLEAN).
    """
    from .text import normalize_text_col

    r = dict(GOPHER_RULES)
    if rules:
        r.update(rules)
    norm = normalize_text_col(text_col)
    words = F.filter(F.split(norm, " "), lambda w: F.length(w) > 0)
    n_words = F.size(words).cast("long")
    # chars across words (normalized text has single spaces)
    n_chars = (F.length(norm) - (n_words - 1)).cast("double")
    mean_wl = F.when(n_words > 0, n_chars / n_words.cast("double"))
    n_symbols = (
        F.size(F.split(norm, r"#", -1))
        - 1
        + F.size(F.split(norm, r"\.\.\.", -1))
        - 1
    ).cast("long")
    sym_ratio = F.when(
        n_words > 0, n_symbols.cast("double") / n_words.cast("double")
    )
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ).cast("long")
    alpha_ratio = F.when(
        n_words > 0, n_alpha.cast("double") / n_words.cast("double")
    )
    p_minw = n_words >= F.lit(int(r["min_words"]))
    p_maxw = n_words <= F.lit(int(r["max_words"]))
    p_wl = (
        (mean_wl >= F.lit(float(r["min_mean_word_len"])))
        & (mean_wl <= F.lit(float(r["max_mean_word_len"])))
    )
    p_sym = sym_ratio <= F.lit(float(r["max_symbol_word_ratio"]))
    p_alpha = alpha_ratio >= F.lit(float(r["min_alpha_word_ratio"]))
    false_when_empty = lambda c: F.coalesce(c, F.lit(False))  # noqa: E731
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_word_ratio"),
        (p_minw & p_maxw).alias("pass_min_words"),
        false_when_empty(p_wl).alias("pass_word_len"),
        false_when_empty(p_sym).alias("pass_symbol_ratio"),
        false_when_empty(p_alpha).alias("pass_alpha_ratio"),
        (
            p_minw
            & p_maxw
            & false_when_empty(p_wl)
            & false_when_empty(p_sym)
            & false_when_empty(p_alpha)
        ).alias("pass_all"),
    )


def effective_sample_size(
    df: DataFrame,
    group_cols: list[str],
    weight_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Kish effective sample size of a weight column per group — the
    ONE number that says whether a weighting scheme (DSIR importance
    weights, CEM control weights, mixture epochs) silently collapsed
    the data: ESS = (Σw)²/Σw², and ess_ratio = ESS/n ("0.05 means
    your 1M weighted rows carry the information of 50k"). The audit
    that belongs between computing weights and trusting anything
    weighted by them.

    Exactness: weights quantize to ``1/scale`` units (exact BIGINT
    for ≤6dp weights); Σw and Σw² ride DECIMAL(38,0), so ESS is one
    double expression of exact integers (the quantization unit
    cancels in both ESS and the ratio). Non-positive weights are
    excluded and counted in n_dropped (a zero weight carries no
    information; a negative one is a caller bug worth seeing); NULL
    weights are filtered out BEFORE counting (the isNotNull
    discipline — n_dropped reports one cause, advisor r10).

    Plan at scale: ONE map-side-combined aggregate — no window, no
    join.

    Returns (group_cols..., n BIGINT, n_dropped BIGINT, sum_weight,
    ess, ess_ratio, max_weight_share — the largest single weight's
    fraction of the total, the 'one row dominates' tell).
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # NULL weights are excluded BEFORE counting (the package-wide
    # isNotNull discipline — advisor r10: n_dropped reports excluded
    # NON-POSITIVE weights only, not a conflation of two causes)
    base = df.filter(F.col(weight_col).isNotNull()).select(
        *group_cols,
        F.round(F.col(weight_col) * scale, 0).cast("long").alias("__w"),
    )
    pos = F.col("__w") > 0
    v = dec(F.col("__w"))
    agg = base.groupBy(*group_cols).agg(
        F.sum(pos.cast("long")).cast("long").alias("n"),
        F.sum((~pos).cast("long")).cast("long").alias("n_dropped"),
        F.sum(F.when(pos, v)).cast("decimal(38,0)").alias("__s1"),
        F.sum(F.when(pos, (v * v).cast("decimal(38,0)")))
        .cast("decimal(38,0)")
        .alias("__s2"),
        F.max(F.when(pos, F.col("__w"))).alias("__wmax"),
    )

    def dbl(c):
        return F.col(c).cast("string").cast("double")

    ok = F.col("n") > 0
    ess = dbl("__s1") * dbl("__s1") / dbl("__s2")
    return agg.select(
        *group_cols,
        "n",
        "n_dropped",
        F.round(
            F.when(ok, dbl("__s1") / F.lit(float(scale))), 6
        ).alias("sum_weight"),
        F.round(F.when(ok, ess), 6).alias("ess"),
        F.round(
            F.when(ok, ess / F.col("n").cast("double")), 6
        ).alias("ess_ratio"),
        F.round(
            F.when(ok, F.col("__wmax").cast("double") / dbl("__s1")), 6
        ).alias("max_weight_share"),
    ).orderBy(*group_cols)


def ngram_novelty(
    train: DataFrame,
    test: DataFrame,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """N-gram novelty of a held-out set against a training corpus —
    the MEMORIZATION/coverage audit decontaminate's boolean hit-test
    doesn't give: what FRACTION of the test set's distinct n-grams
    never appear in training ("novelty 0.02 means your eval is
    quoting the train set"; novelty ~1 means the eval is
    out-of-domain). One row: distinct test n-grams, how many are
    unseen in train, the novelty rate, plus the token-weighted rate
    (occurrence-weighted — a single novel rare gram can't mask a
    memorized head).

    Exactness: n-grams hash via the engine-portable normalized-text
    pipeline (xxhash64 over the joined token window, the dedup
    family's construction); all counts exact BIGINTs; rates single
    divisions.

    Plan at scale: two (gram) DISTINCT/count aggregates + ONE
    LEFT ANTI join from the test gram frame against the train gram
    frame (both vocabulary-sized, never corpus-sized); the train
    side can persist across eval rounds (the incremental_dedup
    pattern).

    Returns one row: (test_grams BIGINT, unseen_grams BIGINT,
    novelty, test_occurrences BIGINT, unseen_occurrences BIGINT,
    novelty_weighted).
    """
    from .text import normalize_text_col

    def grams(df_):
        toks = F.split(normalize_text_col(text_col), " ")
        g = F.filter(
            F.transform(
                toks,
                lambda _, i: F.array_join(F.slice(toks, i + 1, n), " "),
            ),
            lambda _, i: i < F.size(toks) - (n - 1),
        )
        return (
            df_.select(F.explode(g).alias("__g"))
            .filter(F.length("__g") > 0)
            .select(F.xxhash64("__g").alias("__h"))
        )

    train_g = grams(train).distinct()
    test_counts = grams(test).groupBy("__h").agg(
        F.count("*").cast("long").alias("__c")
    )
    unseen = test_counts.join(train_g, "__h", "left_anti")
    tot = test_counts.agg(
        F.count("*").cast("long").alias("test_grams"),
        F.sum("__c").cast("long").alias("test_occurrences"),
    )
    un = unseen.agg(
        F.count("*").cast("long").alias("unseen_grams"),
        F.sum("__c").cast("long").alias("unseen_occurrences"),
    )
    j = tot.crossJoin(F.broadcast(un))
    return j.select(
        "test_grams",
        F.coalesce(F.col("unseen_grams"), F.lit(0)).alias("unseen_grams"),
        F.round(
            F.when(
                F.col("test_grams") > 0,
                F.coalesce(F.col("unseen_grams"), F.lit(0)).cast("double")
                / F.col("test_grams").cast("double"),
            ),
            6,
        ).alias("novelty"),
        "test_occurrences",
        F.coalesce(F.col("unseen_occurrences"), F.lit(0)).alias(
            "unseen_occurrences"
        ),
        F.round(
            F.when(
                F.col("test_occurrences") > 0,
                F.coalesce(F.col("unseen_occurrences"), F.lit(0)).cast(
                    "double"
                )
                / F.col("test_occurrences").cast("double"),
            ),
            6,
        ).alias("novelty_weighted"),
    )


def padding_waste(
    df: DataFrame,
    text_col: str,
    buckets=(16, 32, 64, 128, 256, 512, 1024, 2048),
) -> DataFrame:
    """Padding-waste report for power-of-two length bucketing — the
    batching-economics readout pack_sequences (concat packing)
    replaces and length-bucketed training still pays: when batches
    pad every document to its bucket's length, the fraction of
    padded positions IS wasted compute. Each document lands in the
    smallest bucket >= its whitespace-token count (longer documents
    clip to the top bucket — truncation, not padding, so their
    waste is 0 by convention, documented); per bucket the report
    gives docs, EFFECTIVE tokens, padded slots and the waste
    fraction a batch scheduler would pay. ``tokens`` is the
    post-truncation token total (``least(ntok, top_bucket)`` summed
    — the positions a bucketed batch actually carries), NOT the raw
    corpus token count: a document longer than the top bucket
    contributes exactly ``top_bucket`` here, by the same
    truncation-not-padding convention (advisor r12).

    Determinism: bucket assignment is a CASE ladder over integer
    literals (no log2 floats to misround); counts exact BIGINTs.

    Plan at scale: one map-side token-count projection off the
    scan, one |buckets|-bounded aggregate. No shuffle beyond the
    bucket rollup.

    Returns (bucket_len BIGINT, docs BIGINT, tokens BIGINT —
    effective/post-clip, padded_slots BIGINT, waste_frac) ordered by
    bucket_len.
    """
    from .text import normalize_text_col

    sizes = sorted(set(int(b) for b in buckets))
    ntok = F.size(F.split(normalize_text_col(text_col), " "))
    expr = None
    for b in sizes:
        cond = ntok <= b
        expr = (
            F.when(cond, F.lit(b)) if expr is None else expr.when(cond, F.lit(b))
        )
    bucket = expr.otherwise(F.lit(sizes[-1]))
    eff = F.least(ntok, F.lit(sizes[-1]))
    base = df.filter(F.col(text_col).isNotNull()).select(
        bucket.cast("long").alias("bucket_len"),
        eff.cast("long").alias("__len"),
    )
    agg = base.groupBy("bucket_len").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("__len").cast("long").alias("tokens"),
        (
            F.sum(F.col("bucket_len") - F.col("__len")).cast("long")
        ).alias("padded_slots"),
    )
    return agg.select(
        "bucket_len",
        "docs",
        "tokens",
        "padded_slots",
        F.round(
            F.col("padded_slots").cast("double")
            / (F.col("docs") * F.col("bucket_len")).cast("double"),
            6,
        ).alias("waste_frac"),
    ).orderBy("bucket_len")


def group_kfold_assign(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Group-aware k-fold assignment: every row of a group lands in
    the SAME fold — the cross-validation rung of the split family
    next to deterministic train/val/test hashing and
    leakage_safe_splits (no group straddles a fold boundary, the
    per-user leakage mode a row-wise split invites). Fold =
    md5_60(group ⊕ seed) mod k — the engine-portable content hash
    every sampling/split operator here shares, so assignment is
    reproducible across engines, sessions and partitionings, and a
    NEW group joins a fold without reshuffling old ones (stable
    residency, the incremental-dedup property).

    Returns the per-fold audit frame (fold BIGINT, n_groups BIGINT,
    n_rows BIGINT, share), ordered by fold — the balance readout a
    pipeline asserts on before training (md5 folds are binomial-
    balanced, not exactly equal; the audit is the point). Join the
    assignment expression (``kfold_col``) onto the data frame for
    the actual split.
    """
    fold = kfold_col(group_col, k, seed)
    base = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("__g"), fold.alias("fold")
    )
    per_fold = base.groupBy("fold").agg(
        F.count_distinct("__g").cast("long").alias("n_groups"),
        F.count("*").cast("long").alias("n_rows"),
    )
    tot = per_fold.agg(F.sum("n_rows").alias("__tot"))
    return (
        per_fold.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_groups",
            "n_rows",
            F.round(
                F.col("n_rows").cast("double")
                / F.col("__tot").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("fold")
    )


def kfold_col(group_col: str, k: int = 5, seed: int = 42) -> Column:
    """The fold-assignment expression behind ``group_kfold_assign``:
    pmod(md5_60(group ⊕ seed), k) — DuckDB twin:
    ``('0x' || substring(md5(g || chr(31) || seed), 1, 15))::BIGINT
    % k`` (non-negative because md5_60 keeps only 60 bits)."""
    from .dedup import token_hash_col

    h = token_hash_col(
        F.concat_ws(
            "\x1f", F.col(group_col).cast("string"), F.lit(str(seed))
        ),
        "md5_60",
    )
    return F.pmod(h, F.lit(k)).cast("long")
