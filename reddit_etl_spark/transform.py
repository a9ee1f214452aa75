"""Transform stage — pure column expressions, zero Python UDFs.

Re-expresses the reference's pandas ``transform_data``
(script.py:187-224) as native Spark column functions. Every subtle
semantic verified in SURVEY §2.3 is preserved:

- P1  title_length measures the RAW title (cleaning happens after —
  script.py:198 vs :216).
- P2/P3  selftext_length is computed BEFORE the NULL->'' fill, so a NULL
  selftext yields selftext_length NULL and has_selftext False
  (script.py:199-200 vs :217).
- P5  day_of_week uses the pandas convention Monday=0..Sunday=6
  (script.py:204) -> ``F.weekday``, NOT ``F.dayofweek`` (Sunday=1).
- P6  engagement_rate = num_comments / (score + 1). pandas yields inf
  at score = -1; Spark (ANSI off) yields NULL — NULL is the engine's
  documented semantic (SURVEY P6).
- P7  score_category reproduces the right-closed ``pd.cut`` bins
  (-inf,0],(0,10],(10,100],(100,1000],(1000,inf)
  (script.py:209-213): <=0 Negative, <=10 Low, <=100 Medium,
  <=1000 High, else Viral. NULL score -> NULL category (pd.cut NaN).
- P8  title cleaning strips non-[\\w\\s] then trims (script.py:216).
- P9  selftext NULL -> '' (script.py:217).
- P10 empty input passes through with the full output schema.

All expressions stay inside whole-stage codegen — at 100 TB this stage
is a single narrow (shuffle-free) projection over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def score_category_col(score: Column | str) -> Column:
    """Right-closed pd.cut bins (reference script.py:209-213)."""
    s = F.col(score) if isinstance(score, str) else score
    return (
        F.when(s.isNull(), F.lit(None).cast("string"))
        .when(s <= 0, "Negative")
        .when(s <= 10, "Low")
        .when(s <= 100, "Medium")
        .when(s <= 1000, "High")
        .otherwise("Viral")
    )


def engagement_rate_col(num_comments: Column | str, score: Column | str) -> Column:
    """num_comments / (score + 1); divisor 0 -> NULL (reference script.py:207)."""
    n = F.col(num_comments) if isinstance(num_comments, str) else num_comments
    s = F.col(score) if isinstance(score, str) else score
    return n / (s + F.lit(1))


def clean_title_col(title: Column | str) -> Column:
    """Strip non-[\\w\\s] then trim (reference script.py:216).

    The reference's Python ``\\w`` is Unicode-aware (keeps ``é``,
    ``日``); Java's is ASCII-only, so the faithful translation is the
    explicit Unicode classes ``\\p{L}\\p{N}_``."""
    t = F.col(title) if isinstance(title, str) else title
    return F.trim(F.regexp_replace(t, r"[^\p{L}\p{N}_\s]", ""))


def transform_posts(df: DataFrame, extracted_at: Column | None = None) -> DataFrame:
    """Derive the 7 transform columns + extracted_at over raw posts.

    One projection: every expression reads the RAW columns, so the
    lengths measure the raw title and selftext (P1, P2) while the same
    projection cleans title and back-fills selftext (P8, P9), the order
    the reference imposes by sequencing (script.py:198-217). Replaced
    columns keep their position and the derived ones follow in the
    order below, ``extracted_at`` last; one ``select`` is one analysis
    on the driver, where a ``withColumn`` chain re-analyses the plan
    per column.

    ``extracted_at``: an explicit column wins; else the frame's own
    ``extracted_at`` column, the batch instant ``posts_df`` lifts with
    the records, is moved to the end; else ``current_timestamp()``.
    Only the middle case keeps the generated code the same from batch
    to batch: ``current_timestamp()`` (or an explicit literal) folds
    into a timestamp literal, which whole-stage codegen inlines into
    the projection's source, so each new instant compiles a new class.
    """
    columns = df.columns
    if extracted_at is None:
        extracted_at = (
            F.col("extracted_at") if "extracted_at" in columns
            else F.current_timestamp()
        )
    replaced = {
        "title": clean_title_col("title"),  # P8, over the raw title
        "selftext": F.coalesce("selftext", F.lit("")),  # P9
    }
    derived = {
        # lengths on RAW values (P1, P2)
        "title_length": F.length("title").cast("long"),
        "selftext_length": F.length("selftext").cast("long"),
        # NULL selftext => has_selftext False, NOT NULL (P3)
        "has_selftext": F.coalesce(F.length("selftext") > 0, F.lit(False)),
        "hour_posted": F.hour("created_utc").cast("long"),
        "day_of_week": F.weekday("created_utc").cast("long"),  # Mon=0 (P5)
        "engagement_rate": engagement_rate_col("num_comments", "score"),
        "score_category": score_category_col("score"),
        "extracted_at": extracted_at,
    }
    return df.select(
        *(replaced[c].alias(c) if c in replaced else c
          for c in columns if c not in derived),
        *(col.alias(name) for name, col in derived.items()),
    )
