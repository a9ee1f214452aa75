"""Generate PLANS.md — physical-plan highlights for every headline
query, so plan regressions are reviewable in diffs.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_etl_spark.harness import registry  # noqa: E402
from reddit_etl_spark.plans.inspect import (  # noqa: E402
    count_exchanges,
    has_broadcast_join,
    pushed_filters,
    scan_columns,
    uses_take_ordered,
)
from reddit_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLANS — physical-plan summary per headline query",
        "",
        f"Generated by `tools/dump_plans.py` over `{sf_dir}`. AQE on; "
        "plans are the executed (runtime-resolved) shapes.",
        "",
        "Queries whose operators `localCheckpoint` a shared projection "
        "(dedup_ngram_jaccard, dedup_minhash_lsh: the one-pass "
        "`shingle_arrays` materialization) show only the POST-checkpoint "
        "plan here — the checkpoint truncates lineage, so the shingling "
        "scan/fan-out stages ran but are not visible below. Their "
        "pre-checkpoint shape is documented in `operators/dedup.py` "
        "docstrings and pinned by `tests/test_plans.py`.",
        "",
        "Scope: this table covers the headline bench set only. "
        "Plan shapes across the full registry — reduced-frame windows, "
        "broadcast-only joins, TakeOrdered argmaxes, single-aggregate "
        "moment plans, the guarded distinct-value lane — are asserted "
        "in `tests/test_plans.py`, one test per plan discipline; this "
        "file is a generated snapshot for reading diffs, refreshed by "
        "re-running the tool.",
        "",
        "| query | shuffles | broadcast join | TakeOrdered | pushed filters | scan columns |",
        "|---|---|---|---|---|---|",
    ]
    # sorted by name, so the rows do not move with registry order
    for name, hq in sorted(registry().items()):
        if not hq.headline:
            continue
        df = hq.builder(spark, sf_dir)
        df.count()  # let AQE finalize
        cols = scan_columns(df)
        colw = "; ".join(",".join(c) for c in cols[:3]) or "—"
        pf = ", ".join(pushed_filters(df)[:4]) or "—"
        lines.append(
            f"| {name} | {count_exchanges(df)} | "
            f"{'yes' if has_broadcast_join(df) else 'no'} | "
            f"{'yes' if uses_take_ordered(df) else 'no'} | {pf} | {colw} |"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
