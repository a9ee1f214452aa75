"""Dump .explain('formatted') for named (or all headline) registry
queries to <out_dir>/<query>_<tag>.txt — before/after plan evidence
for an optimization.

Usage: python tools/explain_plans.py [--inline-checkpoints] <out_dir> <tag>
       <sf_dir> [query ...]

``--inline-checkpoints`` makes ``DataFrame.localCheckpoint`` return its
frame unchanged while the builders run, so the plan shows the work a
checkpoint would hide behind a ``Scan ExistingRDD`` (the dedup lanes'
shared shingle projection, for one).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_etl_spark.harness import registry  # noqa: E402
from reddit_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    inline = "--inline-checkpoints" in args
    args = [a for a in args if a != "--inline-checkpoints"]
    if len(args) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, tag, sf_dir = args[:3]
    names = args[3:]
    reg = registry()
    if not names:
        names = sorted(n for n, hq in reg.items() if hq.headline)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-plans")
    spark.sparkContext.setLogLevel("ERROR")
    if inline:
        type(spark.range(1)).localCheckpoint = lambda self, *a, **k: self
    for name in names:
        df = reg[name].builder(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            note = ", checkpoints inlined" if inline else ""
            fh.write(
                f"# {name} @ {sf_dir} — explain('formatted'){note}, tag={tag}\n"
            )
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: exchanges~{n_ex} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
