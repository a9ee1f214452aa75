"""Benchmark runner: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 5 --trace 0

Run from the repository root. It starts one SparkSession at
``local[<nproc>]`` (shuffle partitions = nproc), generates every input
from ``--seed`` under ``.perfbench_work/`` and removes it again, sets
the workload up once, runs one untimed warm-up pass, then runs
closed-loop passes for ``--seconds`` and at least the workload's
``TIMED_PASSES``. A fixed reference Spark job runs before every
operation, outside its timed window; timed figures are reported at
the reference host speed (see ``Reference``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics (see
README.md). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a JSON detail record. Exits non-zero without a result if the
package is missing or a run cannot start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the reference job's time on an idle 4-vCPU host: host-corrected
#: times are wall times scaled by REF_S / (mean reference time)
REF_S = 0.25
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "lake_bytes_per_input_byte": "count",
}
#: per-layer metric -> (unit, the end-to-end metric and workload it
#: should move); layers the workload does not run report 0
PER_LAYER = {
    "engine.build_ms": ("ms", "pass_s on etl"),
    "engine.plan_ms": ("ms", "pass_s on etl"),
    "engine.run_ms": ("ms", "pass_s on etl"),
    "engine.py4j_calls": ("count", "pass_s on etl"),
    "operators.build_ms": ("ms", "pass_s on curation"),
    "operators.run_ms": ("ms", "pass_s on curation"),
    "operators.py4j_calls": ("count", "pass_s on curation"),
    "operators.pair_yield": ("ratio", "pass_s on curation"),
    "sources.lift_ms": ("ms", "pass_s on etl"),
    "sources.rows": ("count", "pass_s on etl"),
    "transform.build_ms": ("ms", "pass_s on etl"),
    "sinks.append_ms": ("ms", "pass_s on etl"),
    "sinks.bytes_written": ("B", "pass_s, lake_bytes_per_input_byte on etl"),
    "sinks.files_written": ("count", "pass_s, lake_bytes_per_input_byte on etl"),
    "stats.upsert_ms": ("ms", "pass_s on etl"),
    "stats.partitions_written": ("count", "pass_s on etl"),
    "pipeline.self_ms": ("ms", "pass_s on etl"),
    "pipeline.jobs_per_batch": ("count", "pass_s on etl"),
    "spark.jobs": ("count", "pass_s on etl"),
    "spark.stages": ("count", "pass_s on etl"),
    "spark.tasks": ("count", "pass_s on etl"),
    "spark.idle_ms": ("ms", "pass_s on etl"),
    "spark.executor_run_ms": ("ms", "pass_s on curation"),
    "spark.executor_cpu_ms": ("ms", "pass_s on curation"),
    "spark.gc_ms": ("ms", "pass_s on etl and curation"),
    "spark.shuffle_read_bytes": ("B", "pass_s on curation"),
    "spark.shuffle_write_bytes": ("B", "pass_s on curation"),
    "spark.input_bytes": ("B", "pass_s on etl and curation"),
    "spark.spill_bytes": ("B", "pass_s on curation"),
    "spark.python_stage_ms": ("ms", "pass_s on curation"),
    "trace.overhead_ms": ("ms", "none: traced minus untraced pass"),
}


class Reference:
    """A fixed Spark job that uses nothing of the package: a hashed
    shuffle aggregation over ``spark.range``. The tracers run it before
    every operation, outside the operation's timed window, so a pass
    has reference times taken over the same stretch of time as its
    operations. Timed figures are scaled by ``REF_S`` over the mean
    reference time: the host's speed, which drifts on a shared
    machine, cancels out, and a change to the package does not."""

    ROWS, KEYS = 200_000, 101

    def __init__(self, spark):
        self.spark = spark
        self.nproc = spark.sparkContext.defaultParallelism

    def __call__(self) -> float:
        self.spark.sparkContext.setJobGroup("perfbench-reference", "reference")
        t = time.perf_counter()
        rows = (self.spark.range(0, self.ROWS, numPartitions=self.nproc)
                .selectExpr(f"id % {self.KEYS} AS k",
                            "sha2(CAST(id AS STRING), 256) AS h")
                .groupBy("k").agg({"h": "max"}).collect())
        took = time.perf_counter() - t
        if len(rows) != self.KEYS:
            raise RuntimeError("reference job returned a wrong result")
        return took


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("etl", "curation"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Everything the session, its JVM and its Python workers write
    goes under ``work``; the workers import the package from ROOT."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


class RssSampler:
    """Peak of (driver JVM RSS + this process's RSS), sampled every
    20 ms while running."""

    def __init__(self, jvm_pid: int):
        self.pids = (jvm_pid, os.getpid())
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self):
        while not self._stop.wait(0.02):
            self.peak_kb = max(self.peak_kb, sum(map(self._rss_kb, self.pids)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> list[int]:
    """The machine's CPU tick counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _descendants(pid: int) -> list[int]:
    found, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        found += kids
        todo += kids
    return found


def stop_session(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers, and wait for
    each process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in workers:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, passes) -> dict[str, float]:
    """Per-layer values of each traced pass (sums over its operations,
    from the spans and status-store readings), median over passes."""
    from workloads import PAIR_LANES

    spans_by_op = {}
    for s in tracer.spans:
        spans_by_op.setdefault(s["op"], []).append(s)
    per_pass = []
    for ops in passes:
        v = dict.fromkeys(PER_LAYER, 0.0)
        pairs = candidates = batches = batch_jobs = 0
        for op in ops:
            spans = spans_by_op.get(op.id, [])
            root = next(s for s in spans if s.get("kind") == "op")
            kids = [s for s in spans if s["parent"] == root["id"]]
            for k, x in op.spark.items():
                v[f"spark.{k}"] += x
            for s in spans:
                ms = 1e3 * (s["end"] - s["start"])
                layer = {
                    "engine.build": "engine.build_ms",
                    "operators.build": "operators.build_ms",
                    "operators.run": "operators.run_ms",
                    "sources.lift": "sources.lift_ms",
                    "transform.build": "transform.build_ms",
                    "sinks.append": "sinks.append_ms",
                    "stats.upsert": "stats.upsert_ms",
                }.get(s["name"])
                if layer:
                    v[layer] += ms
                v["sources.rows"] += s.get("rows", 0)
                v["sinks.bytes_written"] += s.get("bytes", 0)
                v["sinks.files_written"] += s.get("files", 0)
                v["stats.partitions_written"] += s.get("partitions", 0)
            if root["name"].startswith("batch:"):
                batches += 1
                batch_jobs += op.spark.get("jobs", 0)
                wall = 1e3 * (root["end"] - root["start"])
                v["pipeline.self_ms"] += wall - sum(
                    1e3 * (s["end"] - s["start"]) for s in kids)
            for s in kids:
                if s["name"] == "engine.build":
                    v["engine.py4j_calls"] += s["py4j"]
                elif s["name"] == "engine.action":
                    v["engine.py4j_calls"] += s["py4j"]
                    first = (op.first_job_ms or 1e3 * s["end"]) / 1e3
                    first = min(max(first, s["start"]), s["end"])
                    v["engine.plan_ms"] += 1e3 * (first - s["start"])
                    v["engine.run_ms"] += 1e3 * (s["end"] - first)
                elif s["name"].startswith("operators."):
                    v["operators.py4j_calls"] += s["py4j"]
            if op.name in PAIR_LANES:
                joins = [m.get("number of output rows", 0.0)
                         for name, m in op.sql_nodes if "Join" in name]
                pairs += op.rows
                candidates += max(joins, default=0.0)
        v["operators.pair_yield"] = pairs / candidates if candidates else 0.0
        v["pipeline.jobs_per_batch"] = (
            batch_jobs / batches if batches else 0.0)
        per_pass.append(v)
    return {k: median([v[k] for v in per_pass]) for k in PER_LAYER}


def wrap_layers(tracer) -> None:
    """Spans around the package functions as the pipeline imports them
    (the pipeline calls them through its module globals)."""
    from reddit_etl_spark import pipeline
    from workloads import data_dirs, dir_stats

    def rows(args):
        return {"rows": len(args[1])}

    def written(args):
        return dir_stats(args[1])

    def partitions(args):
        return {"partitions": len(data_dirs(args[1]))}

    tracer.wrap(pipeline, "posts_df", "sources.lift", note=rows)
    tracer.wrap(pipeline, "comments_df", "sources.lift", note=rows)
    tracer.wrap(pipeline, "transform_posts", "transform.build")
    tracer.wrap(pipeline, "append_parquet", "sinks.append", probe=written)
    tracer.wrap(pipeline, "daily_subreddit_stats", "stats.build")
    tracer.wrap(pipeline, "write_subreddit_stats", "stats.upsert",
                probe=partitions)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "reddit_etl_spark")):
        print(f"reddit_etl_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    prepare_env(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from reddit_etl_spark.session import get_spark
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    nproc = os.cpu_count() or 1
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark)
        t = time.perf_counter()
        info = wl.setup(args.seed, os.path.join(work, "setup"))
        inputs_s = time.perf_counter() - t
        ref = Reference(spark)
        lake_dir = os.path.join(work, "lake")
        untraced = NullTracer(spark, ref)
        t = time.perf_counter()
        warm_ops = wl.run_pass(untraced, f"{lake_dir}-warm")
        warm_s = time.perf_counter() - t

        tracer = Tracer(spark, ref) if args.trace else None
        if tracer:
            wrap_layers(tracer)
        plain, traced = [], []
        n = 0
        ticks0 = cpu_ticks()
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            start = time.perf_counter()
            while True:
                use = tracer if (tracer and n % 2 == 1) else untraced
                ops = wl.run_pass(use, f"{lake_dir}{n}")
                (traced if use is tracer else plain).append(
                    (ops, getattr(wl, "lake", None),
                     sum(op.ref_s for op in ops)))
                n += 1
                # at least the workload's TIMED_PASSES untraced passes, so
                # a slow host measures as many as a fast one; a traced run
                # puts untraced passes on both sides of a traced one
                if (time.perf_counter() - start >= args.seconds
                        and len(plain) >= (2 if tracer else wl.TIMED_PASSES)
                        and (not tracer or traced)):
                    break
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        if tracer:
            tracer.close()
            tracer.dump(os.path.join(
                ROOT, ".perfbench_traces",
                f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        master = spark.sparkContext.master
        stop_session(spark)

    all_ops = warm_ops + [op for ops, _, _ in plain + traced for op in ops]
    failed = [op for op in all_ops if not op.ok]
    pass_walls = [sum(op.seconds for op in ops) for ops, _, _ in plain]
    op_lat = [op for ops, _, _ in plain for op in ops]
    # host speed: REF_S over the mean reference time of a pass; the
    # warm-up's median reference time for set-up, which is mostly JVM
    # start and cold compilation and slows down about half as much (in
    # log terms) as the reference job on a contended host, hence the
    # square root
    speeds = [REF_S * len(ops) / r for ops, _, r in plain]
    setup_wall = session_s + inputs_s + warm_s
    warm_speed = REF_S / median([op.ref_s for op in warm_ops])
    if args.workload == "etl":
        lake_ratio = median([lake for _, lake, _ in plain + traced]) / info["input_bytes"]
    else:
        lake_ratio = info["lake_bytes"] / info["input_bytes"]
    e2e = {
        "setup_s": setup_wall * warm_speed ** 0.5,
        "pass_s": median([w * v for w, v in zip(pass_walls, speeds)]),
        "lake_bytes_per_input_byte": lake_ratio,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": master,
        "default_parallelism": nproc,
        "session_s": session_s, "inputs_s": inputs_s, "warmup_s": warm_s,
        "setup_wall_s": setup_wall,
        "passes": len(plain), "traced_passes": len(traced),
        "pass_walls_s": pass_walls, "host_speeds": speeds,
        "warmup_host_speed": warm_speed,
        "steal_share": ticks[7] / max(1, sum(ticks)),
        "peak_rss_mb": rss.peak_kb / 1024,
        "warmup_op_s": {op.name: [op.seconds, op.ref_s] for op in warm_ops},
        "pass_op_ref_s": [[op.ref_s for op in ops] for ops, _, _ in plain],
        "ops_per_pass": len(plain[0][0]) if plain else 0,
        "failed_ops_ratio": len(failed) / max(1, len(all_ops)),
        "op_geomean_s": median([
            statistics.geometric_mean(op.seconds for op in ops) for ops, _, _ in plain
        ]),
        "batch_p50_s": median([op.seconds for op in op_lat
                               if op.name.startswith("batch:")]),
        "query_p50_s": median([op.seconds for op in op_lat
                               if op.name.startswith("q")]),
        "failures": [f"{op.name}: {op.error}" for op in failed][:10],
        "op_median_s": {
            op.name: median([o.seconds for ops, _, _ in plain for o in ops
                             if o.name == op.name])
            for op in (plain[0][0] if plain else [])
        },
        "end_to_end": e2e,
    }
    if tracer:
        layers = layer_metrics(tracer, [ops for ops, _, _ in traced])
        # passes alternate untraced, traced, untraced, ...: each traced
        # pass is compared with the untraced pass after it (a pass is
        # still a little faster than the one before it), both at the
        # reference host speed
        def corrected(ops, ref):
            return sum(op.seconds for op in ops) * REF_S * len(ops) / ref

        layers["trace.overhead_ms"] = 1e3 * median([
            corrected(ops, r) - corrected(after[0], after[2])
            for (ops, _, r), after in zip(traced, plain[1:])])
        detail["per_layer"] = layers
        detail["layer_targets"] = {k: v[1] for k, v in PER_LAYER.items()}
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
