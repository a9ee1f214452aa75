"""Spans and counters recorded from outside the program.

``Tracer`` keeps spans in memory (name, start, end, parent, operation
id, py4j commands sent) and writes them out once at the end. An
operation is one unit a workload times (a query, a pipeline batch, a
registry builder). After each operation the tracer reads what Spark
ran for it from the status stores: stage metrics from the app status
store (via the operation's job group) and per-node SQL metrics from
the SQL status store. Reading them waits for the listener bus, and
that time is part of the traced pass, so it shows up as tracing
overhead, not in any layer.

``NullTracer`` has the same interface and records only operation wall
times; the untraced passes use it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time

from py4j.protocol import Py4JJavaError

#: SQL plan nodes that run Python workers (Arrow or pickled batches)
PYTHON_NODES = re.compile(r"Python|Pandas|InArrow|InPython")
JOIN_NODES = re.compile(r"Join")
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric: '12,345', '1.2 s', '3.0 KiB',
    or the 'total (min, med, max ...)\\n<total> (...)' form."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([-\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


class Op:
    """One timed operation and whatever the tracer learned about it."""

    def __init__(self, op_id: int, name: str):
        self.id = op_id
        self.name = name
        self.start = self.end = 0.0
        self.ok = True
        self.error = ""
        self.rows: int | None = None  # rows returned, where counted
        self.spark: dict[str, float] = {}
        self.sql_nodes: list[tuple[str, dict[str, float]]] = []
        self.first_job_ms: float | None = None
        self.ref_s = 0.0  # the reference job run just before it

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Times operations. Before each one it runs ``ref`` (a callable
    that times the reference job, see run.py) and then waits until
    Spark's listener bus has drained, so an operation does not share
    the driver with earlier bookkeeping. Both stay outside the timed
    window."""

    def __init__(self, spark, ref=None):
        self._next = 0
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._ref = ref

    def _before(self, op: Op) -> None:
        if self._ref is not None:
            op.ref_s = self._ref()
        self._bus.waitUntilEmpty()

    @contextlib.contextmanager
    def op(self, name: str):
        op = Op(self._next, name)
        self._next += 1
        self._before(op)
        op.start = time.perf_counter()
        try:
            yield op
        finally:
            op.end = time.perf_counter()

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


class Tracer(NullTracer):
    def __init__(self, spark, ref=None):
        super().__init__(spark, ref)
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: Op | None = None
        self.py4j = 0
        self._patches: list[tuple[object, str, object]] = []
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._op is not None:
                self.py4j += 1
            return send(*args, **kwargs)

        self._patch(client, "send_command", counted)
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # --- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A child span of the running traced operation; outside one
        (the untraced passes of a traced run) nothing is recorded."""
        if self._op is None:
            yield None
            return
        rec = {
            "name": name,
            "op": self._op.id if self._op else None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        p0 = self.py4j
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j"] = self.py4j - p0
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str):
        op = Op(self._next, name)
        self._next += 1
        self._before(op)
        self.sc.setJobGroup(f"perfbench-op-{op.id}", name)
        n_exec = self._sql.executionsCount()
        self._op = op
        with self.span(name, kind="op") as rec:
            op.start = time.perf_counter()
            try:
                yield op
            finally:
                op.end = time.perf_counter()
                self._op = None
        self._read_spark(op, rec, n_exec)

    def wrap(self, owner, attr: str, span_name: str, probe=None, note=None):
        """Replace ``owner.attr`` with a wrapper that records a span
        around each call inside a traced operation. ``probe(args)``
        returns counters read before and after the call, outside the
        span, and the span gets their differences; ``note(args)``
        returns fields stored as they are."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self._op is None:
                return fn(*args, **kwargs)
            before = probe(args) if probe else {}
            with self.span(span_name) as rec:
                out = fn(*args, **kwargs)
            for k, v in (probe(args) if probe else {}).items():
                rec[k] = v - before.get(k, 0)
            rec.update(note(args) if note else {})
            return out

        self._patch(owner, attr, traced)

    def _patch(self, owner, attr, value):
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def close(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({k: v for k, v in s.items()
                                     if not k.startswith("_")}) + "\n")

    # --- status stores ---------------------------------------------------
    def _read_spark(self, op: Op, rec: dict, n_exec: int) -> None:
        """Stage metrics of the operation's jobs and its SQL join nodes;
        runs after the operation, when no py4j command is counted."""
        self._bus.waitUntilEmpty()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(
            f"perfbench-op-{op.id}"
        )
        m = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_ms",
             "executor_cpu_ms", "gc_ms", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
             "python_stage_ms"),
            0.0,
        )
        m["jobs"] = len(job_ids)
        intervals = []
        stage_ids = set()
        for jid in job_ids:
            jd = self._store.job(jid)
            sub = jd.submissionTime()
            if sub.isDefined():
                t = sub.get().getTime()
                op.first_job_ms = t if op.first_job_ms is None else min(
                    op.first_job_ms, t)
            sids = jd.stageIds()
            stage_ids.update(sids.apply(i) for i in range(sids.size()))
        for sid in stage_ids:
            python = self._runs_python(sid)
            attempts = self._store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                m["stages"] += 1
                m["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                m["executor_run_ms"] += s.executorRunTime()
                m["python_stage_ms"] += s.executorRunTime() if python else 0
                m["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                m["gc_ms"] += s.jvmGcTime()
                m["input_bytes"] += s.inputBytes()
                m["shuffle_read_bytes"] += s.shuffleReadBytes()
                m["shuffle_write_bytes"] += s.shuffleWriteBytes()
                m["spill_bytes"] += (
                    s.memoryBytesSpilled() + s.diskBytesSpilled()
                )
                a, b = s.submissionTime(), s.completionTime()
                if a.isDefined() and b.isDefined():
                    intervals.append(
                        (a.get().getTime() / 1e3, b.get().getTime() / 1e3)
                    )
        m["idle_ms"] = 1e3 * _uncovered(rec["start"], rec["end"], intervals)
        op.spark = m
        op.sql_nodes = self._sql_nodes(n_exec)

    def _runs_python(self, stage_id: int) -> bool:
        """Whether the stage's RDD graph holds a Python/Arrow exec (SQL
        nodes name the RDD scopes they create)."""
        try:
            todo = [self._store.operationGraphForStage(stage_id).rootCluster()]
        except Py4JJavaError:  # graph already evicted from the store
            return False
        while todo:
            cluster = todo.pop()
            if PYTHON_NODES.search(cluster.name()):
                return True
            kids = cluster.childClusters()
            todo += [kids.apply(i) for i in range(kids.size())]
        return False

    def _sql_nodes(self, n_exec: int) -> list[tuple[str, dict[str, float]]]:
        """(node name, {metric: value}) for the join nodes of every SQL
        execution started during the operation."""
        n = self._sql.executionsCount()
        if n <= n_exec:
            return []
        execs = self._sql.executionsList(n_exec, n - n_exec)
        out = []
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name()
                if not JOIN_NODES.search(name):
                    continue
                metrics = {}
                ms = node.metrics()
                for q in range(ms.size()):
                    sm = ms.apply(q)
                    v = values.get(sm.accumulatorId())
                    metrics[sm.name()] = parse_metric(
                        v.get() if v.isDefined() else None
                    )
                out.append((name, metrics))
        return out


def _uncovered(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [t0, t1] covered by none of ``intervals``."""
    covered = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (t1 - t0) - covered)
