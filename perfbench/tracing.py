"""Tracing for the traced run (``--trace 1``).

Spans are kept in memory and written out at exit. A span has a name,
start, end, parent span and the operation id shared by every span of
one operation. The benchmark opens spans around its calls into each
layer's public functions; nothing inside ``sparrow_spark`` is changed.

Spark's own work is read from its status store by job group (one group
per operation) and from the SQL metrics of the executed plan, then
recorded as counters of the operation and as ``spark.job`` spans.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Plan node names counted as join strategies.
JOIN_KINDS = {
    "BroadcastNestedLoopJoin": "spark.nested_loop_joins",
    "CartesianProduct": "spark.nested_loop_joins",
    "BroadcastHashJoin": "spark.broadcast_joins",
    "SortMergeJoin": "spark.shuffle_joins",
    "ShuffledHashJoin": "spark.shuffle_joins",
}


@dataclass
class Span:
    id: int
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store; thread-safe, one parent stack per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self.op_class: dict[str, str] = {}
        self.by_op: dict[str, list[Span]] = defaultdict(list)
        self.overhead_s = 0.0  # time the tracer itself spent
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self.current()
        op = op if op is not None else (parent.op if parent else "")
        with self._lock:
            s = Span(len(self.spans), name, op, time.time(), attrs=attrs)
            s.parent = parent.id if parent else None
            self.spans.append(s)
            self.by_op[op].append(s)
        self._stack().append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack().pop()

    def add_span(self, name: str, op: str, start: float, end: float,
                 parent: Span | None, **attrs) -> None:
        """Record a span observed after the fact (e.g. a Spark job)."""
        with self._lock:
            s = Span(len(self.spans), name, op, start, end,
                     parent.id if parent else None, attrs)
            self.spans.append(s)
            self.by_op[op].append(s)

    def count(self, op: str, name: str, value: float) -> None:
        with self._lock:
            self.counters[op][name] += value

    def set_class(self, op: str, cls: str) -> None:
        self.op_class[op] = cls

    @contextmanager
    def overhead(self):
        """Time spent collecting trace data, charged as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    # -- analysis -------------------------------------------------------
    def self_times(self) -> dict[str, dict[str, float]]:
        """Per operation: span name -> self time (duration minus the
        part of it covered by child spans)."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            covered = _union([(max(c.start, s.start), min(c.end, s.end))
                              for c in kids[s.id]])
            out[s.op][s.name] += max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def instrument_catalog(engine, tracer: Tracer) -> None:
    """Span every load/save on the engine's EngineCatalog instance."""
    cat = engine.catalog
    for meth in ("load", "save"):
        orig = getattr(cat, meth)

        def wrapped(*a, _orig=orig, _name=f"catalog.{meth}", **kw):
            with tracer.span(_name):
                return _orig(*a, **kw)

        setattr(cat, meth, wrapped)


# -- Spark status store ---------------------------------------------------
class SparkProbe:
    """Reads per-job-group work from Spark's status store and SQL metrics
    from executed plans, through py4j."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            sids = jd.stageIds()
            out.append(
                {
                    "id": jid,
                    "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                    "end": done.get().getTime() / 1000 if done.isDefined() else None,
                    "stages": [sids.apply(i) for i in range(sids.size())],
                }
            )
        return out

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Sum of task-level metrics over the stages that ran."""
        t: dict[str, float] = defaultdict(float)
        seen = set()
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                t["spark.stages"] += 1
                t["spark.tasks"] += sd.numTasks()
                t["spark.task_s"] += sd.executorRunTime() / 1e3
                t["spark.task_cpu_s"] += sd.executorCpuTime() / 1e9
                t["spark.gc_s"] += sd.jvmGcTime() / 1e3
                t["spark.scan_bytes"] += sd.inputBytes()
                t["spark.scan_rows"] += sd.inputRecords()
                t["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                t["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                t["spark.shuffle_fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
                t["spark.spill_bytes"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                )
        t["spark.jobs"] += len(jobs)
        return t

    @staticmethod
    def plan_metrics(jdf) -> tuple[dict[str, float], dict[str, int]]:
        """(SQL metric sums by counter name, join counts) of a
        DataFrame's executed plan, walking adaptive query stages and
        subqueries."""
        sums: dict[str, float] = defaultdict(float)
        joins: dict[str, int] = defaultdict(int)
        todo = [jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            name = node.nodeName()
            for kind, counter in JOIN_KINDS.items():
                if name.startswith(kind):
                    joins[counter] += 1
            ms = {}
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                ms[kv._1()] = kv._2().value()
            if "Python" in cls or "Pandas" in cls or "Arrow" in cls:
                sums["python.rows"] += ms.get("pythonNumRowsReceived", 0)
                sums["python.bytes"] += ms.get("pythonDataSent", 0) + ms.get(
                    "pythonDataReceived", 0
                )
                sums["python.s"] += ms.get("pythonTotalTime", 0) / 1e3
            if cls == "BroadcastExchangeExec":
                sums["spark.broadcast_bytes"] += ms.get("dataSize", 0)
                sums["spark.broadcast_s"] += (
                    ms.get("collectTime", 0)
                    + ms.get("buildTime", 0)
                    + ms.get("broadcastTime", 0)
                ) / 1e3
            if cls in ("FileSourceScanExec", "BatchScanExec"):
                sums["spark.scan_files"] += ms.get("numFiles", 0)
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                todo.append(node.plan())
            for seq in (node.children(), node.subqueries()):
                todo.extend(seq.apply(i) for i in range(seq.size()))
        return dict(sums), dict(joins)


def record_jobs(tracer: Tracer, probe: SparkProbe, op: str) -> None:
    """Join the status store's jobs of operation ``op`` (its job group)
    to its spans: each job becomes a ``spark.job`` span under the
    innermost span that was open when it was submitted, its stages'
    task metrics become counters, and each ``spark.action`` span gets
    its fetch time (from the last job's end to the action's end)."""
    spans = list(tracer.by_op[op])
    jobs = probe.jobs(op)
    for j in jobs:
        if j["start"] is None:
            continue
        end = j["end"] if j["end"] is not None else j["start"]
        holders = [s for s in spans if s.start <= j["start"] <= s.end]
        parent = max(holders, key=lambda s: s.start) if holders else None
        tracer.add_span("spark.job", op, j["start"], end, parent, job=j["id"])
        if parent is not None and parent.name == "registry.build":
            tracer.count(op, "registry.build_jobs", 1)
    for k, v in probe.stage_totals(jobs).items():
        tracer.count(op, k, v)
    for s in spans:
        if s.name != "spark.action":
            continue
        ends = [j["end"] for j in jobs
                if j["end"] is not None and s.start <= j["end"] <= s.end]
        tracer.count(op, "fetch.s", s.end - max(ends) if ends else s.end - s.start)


# Per-layer metrics of the traced run, with their units. Every value is
# a mean per timed operation unless it is a ratio (printed with its
# base) or session.start_s (once per run).
PER_LAYER = [
    ("session.start_s", "s"),
    ("registry.build_s", "s"),
    ("registry.build_jobs", "count"),
    ("registry.plan_cache_hit_ratio", "ratio"),
    ("spark.plan_s", "s"),
    ("spark.driver_gap_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.scan_bytes", "bytes"),
    ("spark.scan_rows", "count"),
    ("spark.scan_files", "count"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_fetch_wait_s", "s"),
    ("spark.spill_bytes", "bytes"),
    ("spark.broadcast_bytes", "bytes"),
    ("spark.broadcast_s", "s"),
    ("spark.nested_loop_joins", "count"),
    ("spark.broadcast_joins", "count"),
    ("spark.shuffle_joins", "count"),
    ("python.rows", "count"),
    ("python.bytes", "bytes"),
    ("python.s", "s"),
    ("fetch.s", "s"),
    ("fetch.rows", "count"),
    ("fetch.bytes", "bytes"),
    ("engine.self_s", "s"),
    ("server.lock_wait_s", "s"),
    ("server.encode_s", "s"),
    ("server.rows_out", "count"),
    ("server.bytes_out", "bytes"),
    ("trace.overhead_s", "s"),
]

# Engine write-path and catalog metrics. Only ``dml_mix`` moves them
# (SELECTs over the wire never call the catalog), and it is not one of
# BENCHMARK.json's workloads, so its traced run prints them besides
# PER_LAYER.
DML_ONLY = [
    ("engine.jobs_per_write", "count"),
    ("engine.files_written", "count"),
    ("engine.bytes_written", "bytes"),
    ("engine.write_amp", "ratio"),
    ("engine.table_bytes_per_live_byte", "ratio"),
    ("catalog.loads", "count"),
    ("catalog.saves", "count"),
    ("catalog.s", "s"),
]

# Ratios: metric -> (numerator counter, denominator counter), both
# summed over the run.
RATIOS = {
    "registry.plan_cache_hit_ratio": ("registry.cache_hits", "registry.cache_attempts"),
    "engine.write_amp": ("engine.bytes_written", "engine.user_bytes_changed"),
    "engine.table_bytes_per_live_byte": ("engine.table_bytes", "engine.live_bytes"),
    "engine.jobs_per_write": ("engine.write_jobs", "engine.writes"),
}


def _op_counters(tracer: Tracer, op: str, self_t: dict[str, float]) -> dict[str, float]:
    """Counters of one operation, including the span-derived ones."""
    c = defaultdict(float, tracer.counters.get(op, {}))
    for s in tracer.by_op.get(op, []):
        d = s.end - s.start
        if s.name == "registry.build":
            c["registry.build_s"] += d
        elif s.name == "spark.plan":
            c["spark.plan_s"] += d
        elif s.name.startswith("catalog."):
            c["catalog.s"] += d
            c["catalog.loads" if s.name == "catalog.load" else "catalog.saves"] += 1
        elif s.name == "server.lock_wait":
            c["server.lock_wait_s"] += d
    c["engine.self_s"] += self_t.get("engine.sql", 0.0)
    c["spark.driver_gap_s"] += max(
        0.0, self_t.get("spark.action", 0.0) - c.get("fetch.s", 0.0)
    )
    return c


def summarize(tracer: Tracer, write_classes: list[str]):
    """(per-layer metrics, per-class table text, ratio bases)."""
    selfs = tracer.self_times()
    ops = [op for op in tracer.op_class]
    totals: dict[str, float] = defaultdict(float)
    by_class: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    n_class: dict[str, int] = defaultdict(int)
    for op in ops:
        cls = tracer.op_class[op]
        n_class[cls] += 1
        c = _op_counters(tracer, op, selfs.get(op, {}))
        if cls in write_classes:
            c["engine.writes"] += 1
            c["engine.write_jobs"] += c.get("spark.jobs", 0.0)
        for k, v in c.items():
            totals[k] += v
            by_class[cls][k] += v
        for name, t in selfs.get(op, {}).items():
            by_class[cls]["self:" + name] += t
    for k, v in tracer.counters.get("run", {}).items():
        totals[k] += v
    n = max(1, len(ops))
    metrics: dict[str, float] = {}
    bases: dict[str, str] = {}
    for name, _unit in PER_LAYER + DML_ONLY:
        if name in RATIOS:
            num, den = RATIOS[name]
            metrics[name] = totals[num] / totals[den] if totals[den] else 0.0
            bases[name] = f"{totals[num]:.6g} / {totals[den]:.6g}"
        elif name == "session.start_s":
            metrics[name] = tracer.counters.get("setup", {}).get(name, 0.0)
        elif name == "trace.overhead_s":
            metrics[name] = tracer.overhead_s / n
        else:
            metrics[name] = totals[name] / n
    return metrics, _table(by_class, n_class), bases


def _table(by_class, n_class) -> str:
    """Per operation class: mean self time per span name and mean
    counters per operation."""
    lines = []
    for cls in sorted(by_class):
        n = n_class[cls]
        row = by_class[cls]
        lines.append(f"[{cls}] ops={n}")
        selfs = sorted((k[5:], v / n) for k, v in row.items() if k.startswith("self:"))
        lines.append("  self time per op (s): " + ", ".join(
            f"{k}={v:.4f}" for k, v in selfs))
        counters = sorted((k, v / n) for k, v in row.items()
                          if not k.startswith("self:") and v)
        lines.append("  counters per op: " + ", ".join(
            f"{k}={v:.6g}" for k, v in counters))
    return "\n".join(lines)
