"""Spans, statistics and Spark-metric readback for the benchmark.

Spans are recorded by the benchmark's own code around each call into a
layer's public function; they are kept in memory and written out at the
end of the run. In a traced run, spans marked ``readback`` also collect
what Spark recorded for the work they started:

* per-node SQL metrics of every SQL execution's final plan and its
  analysis/optimization/planning phases, rendered by the ``QeSink``
  query-execution listener (``perfbench/listener``);
* job ids of the span's job group and per-stage task totals and
  quantiles from Spark's status store.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --------------------------------------------------------------- statistics


def median(xs) -> float:
    s = sorted(xs)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(samples) -> tuple[float, float] | None:
    """(percentile, value) of the highest nearest-rank percentile that has at
    least ten samples beyond it, or None when there are fewer than 11."""
    s = sorted(samples)
    k = len(s) - 11  # 0-based rank with exactly ten samples above it
    if k < 0:
        return None
    return 100.0 * (k + 1) / len(s), s[k]


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    start: float
    end: float = 0.0
    sql: list = field(default_factory=list)  # parsed executions (readback)
    stages: list = field(default_factory=list)  # stage rows (readback)
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, reach), min(c.end, s.end)
            if b > a:
                covered += b - a
            reach = max(reach, min(c.end, s.end))
        out[s.id] = s.dur - covered
    return out


class Tracer:
    """Records spans; with ``spark_probe`` set, readback spans also collect
    Spark's metrics for the work started inside them."""

    def __init__(self, spark_probe=None):
        self.spans: list[Span] = []
        self.probe = spark_probe
        self._stack: list[Span] = []
        self.op = -1

    def next_op(self) -> int:
        """Start a new operation: later spans carry its index."""
        self.op += 1
        return self.op

    @contextmanager
    def span(self, name: str, readback: bool = False):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self.op, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if readback and self.probe:
            self.probe.begin(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if readback and self.probe:
                with self.span("trace.readback"):
                    self.probe.end(s)

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"id": s.id, "parent": s.parent, "op": s.op, "name": s.name,
             "start": s.start, "end": s.end, "self_s": selfs[s.id],
             "jobs": s.jobs, "sql_executions": len(s.sql)}
            for s in self.spans
        ]


# --------------------------------------------------------- Spark readback


def parse_report(text: str) -> list[dict]:
    """Parse ``QeSink.drain()`` / ``QeSink.describe()`` output into a list of
    executions, each {"func", "phases", "nodes": [(depth, cls, name, metrics)]}.
    ``describe`` output (no Q line) becomes one execution."""
    out: list[dict] = []
    for line in text.splitlines():
        f = line.split("\t")
        if f[0] == "Q":
            out.append({
                "func": f[1],
                "phases": {"analysis": int(f[3]), "optimization": int(f[4]),
                           "planning": int(f[5])},
                "nodes": [],
            })
        elif f[0] == "N":
            if not out:
                out.append({"func": "", "phases": {}, "nodes": []})
            metrics = {}
            for kv in filter(None, f[4].split(",")) if len(f) > 4 else ():
                k, v = kv.split("=", 1)
                val, kind = v.rsplit(":", 1)
                metrics[k] = (int(val), kind)
            out[-1]["nodes"].append((int(f[1]), f[2], f[3], metrics))
    return out


def input_rows_of(nodes, cls_suffix: str) -> int:
    """Rows fed into every node whose class ends with ``cls_suffix``: the
    ``numOutputRows`` of the first descendant that counts rows."""
    total = 0
    for i, (depth, cls, _, _) in enumerate(nodes):
        if not cls.endswith(cls_suffix):
            continue
        for d, _, _, m in nodes[i + 1 :]:
            if d <= depth:
                break
            if "numOutputRows" in m:
                total += m["numOutputRows"][0]
                break
    return total


def sql_layers(executions) -> dict[str, float]:
    """Per-layer totals over a list of parsed executions."""
    t = dict.fromkeys(
        ["driver.analysis_ms", "driver.optimization_ms", "driver.planning_ms",
         "scan.ms", "scan.bytes", "python.total_ms", "python.boot_ms", "python.init_ms",
         "arrow.bytes_sent", "arrow.bytes_received", "shuffle.bytes_written",
         "shuffle.write_ms", "shuffle.fetch_wait_ms", "agg.ms", "agg.spill_bytes",
         "agg.peak_memory_bytes"], 0.0)
    sums = {
        "scanTime": "scan.ms", "filesSize": "scan.bytes",
        "pythonTotalTime": "python.total_ms", "pythonBootTime": "python.boot_ms",
        "pythonInitTime": "python.init_ms", "pythonDataSent": "arrow.bytes_sent",
        "pythonDataReceived": "arrow.bytes_received",
        "shuffleBytesWritten": "shuffle.bytes_written", "fetchWaitTime": "shuffle.fetch_wait_ms",
        "aggTime": "agg.ms", "spillSize": "agg.spill_bytes",
    }
    for e in executions:
        for phase, ms in e["phases"].items():
            t[f"driver.{phase}_ms"] += ms
        for _, cls, _, m in e["nodes"]:
            for k, (v, _) in m.items():
                if k in sums:
                    t[sums[k]] += v
            if "shuffleWriteTime" in m:  # nanoseconds
                t["shuffle.write_ms"] += m["shuffleWriteTime"][0] / 1e6
            if "peakMemory" in m and "Aggregate" in cls:
                t["agg.peak_memory_bytes"] = max(t["agg.peak_memory_bytes"], m["peakMemory"][0])
    return t


def parse_stages(text: str) -> list[dict]:
    rows = []
    for line in text.splitlines():
        sid, n, run, cpu, gc, p50, mx = line.split()
        rows.append({"stage": int(sid), "tasks": int(n), "run_ms": int(run),
                     "cpu_ms": int(cpu) / 1e6, "gc_ms": int(gc),
                     "p50_ms": float(p50), "max_ms": float(mx)})
    return rows


def stage_layers(stages) -> dict[str, float]:
    skews = [s["max_ms"] / s["p50_ms"] for s in stages if s["tasks"] > 1 and s["p50_ms"] > 0]
    return {
        "task.run_ms": float(sum(s["run_ms"] for s in stages)),
        "task.jvm_cpu_ms": float(sum(s["cpu_ms"] for s in stages)),
        "task.gc_ms": float(sum(s["gc_ms"] for s in stages)),
        "stage.skew": max(skews, default=1.0),
    }


class SparkProbe:
    """Readback of Spark's own metrics around a span, from outside the
    program: a job group per span, the listener's rendered executions and the
    status store's stage data."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sink = self.sc._jvm.perfbench.QeSink
        self._groups: list[str] = []

    def enable(self, on: bool) -> None:
        self.sink.setEnabled(on)

    def begin(self, span: Span) -> None:
        self._drain()  # executions finished before the span are not its own
        group = f"perfbench-span-{span.id}"
        self._groups.append(group)
        self.sc.setJobGroup(group, span.name)

    def end(self, span: Span) -> None:
        group = self._groups.pop()
        if self._groups:
            self.sc.setJobGroup(self._groups[-1], "")
        else:
            self.sc._jsc.clearJobGroup()
        span.sql = parse_report(self._drain())
        tracker = self.sc.statusTracker()
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        span.jobs = len(jobs)
        ids = sorted({s for j in jobs if j is not None for s in j.stageIds})
        arr = self.sc._gateway.new_array(self.sc._jvm.int, len(ids))
        for i, s in enumerate(ids):
            arr[i] = s
        span.stages = parse_stages(self.sink.stages(self.sc._jsc.sc(), arr))

    def _drain(self) -> str:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return self.sink.drain()
