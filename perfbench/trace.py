"""Spans and per-layer counters for the traced run.

A :class:`Tracer` records one span per layer call made by the benchmark
(name, start, end, parent, pass id), kept in memory. While a span is
open, the Spark job group is the span's id, so the event log maps every
job, task and byte to the innermost open span. ``/proc`` and
``time.process_time`` deltas give the Python worker and Python driver CPU
of each span. :class:`NullTracer` is the untraced run's stand-in: no
job groups, no boundary forcing.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# metrics measured around every layer span, in the order they are reported
SPAN_METRICS = (
    "wall_s",
    "jobs",
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "py_worker_cpu_s",
    "driver_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "result_mb",
    "spill_mb",
)
# spans the workloads open: one per layer, two inside dedup, and one per
# plans.pipeline.run resume step as (span suffix, stop_after)
LAYERS = ("extract", "resolve", "graph", "dedup", "pipeline")
SUB_SPANS = ("dedup.signatures", "dedup.cluster")
PIPELINE_GROUPS = (
    ("extracted", "extracted"),
    ("explode", "tracks"),
    ("components", "surface_components"),
    ("identities", "identities"),
    ("graph", None),
)
# work counts of a traced pass, (name, unit); 0 where a layer did not run
COUNTS = (
    ("extract.pages", "count"),
    ("extract.mentions", "count"),
    ("extract.triples", "count"),
    ("resolve.keys", "count"),
    ("resolve.identities", "count"),
    ("resolve.driver_path", "count"),
    ("graph.nodes", "count"),
    ("graph.edges", "count"),
    ("dedup.docs", "count"),
    ("dedup.distinct_signatures", "count"),
    ("dedup.clustered_docs", "count"),
    ("pipeline.bytes_written_mb", "MB"),
)
_EVENT_METRICS = SPAN_METRICS[1:4] + ("executor_cpu_s", "gc_s") + SPAN_METRICS[8:]
_MB = float(1 << 20)
_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    driver_cpu_s: float = 0.0
    py_worker_cpu_s: float = 0.0
    events: dict = field(default_factory=dict)


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of its interval its children cover
    (children may overlap each other; their union is subtracted once)."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


def proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (so field 1 is the
    ppid), or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        fields = proc_stat(int(entry)) if entry.isdigit() else None
        if fields:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def proc_cpu_s(pids) -> float:
    """utime+stime of ``pids`` plus their reaped children, in seconds."""
    total = 0
    for pid in pids:
        fields = proc_stat(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


class NullTracer:
    @contextmanager
    def span(self, name: str):
        yield

    def force(self, df):
        return df


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.pass_id = 0
        self._stack: list[Span] = []
        self._jvm_pid = int(
            spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )

    def _py_cpu(self) -> float:
        # every process under the JVM: the PySpark daemon and its workers
        return proc_cpu_s(descendants(self._jvm_pid))

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"span-{span.id}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            pass_id=self.pass_id,
            parent=parent.id if parent else None,
            start=time.monotonic(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        cpu0, py0 = time.process_time(), self._py_cpu()
        try:
            yield s
        finally:
            s.driver_cpu_s = time.process_time() - cpu0
            s.py_worker_cpu_s = self._py_cpu() - py0
            s.end = time.monotonic()
            self._stack.pop()
            self._set_group(parent)

    def force(self, df):
        """Materialize ``df`` at a span boundary, so the span holds its
        layer's jobs (the ``localCheckpoint`` boundaries of
        ``bench.run_kg_pipeline_synth``)."""
        return df.localCheckpoint(eager=True)

    def attach_events(self, event_dir: str) -> None:
        """Fold the event log (written once the session stops) into the
        spans: job/task counts, executor CPU, GC, shuffle, result and spill
        bytes of the jobs that ran in each span's job group."""
        by_group = {f"span-{s.id}": s for s in self.spans}
        for s in self.spans:
            s.events = dict.fromkeys(_EVENT_METRICS, 0.0)
        stage_span: dict[int, Span] = {}
        for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    ev = e.get("Event")
                    if ev == "SparkListenerJobStart":
                        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                        span = by_group.get(group)
                        if span is None:
                            continue
                        span.events["jobs"] += 1
                        for sid in e.get("Stage IDs", []):
                            stage_span.setdefault(sid, span)
                    elif ev == "SparkListenerTaskEnd":
                        span = stage_span.get(e.get("Stage ID"))
                        if span is None:
                            continue
                        _add_task(span.events, e)


def _add_task(acc: dict, e: dict) -> None:
    acc["tasks"] += 1
    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    m = e.get("Task Metrics") or {}
    srm = m.get("Shuffle Read Metrics") or {}
    swm = m.get("Shuffle Write Metrics") or {}
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["shuffle_read_mb"] += (
        srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
    ) / _MB
    acc["shuffle_write_mb"] += swm.get("Shuffle Bytes Written", 0) / _MB
    acc["result_mb"] += m.get("Result Size", 0) / _MB
    acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB


def span_metrics(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name (one pass's spans): every SPAN_METRICS value, summed
    over the span's subtree, plus ``self_s``."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> list[Span]:
        out = [s]
        for c in kids.get(s.id, []):
            out.extend(subtree(c))
        return out

    out: dict[str, dict[str, float]] = {}
    for s in spans:
        tree = subtree(s)
        m = {k: sum(t.events.get(k, 0.0) for t in tree) for k in _EVENT_METRICS}
        m["wall_s"] = s.end - s.start
        m["driver_cpu_s"] = s.driver_cpu_s
        m["py_worker_cpu_s"] = s.py_worker_cpu_s
        m["self_s"] = self_time(s, spans)
        acc = out.setdefault(s.name, dict.fromkeys((*SPAN_METRICS, "self_s"), 0.0))
        for k, v in m.items():
            acc[k] += v
    return out
