"""Spans, streaming progress capture and Spark event-log rollup.

Spans are recorded from the benchmark's own code around calls into the
engine's public functions; nothing inside the engine is instrumented.
A span has a name, a kind (what the call does), a layer (the engine
module it enters), start/end times and a parent. They stay in memory
and are summarised when the run ends.

In a traced run every span also sets a Spark job group, and the
session writes an uncompressed event log, so each task's executor
metrics can be attributed to the span that launched its job. Jobs run
inside a streaming ``foreachBatch`` do not carry the caller's job
group; they are attributed by the micro-batch id Structured Streaming
stamps on them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# per-span-kind Spark task counters reported by a traced run
SPARK_COUNTERS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
    "tasks",
)

STREAM_BATCH_PROP = "streaming.sql.batchId"


@dataclass
class Span:
    sid: int
    name: str
    kind: str
    layer: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


class Tracer:
    """In-memory span recorder. With ``spark_groups`` on (traced run),
    each span tags the Spark jobs it launches with its own job group."""

    def __init__(self, sc=None, spark_groups: bool = False):
        self.sc = sc
        self.spark_groups = spark_groups and sc is not None
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str, layer: str, **attrs):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, kind, layer, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self.spark_groups:
            self.sc.setJobGroup(f"pb-{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.spark_groups:
                if self._stack:
                    top = self._stack[-1]
                    self.sc.setJobGroup(f"pb-{top.sid}", top.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, kind: str, layer: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span measured elsewhere (a streaming epoch, whose
        interval comes from the query's progress event)."""
        s = Span(len(self.spans), name, kind, layer, parent, start, end, attrs)
        self.spans.append(s)
        return s

    def of_kind(self, kind: str) -> list[Span]:
        return [s for s in self.spans if s.kind == kind]

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer under ``root``: each span's duration
        minus the part of it its child spans cover (children of one
        span never overlap: the workloads make one call at a time)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}

        def walk(s: Span) -> None:
            covered = 0.0
            for c in kids.get(s.sid, []):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                covered += max(hi - lo, 0.0)
                walk(c)
            out[s.layer] = out.get(s.layer, 0.0) + max(s.dur - covered, 0.0)

        walk(root)
        return out


class ProgressCollector:
    """Collects ``StreamingQueryProgress`` events; the per-epoch time
    the benchmark reports is each progress event's ``triggerExecution``."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        collector = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                collector.progress.append(
                    {
                        "batch_id": int(p.batchId),
                        "run_id": str(p.runId),
                        "rows": int(p.numInputRows),
                        "timestamp": p.timestamp,
                        "duration_ms": {k: int(v) for k, v in p.durationMs.items()},
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress: list[dict] = []
        self.listener = _Listener()

    def epochs(self) -> list[dict]:
        """Progress of the micro-batches that carried input, by batch id."""
        return sorted((p for p in self.progress if p["rows"] > 0), key=lambda p: p["batch_id"])

    def wait_for(self, n_batches: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress events arrive asynchronously after the query ends."""
        deadline = time.monotonic() + timeout_s
        while len(self.epochs()) < n_batches and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.epochs()

    def take(self, n_batches: int) -> list[dict]:
        """Wait for ``n_batches`` epochs, return them and forget every
        event so far (a warm-up query's, before the timed one starts)."""
        out = self.wait_for(n_batches)
        self.progress = []
        return out


def _task_counters(tm: dict) -> dict[str, float]:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    out_m = tm.get("Output Metrics", {})
    return {
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "output_bytes": out_m.get("Bytes Written", 0),
        "tasks": 1,
    }


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the run's one application log: a plain file, or
    Spark's rolling layout (``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    files += sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for path in files:
        if path.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
            raise RuntimeError(f"event log {path} is compressed; the rollup reads plain JSON")
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def rollup(events: list[dict], tracer: Tracer) -> tuple[dict[str, dict[str, float]], dict]:
    """Sum task counters per span kind. A job belongs to the span whose
    group it carries, or — inside ``foreachBatch`` — to the epoch span
    with its streaming batch id. Batch ids restart at 0 in every query,
    so an epoch is keyed by (query run id, batch id): the stream thread
    runs its jobs under the run id as job group. Returns (kind ->
    counters, facts)."""
    by_sid = {s.sid: s for s in tracer.spans}
    batch_kind = {(s.attrs["run_id"], s.attrs["batch_id"]): s.kind for s in tracer.spans if "batch_id" in s.attrs}
    stage_kind: dict[int, str] = {}
    plans: dict[int, str] = {}  # SQL execution id -> physical plan
    kind_plans: dict[str, str] = {}
    jobs = unattributed_jobs = 0
    for ev in events:
        et = ev.get("Event")
        if et == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
            plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
        elif et == "SparkListenerJobStart":
            jobs += 1
            props = ev.get("Properties") or {}
            grp = props.get("spark.jobGroup.id") or ""
            bid = props.get(STREAM_BATCH_PROP)
            if bid is not None and (grp, int(bid)) in batch_kind:
                kind = batch_kind[grp, int(bid)]
            elif grp.startswith("pb-") and int(grp[3:]) in by_sid:
                kind = by_sid[int(grp[3:])].kind
            else:
                unattributed_jobs += 1
                kind = "unattributed"
            for st in ev.get("Stage IDs", []):
                stage_kind.setdefault(int(st), kind)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                kind_plans[kind] = kind_plans.get(kind, "") + plans.get(int(eid), "")
    out: dict[str, dict[str, float]] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        kind = stage_kind.get(int(ev.get("Stage ID", -1)), "unattributed")
        acc = out.setdefault(kind, {c: 0.0 for c in SPARK_COUNTERS})
        for c, v in _task_counters(ev.get("Task Metrics") or {}).items():
            acc[c] += v
    # the physical plans each write span ran show which merge path
    # (broadcast semi-join or shuffle aggregation) executed
    facts = {
        "jobs": jobs,
        "unattributed_jobs": unattributed_jobs,
        "merge_paths": {k: merge_path_of(p) for k, p in kind_plans.items() if k in ("replay", "epoch")},
    }
    return out, facts


def merge_path_of(plan_text: str) -> str:
    """Which COW merge path a span's plans show: the broadcast path is
    a left-semi BroadcastHashJoin on the winners, the shuffle path a
    max-LSN aggregation without it."""
    if "BroadcastHashJoin" in plan_text and "LeftSemi" in plan_text:
        return "broadcast"
    if "max_by" in plan_text or "SortAggregate" in plan_text or "HashAggregate" in plan_text:
        return "agg"
    return "unknown"
