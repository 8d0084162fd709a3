"""Spans, GASEngine timing shims, Spark event-log attribution and RSS.

Spans are recorded by the benchmark around its own calls into each layer.
Every span sets a Spark job group (``perfbench:<job>:<span id>``) for its
duration, so each job in Spark's event log is attributed to the innermost
span that was open when it was submitted. A span's self time is its wall
time minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# event-log times are whole milliseconds; allow for their truncation
CLOCK_SLACK_MS = 2


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float  # epoch seconds, comparable with event-log milliseconds
    t1: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records the nested spans of one job on the calling thread and tags
    Spark jobs with them."""

    def __init__(self, sc, job: int):
        self.sc = sc
        self.prefix = f"perfbench:{job}:"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0  # time spent inside the tracer itself

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.prefix}{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.t0 = time.time()
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield s
        finally:
            s.t1 = time.time()
            b1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.bookkeeping_s += time.perf_counter() - b1

    def self_times(self) -> dict[int, float]:
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.wall
        return {s.sid: s.wall - child[s.sid] for s in self.spans}


def persisted_bytes(sc) -> int:
    """Memory + disk bytes of every persisted RDD in the block manager."""
    return sum(
        int(i.memSize()) + int(i.diskSize()) for i in sc._jsc.sc().getRDDStorageInfo()
    )


@contextmanager
def gas_shims(tracer: Tracer):
    """Wrap GASEngine's setup and durability methods in spans for the
    duration of the block. Cache hits of ``edges_partitioned``,
    ``vertex_stats`` and ``_endpoint_counts`` return without work and get
    no span.

    ``vertex_stats`` only plans its aggregation behind a lazy local
    checkpoint; the engine's first action over the frame (normally the
    loop's entry-frontier count) would run it inside ``run``. The shim
    materializes the frame inside its own span instead, so
    ``gas.vertex_stats`` times the aggregation and the entry count reads
    the stored blocks. That adds one short count job per direction to a
    traced run. ``_endpoint_counts`` (the sender/receiver readback over the
    stats) is booked to ``gas.vertex_stats`` too."""
    from mirrorofmapgraph_spark.plans.gas import GASEngine

    def cached(meth, engine, args):
        if meth == "edges_partitioned":
            return (args[0] if args else "src") in engine._edges_by
        key = args[0] if args else "fwd"
        store = engine._vstats if meth == "vertex_stats" else engine._endpoint_counts_cache
        return bool(store) and key in store

    spans = {
        "edges_partitioned": "gas.bootstrap",
        "vertex_stats": "gas.vertex_stats",
        "_endpoint_counts": "gas.vertex_stats",
        "run": "gas.run",
        "write_checkpoint": "gas.checkpoint",
        "load_checkpoint": "gas.load_checkpoint",
    }
    originals = {m: getattr(GASEngine, m) for m in spans}

    def wrap(meth):
        orig = originals[meth]

        def shim(self, *args, **kwargs):
            if meth in ("edges_partitioned", "vertex_stats", "_endpoint_counts") and cached(
                meth, self, args
            ):
                return orig(self, *args, **kwargs)
            with tracer.span(spans[meth]) as s:
                out = orig(self, *args, **kwargs)
                if meth == "vertex_stats":
                    out.count()
                if meth == "run":
                    s.info["step_s"] = sum(
                        m.wall_ms for m in out.metrics[len(out.metrics) - out.supersteps:]
                    ) / 1000.0
                if meth in ("edges_partitioned", "vertex_stats", "run"):
                    b0 = time.perf_counter()
                    s.info["persisted_bytes"] = persisted_bytes(self.spark.sparkContext)
                    tracer.bookkeeping_s += time.perf_counter() - b0
            return out

        return shim

    for m in spans:
        setattr(GASEngine, m, wrap(m))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(GASEngine, m, orig)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

@dataclass
class EventLog:
    jobs: dict  # job id -> {"group", "t0", "t1"} (ms)
    tasks: list  # dicts: group, t0, t1 (ms), run_ms, cpu_ns, gc_ms, sw, sr


def read_event_log(directory: str) -> EventLog:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(files)}")
    jobs: dict = {}
    stage_group: dict = {}
    tasks: list = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"],
                    "t1": None,
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "group": stage_group.get(ev["Stage ID"]),
                    "t0": info["Launch Time"],
                    "t1": info["Finish Time"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "sw": sw.get("Shuffle Bytes Written", 0),
                    "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                })
    return EventLog(jobs, tasks)


def _covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _low_parallel(intervals, lo, hi) -> float:
    """Length of [lo, hi] during which at most one interval is open."""
    edges = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            edges += [(a, 1), (b, -1)]
    edges.sort()
    total, depth, prev = 0.0, 0, lo
    for t, d in edges:
        if depth <= 1:
            total += t - prev
        depth += d
        prev = t
    return total + (hi - prev)


def attribute(tracer: Tracer, log: EventLog, root: Span) -> dict:
    """Per-span Spark totals plus the reconciliation checks."""
    lo, hi = root.t0 * 1000.0, root.t1 * 1000.0
    by_sid = {s.sid: s for s in tracer.spans}
    per_span = {s.sid: {"jobs": [], "tasks": []} for s in tracer.spans}
    outside, unattributed = 0, 0
    window_jobs = []
    for job in log.jobs.values():
        if job["t1"] is None or job["t1"] < lo - CLOCK_SLACK_MS or job["t0"] > hi + CLOCK_SLACK_MS:
            continue
        window_jobs.append((job["t0"], job["t1"]))
        g = job["group"] or ""
        sid = int(g[len(tracer.prefix):]) if g.startswith(tracer.prefix) else None
        if sid not in by_sid:
            unattributed += 1
            continue
        s = by_sid[sid]
        per_span[sid]["jobs"].append((job["t0"], job["t1"]))
        if job["t0"] < s.t0 * 1000 - CLOCK_SLACK_MS or job["t1"] > s.t1 * 1000 + CLOCK_SLACK_MS:
            outside += 1
    window_tasks = []
    for t in log.tasks:
        g = t["group"] or ""
        sid = int(g[len(tracer.prefix):]) if g.startswith(tracer.prefix) else None
        if sid in per_span:
            per_span[sid]["tasks"].append(t)
            window_tasks.append(t)
    return {
        "per_span": per_span,
        "jobs_outside": outside,
        "unattributed_jobs": unattributed,
        "idle_s": ((hi - lo) - _covered(window_jobs, lo, hi)) / 1000.0,
        "serial_s": _low_parallel([(t["t0"], t["t1"]) for t in window_tasks], lo, hi) / 1000.0,
        "tasks": window_tasks,
        "n_jobs": len(window_jobs),
    }


def span_idle_s(span: Span, jobs) -> float:
    lo, hi = span.t0 * 1000.0, span.t1 * 1000.0
    return ((hi - lo) - _covered(jobs, lo, hi)) / 1000.0


# --------------------------------------------------------------------------
# process-tree RSS
# --------------------------------------------------------------------------

class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (Python driver, JVM, Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = self._tree_rss()
            with self._lock:
                self.peak_bytes = max(self.peak_bytes, rss)

    def reset(self) -> None:
        rss = self._tree_rss()
        with self._lock:
            self.peak_bytes = rss

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
