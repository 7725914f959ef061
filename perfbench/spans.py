"""Spans recorded around the engine's public calls, plus the Spark
event-log reader that attributes jobs, tasks and task metrics to them.

A span has a name, a layer (the engine module it measures), start and
end on the monotonic clock, and a parent. Spans stay in memory until
the run ends. When tracing is on, each span also becomes the Spark job
group of the calls made inside it, so the event log (switched on for
traced runs only) can be joined back to the span that caused each job.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        """Spark job-group id of this span."""
        return f"pb{self.id}:{self.name}"

    @property
    def wall(self) -> float:
        return (self.end or time.monotonic()) - self.start


class Tracer:
    """Records spans and counts engine calls.

    ``call`` wraps one engine call: it is a span, one attempt, and a
    failure if the call raises. ``span`` groups calls into a phase.
    With ``job_groups`` on, entering a span sets its Spark job group
    on the current thread and leaving restores the parent's."""

    def __init__(self, run_id: str, job_groups: bool):
        self.run_id = run_id
        self.job_groups = job_groups
        self.spans: list[Span] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._spark = None
        self._lock = threading.Lock()
        self._local = threading.local()

    def bind(self, spark) -> None:
        """Use ``spark`` for job groups from now on (after each session
        (re)start; None before stopping it)."""
        self._spark = spark
        stack = self._stack()
        self._set_group(stack[-1] if stack else None)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if not self.job_groups or self._spark is None:
            return
        sc = self._spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, layer: str = "bench", **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, layer, parent and parent.id,
                      time.monotonic(), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            stack.pop()
            self._set_group(parent)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        """One engine call: an attempt, and a failure if it raises."""
        with self.span(name, layer, call=True):
            self.count()
            try:
                return fn(*args, **kwargs)
            except Exception as exc:
                self.count(failed=True, error=f"{name}: {exc!r}")
                raise

    def count(self, failed: bool = False, error: str = "") -> None:
        """Count an attempt (``failed=False``) or mark the last one
        failed — thread-safe, for client threads that call the engine
        without a span of their own."""
        with self._lock:
            if failed:
                self.failed += 1
                self.errors.append(error[:300])
            else:
                self.attempted += 1

    def join_group(self, span: Span) -> None:
        """Make the calls of the current (client) thread count under
        ``span``'s job group."""
        self._set_group(span)

    # -- analysis ------------------------------------------------------
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, roots: list[Span]) -> list[Span]:
        """``roots`` and every span nested under them."""
        ids = {s.id for s in roots}
        out = list(roots)
        for s in self.spans:  # parents are always created first
            if s.parent in ids and s.id not in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for k in sorted(kids.get(s.id, []), key=lambda k: k.start):
                lo, hi = max(k.start, cur_end), min(k.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.id] = s.wall - covered
        return out

    def dump(self) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "run_id": self.run_id,
                "id": s.id,
                "name": s.name,
                "layer": s.layer,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": selfs[s.id],
                **s.attrs,
            }
            for s in self.spans
        ]


_ZERO = {
    "jobs": 0,
    "tasks": 0,
    "run_s": 0.0,
    "cpu_s": 0.0,
    "gc_s": 0.0,
    "shuffle_read_mb": 0.0,
    "shuffle_write_mb": 0.0,
    "spill_mb": 0.0,
    "output_mb": 0.0,
}


def read_event_logs(log_dir: Path) -> dict[str, dict]:
    """job group -> summed job/task metrics, from every Spark event log
    in ``log_dir`` (one per SparkContext the run started).

    A stage is charged to the first job that lists it: a later job that
    reuses the stage skips it and runs none of its tasks."""
    mb = 1024.0 * 1024.0
    out: dict[str, dict] = {}
    for path in sorted(log_dir.iterdir()):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    agg = out.setdefault(group, dict(_ZERO))
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    agg = out[group]
                    sr = tm.get("Shuffle Read Metrics", {})
                    sw = tm.get("Shuffle Write Metrics", {})
                    om = tm.get("Output Metrics", {})
                    agg["tasks"] += 1
                    agg["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    agg["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mb
                    agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    agg["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / mb
                    agg["output_mb"] += om.get("Bytes Written", 0) / mb
    return out


def sum_groups(spans: list[Span], by_group: dict[str, dict]) -> dict:
    """Summed Spark metrics of the job groups of ``spans`` (only their
    own groups: pass ``Tracer.subtree`` to include nested spans)."""
    tot = dict(_ZERO)
    for s in spans:
        for k, v in by_group.get(s.group, _ZERO).items():
            tot[k] += v
    return tot
