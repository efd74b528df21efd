"""Tracing for the per-layer run: stage spans plus Spark event-log metrics.

`SpanRecorder` wraps `plans.materialize.materialize_stage` — the function
every pipeline stage passes through — from outside the program. Each
wrapped call records one span (stage name, start, end, parent) and runs
under its own Spark job group, so the event log attributes every job, and
therefore every task metric, to exactly one span. Spans stay in memory;
`EventLog` reads the log once the session has stopped.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from dataclasses import dataclass, field
from typing import Iterator

from blarify_spark.plans import materialize as _materialize

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """One span per pipeline call and per materialized stage within it."""

    def __init__(self, sc) -> None:  # noqa: ANN001 - SparkContext
        self.sc = sc
        self.spans: list[Span] = []
        self._call: str | None = None

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty(_GROUP, group)

    @contextlib.contextmanager
    def call(self, call_id: str) -> Iterator[None]:
        """Span around one whole pipeline call; stage spans nest in it.
        Jobs the call runs outside any stage land in its own group."""
        span = Span("call", f"kgbench|{call_id}|call", None, time.perf_counter())
        self._call = call_id
        self._set_group(span.group)
        original = _materialize.materialize_stage
        _materialize.materialize_stage = self._wrap(original)
        try:
            yield
        finally:
            _materialize.materialize_stage = original
            self._set_group(None)
            self._call = None
            span.end = time.perf_counter()
            self.spans.append(span)

    def _wrap(self, original):  # noqa: ANN001, ANN202
        def traced(spark, out_dir, run_id, stage, *args, **kwargs):  # noqa: ANN001, ANN202
            outer = f"kgbench|{self._call}|call"
            span = Span(stage, f"kgbench|{self._call}|{stage}", outer, time.perf_counter())
            self._set_group(span.group)
            try:
                return original(spark, out_dir, run_id, stage, *args, **kwargs)
            finally:
                span.end = time.perf_counter()
                self._set_group(outer)
                self.spans.append(span)

        return traced

    def stage_seconds(self, call_id: str, *stages: str) -> float:
        return sum(
            s.seconds
            for s in self.spans
            if s.parent == f"kgbench|{call_id}|call" and s.name in stages
        )


@dataclass
class GroupStats:
    """Task metrics summed over every job of one job group."""

    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    cpu_ns: int = 0
    python_bytes: int = 0
    # stage id -> task durations (ms), for skew
    task_ms: dict[int, list[int]] = field(default_factory=dict)

    def add(self, other: "GroupStats") -> "GroupStats":
        out = GroupStats(
            self.jobs + other.jobs,
            self.tasks + other.tasks,
            self.shuffle_write_bytes + other.shuffle_write_bytes,
            self.spill_bytes + other.spill_bytes,
            self.gc_ms + other.gc_ms,
            self.cpu_ns + other.cpu_ns,
            self.python_bytes + other.python_bytes,
        )
        out.task_ms = {**self.task_ms, **other.task_ms}
        return out

    def task_skew(self) -> float:
        """max over median task time in the stage with the most task time
        (the stage that sets the span's length)."""
        if not self.task_ms:
            return 0.0
        heavy = max(self.task_ms.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 0.0


# Arrow/pandas UDF operators report the bytes they ship to Python workers
# as this SQL metric; extraction is the program's only Python crossing.
_PYTHON_SENT = "data sent to Python workers"


class EventLog:
    """Per-job-group task metrics parsed from a finished Spark event log."""

    def __init__(self, log_dir: str) -> None:
        files = [
            f for f in glob.glob(f"{log_dir}/*") if not f.endswith(".inprogress")
        ]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
        self.groups: dict[str, GroupStats] = {}
        stage_group: dict[int, str] = {}
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP) or ""
                    self.groups.setdefault(group, GroupStats()).jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"], "")
                    self._task(self.groups.setdefault(group, GroupStats()), ev)

    @staticmethod
    def _task(g: GroupStats, ev: dict) -> None:
        info = ev["Task Info"]
        metrics = ev.get("Task Metrics") or {}
        g.tasks += 1
        g.task_ms.setdefault(ev["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"]
        )
        g.shuffle_write_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g.spill_bytes += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
            "Disk Bytes Spilled", 0
        )
        g.gc_ms += metrics.get("JVM GC Time", 0)
        g.cpu_ns += metrics.get("Executor CPU Time", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == _PYTHON_SENT:
                g.python_bytes += int(acc.get("Update", 0))

    def stats(self, call_id: str, *stages: str) -> GroupStats:
        """Summed stats of the named stage spans of one call; no names
        means every group of the call, jobs outside any stage included."""
        prefix = f"kgbench|{call_id}|"
        out = GroupStats()
        for group, g in self.groups.items():
            if group.startswith(prefix) and (
                not stages or group[len(prefix):] in stages
            ):
                out = out.add(g)
        return out
