"""Spans around the benchmark's calls into the engine, with Spark's own
counters attached from outside the program.

A span records name, start, end, parent and the run id every span of a
run shares.  Spans are always timed, because the end-to-end metrics are
built from them; with tracing on, a span also tags the Spark jobs it
submits with a job group, and a span that holds a DataFrame gets that
DataFrame's Catalyst phase times.  Spark's status store already keeps
the job and stage counters, so they are read once, after the measured
phase, and attached to spans then: nothing is read from the JVM while
the workload is being timed except the job-group tags.

Jobs submitted from threads the program starts itself (the pipeline's
thread pools, streaming micro-batches) carry no benchmark job group;
they are attributed to the innermost span whose interval contains their
submission time, which is exact for a single-client workload.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

#: per-span counters read from Spark's status store
COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb",
    "spill_mb", "result_mb",
)
PHASES = ("analysis", "optimization", "planning")
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark's job times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Collects spans for one run.  ``enabled`` turns on job-group tags,
    Catalyst phases and status-store counters; spans are timed either
    way."""

    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        #: seconds spent in tracing bookkeeping inside timed spans
        self.overhead_s = 0.0
        self.collect_s = 0.0

    def _group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty(
            "spark.jobGroup.id", f"{self.run_id}:{span.id}" if span else None
        )

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.id if parent else None,
                 time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            t = time.perf_counter()
            self._group(s)
            self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                t = time.perf_counter()
                self._group(parent)
                self.overhead_s += time.perf_counter() - t

    # ------------------------------------------------ after the run
    def attach_counters(self) -> None:
        """Read every job and stage from the status store once and add
        its counters to the span that submitted it; read the Catalyst
        phases of every DataFrame a span holds."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        by_id = {s.id: s for s in self.spans}
        depth = {}
        for s in self.spans:
            depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
        for s in self.spans:
            s.counters = dict.fromkeys(COUNTERS, 0.0)
        prefix = f"{self.run_id}:"
        seen_stages: set[int] = set()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if not j.submissionTime().isDefined():
                continue
            sub = j.submissionTime().get().getTime() / 1000
            end = (j.completionTime().get().getTime() / 1000
                   if j.completionTime().isDefined() else sub)
            group = j.jobGroup().get() if j.jobGroup().isDefined() else ""
            if group.startswith(prefix):
                owner = by_id.get(int(group[len(prefix):]))
            else:
                inside = [s for s in self.spans if s.start <= sub <= s.end]
                owner = max(inside, key=lambda s: depth[s.id], default=None)
            if owner is None:
                continue  # set-up or check work outside any span
            c = owner.counters
            c["jobs"] += 1
            owner.job_intervals.append((sub, end))
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["exec_run_s"] += st.executorRunTime() / 1e3
                c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["input_mb"] += st.inputBytes() / MB
                c["output_mb"] += st.outputBytes() / MB
                c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                c["spill_mb"] += st.diskBytesSpilled() / MB
                c["result_mb"] += st.resultSize() / MB
        for s in self.spans:
            df = s.attrs.pop("df", None)
            if df is not None:
                phases = df._jdf.queryExecution().tracker().phases()
                for p in PHASES:
                    got = phases.get(p)
                    s.counters[f"catalyst_{p}_s"] = (
                        got.get().durationMs() / 1e3 if got.isDefined() else 0.0
                    )
        self.collect_s = time.perf_counter() - t0

    def rollup(self, span: Span) -> dict:
        """A span's counters summed over its subtree, plus wall, self
        time (wall minus what child spans cover) and driver gap (wall
        minus the union of the subtree's Spark job intervals, clipped
        to the span)."""
        kids = [s for s in self.spans if s.parent == span.id]
        out = dict(span.counters)
        intervals = list(span.job_intervals)
        for k in kids:
            sub = self.rollup(k)
            intervals += sub.pop("_intervals")
            for key, v in sub.items():
                if key in COUNTERS or key.startswith("catalyst_"):
                    out[key] = out.get(key, 0.0) + v
        clipped = [(max(lo, span.start), min(hi, span.end))
                   for lo, hi in intervals if hi > span.start and lo < span.end]
        busy = union_length(clipped)
        out["wall_s"] = span.wall_s
        out["self_s"] = span.wall_s - union_length(
            [(k.start, k.end) for k in kids])
        out["job_busy_s"] = busy
        out["driver_gap_s"] = span.wall_s - busy
        out["_intervals"] = intervals
        return out

    def ledger(self) -> list[dict]:
        """Every span with its own fields and its subtree rollup."""
        rows = []
        for s in self.spans:
            r = self.rollup(s)
            r.pop("_intervals")
            rows.append({
                "id": s.id, "name": s.name, "parent": s.parent,
                "run_id": self.run_id, "start": s.start, "end": s.end,
                **{k: v for k, v in s.attrs.items() if _jsonable(v)},
                **r,
            })
        return rows

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"run_id": self.run_id, **extra, "spans": self.ledger()}, indent=1))


def _jsonable(v) -> bool:
    return isinstance(v, (str, int, float, bool)) or v is None
