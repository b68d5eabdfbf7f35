"""Spans around the engine's public calls, and the fold that turns spans
plus a Spark event log into per-layer metrics.

A span is recorded by the benchmark's own code around one call into an
engine layer: name, start, end, parent span and run id, plus the counts
the benchmark observed at that boundary. Spans stay in memory and are
written as JSONL when the run ends. While a span is open, the Spark jobs
it starts are tagged with `setJobGroup(<span id>, <span name>)`; jobs
that Spark tags itself (streaming micro-batches) are attributed to the
innermost span whose interval holds their submission time.

This module imports nothing from Spark, so the fold runs (and is unit
tested) without a session.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans. A disabled tracer records nothing and tags no job,
    so the timed run pays only a context-manager enter and exit."""

    def __init__(self, run_id: str, enabled: bool, spark=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}:{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            run=self.run_id,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s.counts
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a span timed elsewhere (e.g. before the session existed)."""
        self.spans.append(
            Span(f"{self.run_id}:{len(self.spans)}", name, None, self.run_id, start, end)
        )

    def _tag(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(s.id, s.name)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def read_spans(path: str) -> list[Span]:
    with open(path) as fh:
        return [Span(**json.loads(line)) for line in fh if line.strip()]


# --- event log -------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float  # epoch seconds
    stages: list[int]


@dataclass
class Stage:
    tasks: int = 0
    executor_run_s: float = 0.0
    python_worker_s: float = 0.0
    shuffle_bytes: int = 0


# SQL metrics of Python-evaluating operators (ArrowEvalPython,
# MapInArrow, FlatMapGroupsInPandas, ...) that measure time inside
# Python workers, reported per task in milliseconds.
PYTHON_TIME_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


def read_event_logs(paths: list[str]) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs, and per-stage totals summed over task-end events, from
    uncompressed, non-rolling Spark event logs (one JSON event per
    line). Ids are unique only within one application, so they are
    offset per log file."""
    jobs: list[Job] = []
    stages: dict[int, Stage] = {}
    for n, path in enumerate(sorted(paths)):
        base = n * 1_000_000
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        Job(
                            id=base + ev["Job ID"],
                            group=props.get("spark.jobGroup.id"),
                            submitted=ev["Submission Time"] / 1000.0,
                            stages=[base + s for s in ev["Stage IDs"]],
                        )
                    )
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(base + ev["Stage ID"], Stage())
                    st.tasks += 1
                    tm = ev.get("Task Metrics") or {}
                    st.executor_run_s += tm.get("Executor Run Time", 0) / 1000.0
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_TIME_METRICS:
                            st.python_worker_s += float(acc.get("Update", 0)) / 1000.0
    return jobs, stages


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[str, list[Job]]:
    """Span id -> its jobs. A job tagged with a known span id belongs to
    that span; any other job belongs to the innermost (latest-starting)
    span whose interval holds its submission time."""
    by_id = {s.id: s for s in spans}
    out: dict[str, list[Job]] = {s.id: [] for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    for j in jobs:
        if j.group in by_id:
            out[j.group].append(j)
            continue
        holder = None
        for s in ordered:
            if s.start <= j.submitted <= s.end:
                holder = s
        if holder is not None:
            out[holder.id].append(j)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = (s.end - s.start) - covered
    return out


def fold(spans: list[Span], jobs: list[Job], stages: dict[int, Stage]) -> dict[str, dict]:
    """Per span name: the median over its instances of duration, self
    time, and the job, task, executor, Python-worker and shuffle totals
    of the jobs attributed to each instance."""
    owned = attribute_jobs(spans, jobs)
    selfs = self_times(spans)
    per_name: dict[str, list[dict]] = {}
    for s in spans:
        seen: set[int] = set()
        rec = {
            "s": s.end - s.start,
            "self_s": selfs[s.id],
            "jobs": len(owned[s.id]),
            "tasks": 0,
            "executor_run_s": 0.0,
            "python_worker_s": 0.0,
            "shuffle_bytes": 0,
        }
        for j in owned[s.id]:
            for sid in j.stages:
                st = stages.get(sid)
                if st is None or sid in seen:
                    continue  # skipped (reused) stages run no task
                seen.add(sid)
                rec["tasks"] += st.tasks
                rec["executor_run_s"] += st.executor_run_s
                rec["python_worker_s"] += st.python_worker_s
                rec["shuffle_bytes"] += st.shuffle_bytes
        for k, v in s.counts.items():
            rec[k] = v
        per_name.setdefault(s.name, []).append(rec)
    return {
        name: {k: statistics.median(r[k] for r in recs) for k in recs[0]}
        for name, recs in per_name.items()
    }


def event_log_files(directory: str) -> list[str]:
    if not os.path.isdir(directory):
        return []
    return [
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
