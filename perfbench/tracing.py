"""Spans and Spark counters recorded from the benchmark's side.

A :class:`Tracer` keeps spans in memory (name, start, end, parent) and
writes them once, when the run ends. The hierarchy is
run -> pass -> call -> {build, exec} (or an ETL step).

:class:`SparkCounters` attributes Spark jobs to a span by job-id
window: the benchmark is a single-client closed loop, so every job
whose id is above the highest id seen before the span opened, and at
or below the highest id seen when it closed, was launched by the
span's work. Unlike ``setJobGroup`` this also catches jobs that run on
other threads, such as structured-streaming micro-batches. The status
store is read only after a span closes, never inside it.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "run_ms",
    "cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. A disabled tracer keeps no spans but
    still times them, so call sites do not branch on tracing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._next = 0

    def open(self, name: str, **attrs) -> Span:
        parent = self._open[-1].id if self._open else None
        span = Span(self._next, name, parent, time.perf_counter(), attrs=attrs)
        self._next += 1
        if self.enabled:
            self.spans.append(span)
        self._open.append(span)
        return span

    def close(self, span: Span, **attrs) -> float:
        """Close ``span`` (and any child an exception left open);
        returns its duration."""
        while self._open and self._open[-1] is not span:
            self._open.pop().end = time.perf_counter()
        if not self._open:
            raise RuntimeError(f"span {span.name} is not open")
        self._open.pop()
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        return span.end - span.start

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children
    (children never overlap: the loop is closed and single-client)."""
    child_total: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] = child_total.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    return {
        s["id"]: (s["end"] - s["start"]) - child_total.get(s["id"], 0.0)
        for s in spans
    }


def check_tree(spans: list[dict]) -> list[str]:
    """Problems with a written span tree: a span other than the single
    root without a known parent, a span not inside its parent's
    interval, or a negative self time."""
    problems = []
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    if len(roots) != 1:
        problems.append(f"{len(roots)} root spans")
    for s in spans:
        if s["end"] is None:
            problems.append(f"span {s['id']} {s['name']} never closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            problems.append(f"span {s['id']} {s['name']} has unknown parent")
        elif p is not None and not (p["start"] <= s["start"] <= s["end"] <= p["end"]):
            problems.append(f"span {s['id']} {s['name']} outside its parent")
    for sid, t in self_times([s for s in spans if s["end"] is not None]).items():
        if t < -1e-6:
            problems.append(f"span {sid} {by_id[sid]['name']} self time {t:.6f} < 0")
    return problems


class SparkCounters:
    """Reads the Spark status store by job-id window."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self.last_job = self._latest_job()

    def _latest_job(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.length() else -1

    def take(self) -> dict[str, int]:
        """Counters of every job launched since the previous call."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        jobs = store.jobsList(None)  # newest first
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        newest = self.last_job
        for i in range(jobs.length()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            out["jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.length()))
        self.last_job = newest
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["run_ms"] += st.executorRunTime()
            out["cpu_ms"] += st.executorCpuTime() // 1_000_000
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def storage_bytes(self) -> int:
        """Memory plus disk bytes of every cached RDD right now."""
        return sum(
            info.memSize() + info.diskSize() for info in self._sc.getRDDStorageInfo()
        )


PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas")


def plan_counts(df) -> dict[str, int]:
    """Exchange and Python-kernel node counts of a DataFrame's physical
    plan (including the plans of cached relations it scans)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": text.count("Exchange "),
        "python_nodes": sum(text.count(n) for n in PYTHON_NODES),
    }
