"""Tracing for the benchmark: spans around the calls the benchmark makes,
Spark jobs and stages read back from the status store, and streaming
progress from a ``StreamingQueryListener``.

Spans are kept in memory and written out once, when the run ends. A
span's self time is its duration minus the part of it that its child
spans cover.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of ``intervals`` covers."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Spans:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def open(self, name: str, parent: Span | None, start: float, **attrs) -> Span:
        span = Span(len(self.spans), parent.id if parent else None, name, start, attrs=attrs)
        self.spans.append(span)
        return span

    def add(self, name: str, parent: Span, start: float, end: float, **attrs) -> Span:
        span = self.open(name, parent, start, **attrs)
        span.end = end
        return span

    def write(self, path) -> None:
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            kids = [(c.start, c.end) for c in children.get(s.id, [])]
            self_s = (s.end - s.start) - covered(kids, s.start, s.end)
            out.append({**s.__dict__, "self_s": self_s})
        with open(path, "w") as fh:
            json.dump(out, fh)


class ProgressListener(StreamingQueryListener):
    """Collects query starts (for their runIds) and micro-batch progress."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.run_ids: list[str] = []
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self.lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ms = p.durationMs
        batch = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "input_rows": p.numInputRows,
            "trigger_s": ms.get("triggerExecution", 0) / 1000,
            "add_batch_s": ms.get("addBatch", 0) / 1000,
            "commit_s": (ms.get("walCommit", 0) + ms.get("commitOffsets", 0)) / 1000,
            "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
        }
        with self.lock:
            self.batches.append(batch)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> tuple[list[str], list[dict]]:
        with self.lock:
            out = self.run_ids, self.batches
            self.run_ids, self.batches = [], []
        return out


def _epoch_s(option_date) -> float | None:
    return option_date.get().getTime() / 1000 if option_date.isDefined() else None


class Tracer:
    """Attributes Spark work to one registry entry at a time.

    The benchmark calls entries one after another from one thread, so
    every job submitted between two calls belongs to the entry between
    them. The window is taken from the scheduler's job counter because
    jobs that the program submits from its own driver threads carry no
    job group. Streaming jobs run under their query's runId as job group;
    those are labelled from the runIds the listener saw.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self._stage_defaults = (
            getattr(self.store, "stageData$default$3")(),
            getattr(self.store, "stageData$default$5")(),
        )
        self.seen_stages: set[tuple[int, int]] = set()
        self.listener = ProgressListener()
        self.spans = Spans()

    def start(self) -> None:
        self.spark.streams.addListener(self.listener)

    def stop(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def next_job_id(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    def _stages(self, stage_id: int):
        rows = self.store.stageData(
            stage_id, False, self._stage_defaults[0], False, self._stage_defaults[1]
        )
        return [rows.apply(i) for i in range(rows.size())]

    def collect(self, first_job: int, end_job: int, build: Span, exec_: Span) -> dict:
        """Read back the entry's jobs, stages and micro-batches, add them as
        child spans, and return the entry's layer counters."""
        self.jsc.listenerBus().waitUntilEmpty(60_000)
        run_ids, batches = self.listener.take()
        tracker = self.spark.sparkContext.statusTracker()
        stream_jobs = {j for r in run_ids for j in tracker.getJobIdsForGroup(r)}

        c = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        intervals = []
        for jid in range(first_job, end_job):
            job = self.store.job(jid)
            start, end = _epoch_s(job.submissionTime()), _epoch_s(job.completionTime())
            if start is None:
                continue
            end = end if end is not None else exec_.end
            intervals.append((start, end))
            parent = build if start < build.end else exec_
            attrs = {"job_id": jid, "stream": jid in stream_jobs}
            self.spans.add("job", parent, start, end, **attrs)
            c["jobs"] += 1
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                for st in self._stages(int(stage_ids.apply(i))):
                    # With adaptive execution a shuffle runs as its own map-stage
                    # job; the result job then lists that shuffle again under a
                    # new stage id, marked SKIPPED, with its full task count.
                    if str(st.status().toString()) == "SKIPPED":
                        continue
                    key = (st.stageId(), st.attemptId())
                    if key in self.seen_stages:
                        continue  # it ran, and was counted, under an earlier job
                    self.seen_stages.add(key)
                    c["tasks"] += st.numTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1000
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                    c["spill_mb"] += st.diskBytesSpilled() / MB
        c["driver_s"] = (exec_.end - build.start) - covered(intervals, build.start, exec_.end)

        last_state: dict[str, int] = {}
        for b in batches:
            start = iso_epoch_s(b["timestamp"])
            self.spans.add("micro_batch", build, start, start + b["trigger_s"], **b)
            last_state[b["run_id"]] = b["state_rows"]
        c["stream"] = {
            "run_id_jobs": len(stream_jobs),
            "batches": len(batches),
            "input_rows": sum(b["input_rows"] for b in batches),
            "add_batch_s": sum(b["add_batch_s"] for b in batches),
            "commit_s": sum(b["commit_s"] for b in batches),
            "state_rows": sum(last_state.values()),
        }
        return c


def iso_epoch_s(iso: str) -> float:
    """Epoch seconds of a progress event's ISO-8601 UTC timestamp."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
