"""In-memory span recorder, trace exporter and Spark status-store reader.

A span is recorded by the benchmark around each call it makes into one of
the engine's layers: ``session``, ``gateway``, ``mapreduce``, ``registry``,
``catalog``, ``streaming``. Spans keep name, layer, start, end and parent
(the enclosing span on the same thread). They stay in memory and are
written out once, when the run ends. A layer's self time is its spans'
durations minus the part of each interval its child spans cover.

The executor layer (``spark.*``) is read from Spark's status store per job
group after each operation, outside the timed window.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Span recorder; when disabled, :meth:`span` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "layer": layer,
            "name": name,
            "thread": threading.get_ident(),
            "start": time.perf_counter() - self.t0,
            "attrs": attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer (span minus covered child time)."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], ())
            )
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# --- executor layer: Spark's public status APIs ------------------------------

STAGE_FIELDS = (
    "stages", "tasks", "task_failures", "executor_run_s", "executor_cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records",
    "spill_bytes", "input_bytes",
)


def job_ids(spark, group: str | None) -> list[int]:
    """Spark job ids of a job group (``None``: jobs with no group)."""
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark, jobs) -> dict[str, float]:
    """Sum task metrics over the stages the given jobs actually ran."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never attempted, or evicted from the store
            continue
        if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
            continue  # skipped stage (output reused from an earlier job)
        tot["stages"] += 1
        tot["tasks"] += sd.numCompleteTasks()
        tot["task_failures"] += sd.numFailedTasks()
        tot["executor_run_s"] += sd.executorRunTime() / 1e3
        tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        tot["gc_s"] += sd.jvmGcTime() / 1e3
        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
        tot["shuffle_records"] += sd.shuffleWriteRecords()
        tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        tot["input_bytes"] += sd.inputBytes()
    tot["jobs"] = float(len(jobs))
    return tot
