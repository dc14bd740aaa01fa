"""Spans around the engine's public calls, with Spark stage metrics per span.

Each span runs under its own Spark job group, so every job a call launches
is attributed to the innermost open span. After a traced round the tracer
drains Spark's listener bus and reads, for each span's group, the metrics of
every stage its jobs ran from Spark's status store. Spans stay in memory and
are written to disk once, when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._pending: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self._persistent: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}-{sid}",
            "error": None,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        except BaseException as err:
            rec["error"] = type(err).__name__
            raise
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty(_GROUP, None)
            self.spans.append(rec)
            self._pending.append(rec)

    def wrap(self, owner, attr: str, name: str, persistent: bool = False) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per call.
        A persistent wrapper stays in place until ``unwrap_all(True)``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        (self._persistent if persistent else self._patches).append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self, persistent: bool = False) -> None:
        patches = self._patches + (self._persistent if persistent else [])
        for owner, attr, original in reversed(patches):
            setattr(owner, attr, original)
        self._patches.clear()
        if persistent:
            self._persistent.clear()

    # -- stage metrics -------------------------------------------------------
    def resolve(self) -> None:
        """Attach stage metrics to every span closed since the last call."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self._pending:
            jobs = list(tracker.getJobIdsForGroup(rec["group"]))
            stage_ids = set()
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            rec["jobs"] = len(jobs)
            rec["stages"] = [
                m for m in (_stage_metrics(store, s) for s in sorted(stage_ids)) if m
            ]
        self._pending.clear()


def _stage_metrics(store, stage_id: int) -> dict | None:
    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None  # evicted from the store or never submitted
    status = sd.status().toString()
    if status != "COMPLETE" and status != "FAILED":
        return None  # skipped (its shuffle output was reused) or pending
    out = {
        "stage": stage_id,
        "attempt": sd.attemptId(),
        "status": status,
        "tasks": sd.numTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "executor_run_ms": sd.executorRunTime(),
        "executor_cpu_ns": sd.executorCpuTime(),
        # rows, not bytes: parquet's vectored reads bypass the per-task
        # bytesRead counter, so Spark under-reports inputBytes
        "input_records": sd.inputRecords(),
        "output_bytes": sd.outputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "shuffle_write_records": sd.shuffleWriteRecords(),
        "memory_spill_bytes": sd.memoryBytesSpilled(),
        "disk_spill_bytes": sd.diskBytesSpilled(),
    }
    tasks = store.taskList(stage_id, sd.attemptId(), 100_000)
    durations = []
    for i in range(tasks.size()):
        d = tasks.apply(i).duration()
        if d.isDefined():
            durations.append(int(d.get()))
    out["task_ms_max"] = max(durations, default=0)
    out["task_ms_median"] = statistics.median(durations) if durations else 0
    return out
