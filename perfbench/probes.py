"""Measurement helpers: spans, Spark status-store counters and a
streaming progress listener.

Everything here reads the program from outside, at its public calls;
nothing is patched into the package.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

#: status-store stage fields summed into the ``exec.*`` counters
STAGE_FIELDS = {
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
}
#: every key ``JobGroups.counters`` returns
COUNTERS = ("exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks", *STAGE_FIELDS)


class Tracer:
    """Spans kept in memory and written as JSONL when the run ends.

    Disabled, ``span`` only yields; end-to-end runs record nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent in tracing code (its overhead)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "trace": self.trace_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def uncovered_s(self, names: tuple[str, ...]) -> float:
        """Self time of the spans called one of ``names``: the part of
        their wall that none of their direct children covers."""
        total = 0.0
        for parent in self.spans:
            if parent["name"] in names:
                kids = [s for s in self.spans if s["parent"] == parent["id"]]
                covered = sum(s["end"] - s["start"] for s in kids)
                total += (parent["end"] - parent["start"]) - covered
        return max(0.0, total)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class JobGroups:
    """Job groups around layer calls, read back from Spark's status
    store once the listener bus has drained."""

    def __init__(self, spark, tracer: Tracer):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields the group id,
        or None when tracing is off."""
        if not self.tracer.enabled:
            yield None
            return
        self._n += 1
        gid = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def drain_bus(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def counters(self, groups: list[str]) -> dict[str, float]:
        """Jobs, stages, tasks and summed stage metrics of every job in
        ``groups``. Stages that were skipped (reused shuffle output) ran
        no tasks and are not counted."""
        t0 = time.perf_counter()
        self.drain_bus()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids: set[int] = set()
        for gid in groups:
            for jid in tracker.getJobIdsForGroup(gid):
                out["exec.jobs"] += 1
                seq = store.job(jid).stageIds()
                stage_ids.update(seq.apply(i) for i in range(seq.size()))
        for sid in sorted(stage_ids):
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage the store never saw start
                continue
            if str(stage.status()) == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += stage.numTasks()
            out["exec.failed_tasks"] += stage.numFailedTasks()
            for key, (field, scale) in STAGE_FIELDS.items():
                out[key] += getattr(stage, field)() * scale
        self.tracer.self_s += time.perf_counter() - t0
        return out


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress event; the runner takes the
    events posted during each drain after draining the listener bus."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append(
            {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state": [
                    {
                        "rows": s.numRowsTotal,
                        "memory": s.memoryUsedBytes,
                        "commit_ms": s.commitTimeMs,
                        "update_ms": s.allUpdatesTimeMs,
                    }
                    for s in p.stateOperators
                ],
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
