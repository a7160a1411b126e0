"""Spans around calls into the package's layers, plus Spark's own stage
metrics for each operation.

A `Tracer` built with ``enabled=False`` does nothing, so the untraced run
pays one attribute test per call site. Enabled, it keeps every span in
memory as a dict (id, name, parent, op, start, end, and the per-layer
metric it counts toward when that is not its operation's) and, for each span
opened with a job group, tags the Spark jobs launched inside it so their
stage metrics can be read back from Spark's status store afterwards.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# StageData accessor -> (metric name, scale to the reported unit)
_STAGE_FIELDS = (
    ("executorRunTime", "executor_run_s", 1e-3),
    ("executorCpuTime", "executor_cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("inputBytes", "input_mb", 1 / 2**20),
    ("outputBytes", "output_mb", 1 / 2**20),
    ("shuffleWriteBytes", "shuffle_write_mb", 1 / 2**20),
    ("shuffleReadBytes", "shuffle_read_mb", 1 / 2**20),
    ("memoryBytesSpilled", "spill_mb", 1 / 2**20),
    ("diskBytesSpilled", "spill_mb", 1 / 2**20),
)


class Tracer:
    """Spans of one process, plus stage-metric sums per job group."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stage_metrics: dict[str, Counter] = {}  # job group -> sums
        self._stack: list[int] = []
        self._op: str | None = None
        self._groups: list[str] = []

    @contextmanager
    def op(self, op_id: str):
        """Root span of one operation; every span inside shares its id."""
        self._op = op_id
        try:
            with self.span("op", group=True):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str, group: bool = False, metric: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
            "metric": metric,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if group:
            gid = f"{self._op}#{sid}#{name}"
            rec["group"] = gid
            self._groups.append(gid)
            self.spark.sparkContext.setJobGroup(gid, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                outer = [s for s in self._stack if "group" in self.spans[s]]
                if outer:
                    self.spark.sparkContext.setJobGroup(
                        self.spans[outer[-1]]["group"], "resume"
                    )
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def collect_stage_metrics(self) -> None:
        """Read the stage metrics of every job group opened since the last
        call. Waits for Spark's listener bus first: job-end events reach
        the status store asynchronously."""
        if not self.enabled or not self._groups:
            return
        with self.span("trace.collect"):
            sc = self.spark.sparkContext
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
            for gid in self._groups:
                self.stage_metrics[gid] = _group_metrics(tracker, store, gid)
            self._groups = []


def _group_metrics(tracker, store, gid: str) -> Counter:
    out: Counter = Counter()
    for jid in tracker.getJobIdsForGroup(gid):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            for acc, name, scale in _STAGE_FIELDS:
                out[name] += getattr(st, acc)() * scale
    return out

