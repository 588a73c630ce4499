"""Spans, Spark status-store counters and process memory for the benchmark.

Spans are recorded only from the benchmark's own code, around each call it
makes into one of the engine's layers (see README.md, "Per-layer
metrics"). Spark-side counts come from the status store, which is
populated with the UI off: every operation runs under its own job group,
so its jobs, stages and tasks can be attributed to it.
"""

from __future__ import annotations

import contextlib
import os
import time
from collections import defaultdict

# status-store StageData field -> (per-layer metric, scale)
STAGE_FIELDS = {
    "executorRunTime": ("spark.executor_run_s", 1e-3),
    "jvmGcTime": ("spark.gc_s", 1e-3),
    "inputBytes": ("spark.input_mb", 1 / 2**20),
    "shuffleReadBytes": ("spark.shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("spark.shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spark.spill_mb", 1 / 2**20),
    "numFailedTasks": ("spark.failed_tasks", 1),
}


class Tracer:
    """Collects spans and counters for one pass at a time.

    With ``enabled`` false every method is a cheap no-op except the
    job-group tagging, which the untraced run needs too (it costs one
    local-property set per operation)."""

    def __init__(self, spark, enabled: bool = False):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._op: str | None = None

    def begin_op(self, op_id: str, name: str) -> None:
        self._op = op_id
        self.sc.setJobGroup(op_id, name)

    @contextlib.contextmanager
    def span(self, metric: str, name: str = ""):
        """Time a call into a layer; the duration is added to ``metric``
        (a per-layer metric in seconds) and kept as a span."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(idx)
        t0 = time.perf_counter()
        self.spans.append({"op": self._op, "metric": metric, "name": name,
                           "parent": parent, "start": t0, "end": None})
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans[idx]["end"] = t1
            self._stack.pop()
            self.counts[metric] += t1 - t0

    def add(self, metric: str, value: float) -> None:
        if self.enabled:
            self.counts[metric] += value

    def count_build_jobs(self, op_id: str) -> None:
        """Jobs ``op_id`` has started so far: called between plan build
        and action, it counts the eager jobs a plan runs while building."""
        if self.enabled:
            self.counts["plans.build_jobs"] += len(
                self.sc.statusTracker().getJobIdsForGroup(op_id))

    def collect_spark(self, op_id: str) -> None:
        """Add the status-store totals of every job of ``op_id``."""
        if not self.enabled:
            return
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        job_ids = st.getJobIdsForGroup(op_id)
        self.counts["spark.jobs"] += len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            ran = False
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue  # skipped stage: its shuffle output was reused
                ran = True
                self.counts["spark.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                for field, (metric, scale) in STAGE_FIELDS.items():
                    self.counts[metric] += getattr(sd, field)() * scale
            self.counts["spark.stages"] += ran

    def take_counts(self) -> dict[str, float]:
        out, self.counts = dict(self.counts), defaultdict(float)
        return out

    def dump(self, path: str, extra: dict) -> None:
        import json

        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids, out, todo = _children(), [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out[1:]


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over this process and all its
    descendants: the driver Python, the JVM and the Python workers. Read
    before the session stops, while the workers are still alive."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
