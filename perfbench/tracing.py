"""Tracing from the benchmark's side of each layer boundary.

:class:`Tracer` records spans (name, start, end, parent) per job in memory;
:func:`patched` swaps the traced wrappers into every engine module that
imported a wrapped function by name; :func:`group_stats` reads one job
group's counts from Spark's status store. Nothing here changes what the
engine computes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory spans; ``enabled=False`` makes :meth:`span` free."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def set_job(self, job: int | None) -> None:
        self._local.job = job
        self._local.stack = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            self.set_job(None)
            stack = self._local.stack
        rec = {
            "job": self._local.job,
            "name": name,
            "parent": stack[-1]["name"] if stack else None,
            "start": time.perf_counter(),
            "child_s": 0.0,
        }
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            dur = rec["end"] - rec["start"]
            rec["self_s"] = dur - rec.pop("child_s")
            if stack:
                stack[-1]["child_s"] += dur
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def totals(self, job: int) -> dict[str, tuple[int, float, float]]:
        """name -> (calls, total seconds, self seconds) for one job."""
        out: dict[str, list] = defaultdict(lambda: [0, 0.0, 0.0])
        with self._lock:
            spans = [s for s in self.spans if s["job"] == job]
        for s in spans:
            t = out[s["name"]]
            t[0] += 1
            t[1] += s["end"] - s["start"]
            t[2] += s["self_s"]
        return {k: tuple(v) for k, v in out.items()}

    def write(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# engine functions whose calls are traced: (module, attribute, span name)
TRACED_FUNCTIONS = (
    ("mapreduce_docker_spark.sources.catalog", "load_table", "sources.catalog.load_table"),
)


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Install traced wrappers wherever a TRACED_FUNCTIONS entry is bound.

    Operator modules import ``load_table`` by name, so patching only the
    defining module would miss them: every loaded engine module's
    attribute that *is* the original function gets the wrapper.
    """
    import importlib

    saved = []
    for mod_name, attr, span_name in TRACED_FUNCTIONS:
        orig = getattr(importlib.import_module(mod_name), attr)
        wrapper = tracer.wrap(orig, span_name)
        for name, mod in list(sys.modules.items()):
            if not name.startswith("mapreduce_docker_spark") or mod is None:
                continue
            for a, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, a, wrapper)
                    saved.append((mod, a, orig))
    try:
        yield
    finally:
        for mod, a, orig in saved:
            setattr(mod, a, orig)


def _opt_ms(opt) -> float | None:
    """An ``Option[Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


STAGE_FIELDS = (
    "jobs",
    "eager_jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "stage_retries",
    "stage_active_s",
    "task_wait_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "input_records",
)


def group_stats(
    spark, group: str, timeout_s: float = 5.0, before: float | None = None
) -> dict[str, float]:
    """Status-store counts for every Spark job in job group ``group``.

    Status events reach the store asynchronously, so this waits (up to
    ``timeout_s``) until every job of the group has ended and every stage
    it ran has its completion time. Skipped stages (shuffle output reused)
    count as neither stages nor tasks. ``eager_jobs`` counts the group's
    jobs submitted before the wall-clock time ``before`` (``time.time()``).
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    deadline = time.monotonic() + timeout_s
    while True:
        job_ids = list(tracker.getJobIdsForGroup(group))
        attempts, pending = [], False
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None or info.status in ("RUNNING", "UNKNOWN"):
                pending = True
                continue
            for sid in info.stageIds:
                data = store.stageData(sid, False, no_status, False, no_quantiles)
                for i in range(data.size()):
                    sd = data.apply(i)
                    status = sd.status().toString()
                    if status == "SKIPPED":
                        continue
                    if status in ("ACTIVE", "PENDING"):
                        pending = True
                    attempts.append(sd)
        if not pending or time.monotonic() > deadline:
            break
        time.sleep(0.02)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(job_ids))
    if before is not None:
        for jid in job_ids:
            submitted = _opt_ms(store.job(jid).submissionTime())
            if submitted is not None and submitted < before:
                out["eager_jobs"] += 1
    intervals = []
    mb = 1.0 / (1 << 20)
    for sd in attempts:
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["stage_retries"] += 1 if sd.attemptId() > 0 else 0
        out["executor_run_s"] += sd.executorRunTime() / 1e3
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() * mb
        out["shuffle_read_mb"] += sd.shuffleReadBytes() * mb
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) * mb
        out["input_records"] += sd.inputRecords()
        sub = _opt_ms(sd.submissionTime())
        first = _opt_ms(sd.firstTaskLaunchedTime())
        done = _opt_ms(sd.completionTime())
        if sub is not None and first is not None:
            out["task_wait_s"] += max(0.0, first - sub)
        if sub is not None and done is not None:
            intervals.append((sub, done))
    out["stage_active_s"] = _union_s(intervals)
    return out
