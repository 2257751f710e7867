"""Spans around the benchmark's calls into the engine, and Spark's own
per-request counters.

A span records name, start, end, parent span and request id; spans stay
in memory and are written out once, at the end of the run.  Spark
counters come from the application status store, which Spark keeps with
the UI disabled: each traced request runs under its own job group, and
after it returns the listener bus is drained and that group's jobs,
stages, tasks, executor time and shuffle bytes are summed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
    "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
)


class Tracer:
    """Records spans and Spark counters while ``enabled``; otherwise every
    method is a no-op, so untraced runs pay nothing."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, dict] = {}
        self._stack: list[int] = []
        self._group: str | None = None  # job group of the open request
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"name": name, "start": time.perf_counter() - self._t0, "end": None,
               "parent": parent, "request": request}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    @contextmanager
    def paused(self, pause: bool):
        """Stop recording inside the block when ``pause``: no spans, and
        Spark jobs run outside the current request's job group."""
        was, group = self.enabled, self._group
        self.enabled = was and not pause
        if pause and group is not None:
            self.sc.setJobGroup("idle", "idle")
        try:
            yield
        finally:
            self.enabled = was
            if pause and group is not None:
                self.sc.setJobGroup(group, group)

    @contextmanager
    def request(self, rid: str):
        """Root span of one request; its Spark jobs run in job group ``rid``
        and their counters land in ``self.counters[rid]``."""
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(rid, rid)
        self._group = rid
        try:
            with self.span("request", request=rid):
                yield
        finally:
            self.sc.setJobGroup("idle", "idle")
            self._group = None
            self.counters[rid] = spark_counters(self.sc, rid)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total ms, and self ms (duration minus the
        time its child spans cover; children run one after another)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s, c in zip(self.spans, child_ms):
            agg = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            dur = s["end"] - s["start"]
            agg["count"] += 1
            agg["total_ms"] += 1e3 * dur
            agg["self_ms"] += 1e3 * (dur - c)
        return out


def spark_counters(sc, group: str) -> dict:
    """Sum of the executed (not skipped) stages of every job in ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(SPARK_COUNTERS, 0)
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out
