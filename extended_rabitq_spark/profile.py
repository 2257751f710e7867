"""One structured profile of a caller's Spark action, read in-process
from Spark's own status stores (both are kept with the UI off)::

    with profile(spark) as prof:
        df.write.format("noop").mode("overwrite").save()
    prof["jobs"], prof["sql"][0]["operators"]["MapInPandas"]

The block runs under a fresh job group, so the profile covers exactly
the jobs it started (a broadcast exchange inherits the group of the
thread that plans it).  On exit the listener bus is drained, the
caller's job group is restored, and ``prof`` is filled with:

* ``group``, the job group, and ``wall_s``, the block's wall time;
* totals over the executed (not skipped) stages of the group's jobs:
  ``jobs``, ``stages``, ``tasks``, ``failed_tasks``, ``executor_run_ms``,
  ``executor_cpu_ms``, ``shuffle_read_bytes``, ``shuffle_write_bytes``
  and ``spill_bytes`` (bytes spilled to disk);
* ``sql``: one entry per SQL execution that ran one of those jobs,
  ``{"id", "description", "duration_ms", "jobs", "operators"}``.
  ``operators`` maps each plan operator's name to its metrics, summed
  over the execution's operators of that name, as ints: timings in ms,
  sizes in bytes, rows and counts as such.  A value that does not parse
  keeps its string.

The reads run after the block's wall time is taken, so a caller that
times its own action inside the block times it as before.
"""

from __future__ import annotations

import re
import time
import uuid
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
_TOTALS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
    "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)
# SQLMetrics' display units: Utils.msDurationToString and bytesToString
_UNITS = {
    "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "PiB": 2**50, "EiB": 2**60,
}


@contextmanager
def profile(spark):
    """Profile the block's Spark work; see the module docstring."""
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()
    last_sql = _last_execution_id(sql_store)
    group = f"profile-{uuid.uuid4().hex}"
    caller_group = sc.getLocalProperty(_GROUP)
    prof: dict = {"group": group}
    sc.setLocalProperty(_GROUP, group)
    t0 = time.perf_counter()
    try:
        yield prof
    finally:
        prof["wall_s"] = round(time.perf_counter() - t0, 4)
        sc.setLocalProperty(_GROUP, caller_group)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
    prof.update(_totals(sc, job_ids))
    prof["sql"] = _executions(sql_store, last_sql, job_ids)


def _totals(sc, job_ids: set) -> dict:
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(_TOTALS, 0)
    out["jobs"] = len(job_ids)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        stage_ids.update(info.stageIds if info is not None else ())
    for sid in stage_ids:
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
        out["spill_bytes"] += st.diskBytesSpilled()
    out["executor_cpu_ms"] = round(out["executor_cpu_ms"], 1)
    return out


def _last_execution_id(store) -> int:
    """Id of the newest SQL execution in ``store``, -1 if it has none
    (the list is ordered by id)."""
    n = store.executionsCount()
    return -1 if n == 0 else store.executionsList(n - 1, 1).head().executionId()


def _executions(store, after: int, job_ids: set) -> list[dict]:
    """The SQL executions newer than ``after`` that ran one of
    ``job_ids``, each with its operators' summed metrics."""
    out = []
    for eid in range(after + 1, _last_execution_id(store) + 1):
        found = store.execution(eid)
        if found.isEmpty():
            continue
        ex = found.get()
        jobs = job_ids.intersection(_scala(ex.jobs().keys()))
        if not jobs:
            continue
        end = ex.completionTime()
        values = {t._1(): t._2() for t in _scala(store.executionMetrics(eid))}
        operators: dict[str, dict] = {}
        for node in _scala(store.planGraph(eid).allNodes()):
            # "WholeStageCodegen (3)" sums into "WholeStageCodegen"
            name = re.sub(r" \(\d+\)$", "", node.name().strip())
            agg = operators.setdefault(name, {})
            for m in _scala(node.metrics()):
                raw = values.get(m.accumulatorId())
                # averages do not sum
                if raw is None or m.metricType() == "average":
                    continue
                v, old = _number(raw), agg.get(m.name(), 0)
                agg[m.name()] = old + v if isinstance(v, int) and isinstance(old, int) else v
        out.append({
            "id": eid,
            "description": ex.description(),
            "duration_ms": None if end.isEmpty()
            else end.get().getTime() - ex.submissionTime(),
            "jobs": len(jobs),
            "operators": {k: v for k, v in operators.items() if v},
        })
    return out


def _scala(coll):
    """Iterate a Scala collection held by the JVM."""
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _number(text: str):
    """A metric's display string as an int: ms, bytes or a count.  A
    metric updated by several tasks reads ``total (min, med, max ...)``,
    then a line with the total and the per-task spread."""
    total = text.rsplit("\n", 1)[-1].split(" (")[0]
    num, _, unit = total.partition(" ")
    num = num.replace(",", "")
    try:
        return round(float(num) * _UNITS[unit]) if unit else int(num)
    except (KeyError, ValueError):
        return text
