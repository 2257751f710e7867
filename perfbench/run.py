"""ANN benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ann_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The engine runs on ``local[nproc]`` from
this one driver thread.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` traces the run (see ``workloads``) and prints the
per-layer metrics instead.  The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run's detail (run metadata, raw samples, self times).  Both, with
every span of a traced run, are also written under ``.perfbench/out``.
Everything the run writes stays under ``.perfbench`` in the repository
root, apart from the empty ``spark-warehouse`` Spark's session creates.  Exit status is non-zero when any output check failed or recall
fell below the floor.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    RECALL_FLOOR, WORKLOADS, Bench, Sizes, end_to_end, per_layer,
)


def calib_pyloop_s() -> float:
    """Single-thread host-speed probe: a 10M-integer add loop, no Spark."""
    t0 = time.perf_counter()
    sum(range(10_000_000))
    return time.perf_counter() - t0


def cpu_steal_s() -> float | None:
    """CPU time a hypervisor has taken from the running system since boot,
    summed over CPUs (Linux ``/proc/stat``); None where unavailable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def start_spark(workdir: str, cores: int):
    """The engine's own session (``get_spark``) on ``local[cores]``, with
    every temporary directory (Spark, JVM and Python temp files) under
    ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)} pyspark-shell")
    # executors' Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from extended_rabitq_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(spark, workload: str, seed: int, seconds: float, trace: bool, sizes: Sizes,
        workdir: str, cores: int) -> tuple[dict, dict]:
    """One run of ``workload`` → (result line, detail)."""
    b = Bench(spark, Tracer(spark.sparkContext, trace), seed, seconds, sizes, workdir)
    WORKLOADS[workload](b)
    recall = b.hits / max(1, b.possible)
    metrics = per_layer(b, cores) if trace else end_to_end(b)
    result = {
        "correct": b.failed == 0 and recall >= RECALL_FLOOR,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    walls = b.samples.get("wall_ms", [])
    detail = {
        "workload": workload,
        "error_rate": b.failed / max(1, b.attempted),
        "recall_at_10": recall,
        "recall_floor": RECALL_FLOOR,
        "problems": b.problems,
        "requests": len(walls),
        # the tail is reported at the highest percentile with at least ten
        # samples beyond it, or not at all
        "tail": _tail(walls),
        "maintenance_s": sum(b.samples.get("delete_s", []) + b.samples.get("compact_s", [])),
        "samples": b.samples,
        "stored": b.stored,
    }
    if trace:
        detail["self_ms"] = b.tracer.self_times()
        detail["spark_counters"] = b.tracer.counters
        detail["spans"] = b.tracer.spans
    return result, detail


def _tail(walls: list[float]) -> dict | None:
    for pct in (99, 95, 90):
        if len(walls) * (100 - pct) / 100 >= 10:
            ordered = sorted(walls)
            return {"pct": pct, "ms": ordered[int(len(ordered) * pct / 100)], "n": len(walls)}
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cores = len(os.sched_getaffinity(0))
    base_dir = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base_dir, f"run-{os.getpid()}")
    calib_pre, steal_pre = calib_pyloop_s(), cpu_steal_s()
    spark = start_spark(workdir, cores)
    try:
        result, detail = run(spark, a.workload, a.seed, a.seconds, bool(a.trace), Sizes(),
                             workdir, cores)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    steal = cpu_steal_s()
    import numpy
    import pyarrow
    import pyspark

    detail["run"] = {
        "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "nproc": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "numpy": numpy.__version__, "pyarrow": pyarrow.__version__,
        "calib_pyloop_pre_s": calib_pre, "calib_pyloop_post_s": calib_pyloop_s(),
        "cpu_steal_s": None if steal is None or steal_pre is None else steal - steal_pre,
    }
    out = os.path.join(base_dir, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"result": result, "detail": detail}, f)
    detail.pop("spans", None)
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
