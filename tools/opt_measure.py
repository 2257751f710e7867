"""Optimization measurement harness.

Times individual registered queries in THIS process (one fresh JVM per
invocation — invoke once per comparable batch) with the bench's exact
methodology (noop sink, one untimed cold pass, WARM_REPS timed reps,
stray-persist release between reps), and/or dumps ``explain("formatted")``
plans to ``plans/<round>/`` (default r11; --round overrides).  Each timed
query also reports the ``extended_rabitq_spark.profile`` of its last warm
rep (jobs, stages, tasks, executor and shuffle totals, per-operator SQL
metrics); the profile is read after that rep's timer stops.

Usage:
    python tools/opt_measure.py time  q1 q2 ...      # cold + warm medians + profile
    python tools/opt_measure.py plan  q1 q2 ...      # plans/r10/<q>_<tag>.txt
    python tools/opt_measure.py both  q1 q2 ...
Options:
    --tag before|after   plan filename suffix (default: before)
    --round rNN          plans subdir (default: r11)
    --sf DIR             data dir (default $SPARK_GRAFT_SF_DIR or sf0.1)
    --reps N             warm reps (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {a.split("=")[0]: (a.split("=", 1) + [""])[1] for a in sys.argv[1:] if a.startswith("--")}
    mode = args[0]
    names = args[1:]
    sf_dir = opts.get("--sf") or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(opts.get("--reps") or "3")
    tag = opts.get("--tag") or "before"

    from extended_rabitq_spark.profile import profile
    from extended_rabitq_spark.session import get_spark

    spark = get_spark("opt-measure")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qmap = entrymod.queries()
    plans_dir = Path(__file__).resolve().parent.parent / "plans" / (
        opts.get("--round") or "r11"
    )
    plans_dir.mkdir(parents=True, exist_ok=True)

    def _persistent_ids() -> set:
        try:
            return {
                int(i)
                for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
            }
        except Exception:
            return set()

    def release_stray_state(baseline_ids: set) -> None:
        import gc

        gc.collect()
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for i in jmap.keySet().toArray():
                if int(i) not in baseline_ids:
                    jmap.get(i).unpersist()
        except Exception:
            pass

    out: dict[str, dict] = {}
    for name in names:
        if name not in qmap:
            print(f"opt_measure: unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"opt_measure:{name}")
        rec: dict = {}
        if mode in ("plan", "both"):
            df = qmap[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (plans_dir / f"{name}_{tag}.txt").write_text(plan)
            rec["plan"] = str(plans_dir / f"{name}_{tag}.txt")
        if mode in ("time", "both"):
            baseline = _persistent_ids()
            t0 = time.perf_counter()
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            rec["cold"] = round(time.perf_counter() - t0, 3)
            release_stray_state(baseline)
            walls = []
            for rep in range(reps):
                with profile(spark) if rep == reps - 1 else nullcontext() as prof:
                    t0 = time.perf_counter()
                    qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                    walls.append(time.perf_counter() - t0)
                release_stray_state(baseline)
            rec["warm_median"] = round(sorted(walls)[len(walls) // 2], 3)
            rec["warm_all"] = [round(w, 3) for w in walls]
            rec["profile"] = prof
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print("OPT_MEASURE " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
