"""The in-process profile (extended_rabitq_spark/profile.py): its totals
are the status store's own numbers for the jobs the block ran, its SQL
part names the plan's operators, and it leaves the caller's job group
as it found it."""

from __future__ import annotations

import pytest

from extended_rabitq_spark.profile import profile


def _python_udf_query(spark):
    """A MapInPandas stage feeding a shuffle: several jobs under AQE."""

    def double(batches):
        import time

        for pdf in batches:
            time.sleep(0.01)  # keeps the Python time above the 1 ms display unit
            pdf["x"] = pdf["id"] * 2
            yield pdf

    return (
        spark.range(0, 2000, numPartitions=4)
        .mapInPandas(double, "id long, x long")
        .groupBy("x")
        .count()
    )


def test_totals_are_the_status_stores_numbers(spark):
    sc = spark.sparkContext
    with profile(spark) as prof:
        rows = _python_udf_query(spark).collect()
    assert len(rows) == 2000

    jobs = sc.statusTracker().getJobIdsForGroup(prof["group"])
    assert prof["jobs"] == len(jobs) > 0
    store = sc._jsc.sc().statusStore()
    stage_ids = {
        sid for jid in jobs for sid in sc.statusTracker().getJobInfo(jid).stageIds
    }
    ran = [store.lastStageAttempt(sid) for sid in stage_ids]
    ran = [st for st in ran if str(st.status()) != "SKIPPED"]
    assert prof["stages"] == len(ran)
    assert prof["tasks"] == sum(st.numTasks() for st in ran)
    assert prof["tasks"] == sum(
        sc.statusTracker().getStageInfo(st.stageId()).numCompletedTasks for st in ran
    )
    assert prof["failed_tasks"] == 0
    assert prof["executor_run_ms"] == sum(st.executorRunTime() for st in ran) > 0
    assert prof["executor_cpu_ms"] == pytest.approx(
        sum(st.executorCpuTime() for st in ran) / 1e6, abs=0.1
    )
    assert prof["shuffle_write_bytes"] == sum(st.shuffleWriteBytes() for st in ran) > 0
    assert prof["wall_s"] > 0


def test_operator_metrics_name_the_python_stage(spark):
    with profile(spark) as prof:
        _python_udf_query(spark).write.format("noop").mode("overwrite").save()
    assert len(prof["sql"]) == 1
    (ex,) = prof["sql"]
    assert ex["jobs"] == prof["jobs"]
    ops = ex["operators"]
    assert ops["MapInPandas"]["time to run Python workers"] > 0
    assert ops["MapInPandas"]["number of output rows"] == 2000
    assert ops["Range"]["number of output rows"] == 2000
    assert ops["Exchange"]["shuffle bytes written"] > 0


def test_profiles_in_a_row_share_no_jobs(spark):
    sc = spark.sparkContext
    with profile(spark) as first:
        _python_udf_query(spark).collect()
    with profile(spark) as second:
        _python_udf_query(spark).collect()
    a = set(sc.statusTracker().getJobIdsForGroup(first["group"]))
    b = set(sc.statusTracker().getJobIdsForGroup(second["group"]))
    assert a and b and not a & b
    assert first["jobs"] == len(a) and second["jobs"] == len(b)
    assert {e["id"] for e in first["sql"]}.isdisjoint(e["id"] for e in second["sql"])


def test_callers_job_group_is_restored(spark):
    sc = spark.sparkContext
    before = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", "caller")
    try:
        with profile(spark) as prof:
            assert sc.getLocalProperty("spark.jobGroup.id") == prof["group"]
            spark.range(10).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        with pytest.raises(ZeroDivisionError):
            with profile(spark):
                1 / 0
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        sc.setLocalProperty("spark.jobGroup.id", None)
        with profile(spark):
            pass
        assert sc.getLocalProperty("spark.jobGroup.id") is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", before)


def test_an_action_without_jobs_reports_zero(spark):
    local = spark.sql("SELECT * FROM VALUES (1), (2) AS t(x)")
    with profile(spark) as prof:
        assert len(local.collect()) == 2
    assert prof["jobs"] == prof["stages"] == prof["tasks"] == 0
    assert prof["sql"] == []
