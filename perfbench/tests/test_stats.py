"""Percentiles and event-log attribution."""

from __future__ import annotations

import pytest

import stats


def test_percentile_is_nearest_rank():
    v = list(range(1, 101))
    assert stats.percentile(v, 50) == 50
    assert stats.percentile(v, 90) == 90
    assert stats.percentile(v, 100) == 100
    assert stats.percentile([5.0], 90) == 5.0
    assert stats.percentile([3, 1, 2], 50) == 2
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1], 0)


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_spark_work_is_attributed_per_job_group():
    def job(jid, group, stages):
        props = {"spark.jobGroup.id": group} if group else {}
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Properties": props,
                "Stage Infos": [{"Stage ID": s} for s in stages]}

    def stage(sid, sub, comp):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Submission Time": sub, "Completion Time": comp}}

    def task(sid, run_ms, shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor Run Time": run_ms, "Memory Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        job(0, "g1", [0, 1]), stage(0, 1000, 1100), task(0, 80, shuffle=10), task(0, 70),
        stage(1, 1050, 1200), task(1, 100, spill=5),
        # job 1 lists stage 1 again but skips it; stage 2 runs
        job(1, "g1", [1, 2]), stage(2, 1300, 1400), task(2, 50),
        job(2, None, [3]), stage(3, 0, 10), task(3, 1),
        job(3, "g2", [4]),  # stage 4 never completed: not counted
    ]
    work = stats.spark_work_by_group(events)
    g1 = work["g1"]
    assert (g1["jobs"], g1["stages"], g1["tasks"]) == (2, 3, 4)
    assert g1["executor_run_s"] == pytest.approx(0.3)
    assert (g1["shuffle_write_bytes"], g1["spill_bytes"]) == (10, 5)
    # union of [1000,1100], [1050,1200], [1300,1400]
    assert g1["stage_wall_s"] == pytest.approx(0.3)
    assert work["g2"]["stages"] == 0
    assert set(work) == {"g1", "g2"}


def test_read_schemas_finds_each_scan():
    plan = ("*(1) Project [id#1]\n+- FileScan json [id#1,hotel_id#2] Batched: false, "
            "ReadSchema: struct<id:bigint,hotel_id:bigint>\n")
    assert stats.read_schemas(plan) == ["struct<id:bigint,hotel_id:bigint>"]
