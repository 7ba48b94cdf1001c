import json

import pytest

from eventlog import FIELDS, read_groups


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Stage IDs": stages, "Properties": props}


def _task(stage, launch, finish, run_ms, cpu_ns, gc_ms=0, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms,
                             "Memory Bytes Spilled": 4 * spill,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job(0, [0, 1], "tag"),
    _task(0, 1000, 1100, 90, 50_000_000, gc_ms=10, shuffle=2**20),
    _task(0, 1000, 1300, 280, 100_000_000, shuffle=2**20),
    _task(1, 1400, 1500, 95, 20_000_000, spill=2**21),
    _job(1, [2], None),  # no group: not reported
    _task(2, 0, 5000, 5000, 5_000_000_000),
    _job(2, [3], "link"),
    _task(3, 2000, 2040, 30, 10_000_000),
]


def test_groups_sum_task_metrics():
    lines = [json.dumps(e) for e in CANNED] + [""]
    got = read_groups(lines)
    assert set(got) == {"tag", "link"}
    tag = got["tag"]
    assert tag["executor_run_s"] == pytest.approx(0.465)
    assert tag["executor_cpu_s"] == pytest.approx(0.17)
    assert tag["gc_s"] == pytest.approx(0.01)
    assert tag["shuffle_write_mb"] == pytest.approx(2.0)
    assert tag["spill_mb"] == pytest.approx(2.0)
    # task walls 100, 300, 100 ms: max / median = 3
    assert tag["task_skew"] == pytest.approx(3.0)
    assert got["link"]["task_skew"] == pytest.approx(1.0)
    assert set(tag) == set(FIELDS)


def test_tasks_of_unknown_stages_are_ignored():
    got = read_groups([json.dumps(_task(9, 0, 10, 10, 1))])
    assert got == {}
