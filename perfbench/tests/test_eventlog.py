"""Event-log parser: job attribution to (round, lap) windows.

Run with: python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

LAPS = ("cand", "commit")


def _job(jid, submit_ms, end_ms, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": submit_ms, "Stage IDs": stages, "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms,
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _task(stage, run_ms, shuffle_bytes, gc_ms=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
        },
    }


@pytest.fixture
def log(tmp_path):
    """Round 0: a 'cand' job (stage 0: 3 map tasks writing 1 MB of shuffle
    each, stage 1: 2 reduce tasks) and a 'commit' job that re-lists stage 0
    as skipped plus its own 4-task stage 2; then a done-check job after the
    step ended."""
    events = (
        _job(0, 10_100, 10_400, [0, 1])
        + [_task(0, 100, 1_000_000) for _ in range(3)]
        + [_task(1, 50, 0, gc_ms=20) for _ in range(2)]
        + _job(1, 10_600, 11_500, [0, 2])
        + [_task(2, 200, 0, spill=2_000_000) for _ in range(4)]
        + _job(2, 11_950, 11_990, [3])
        + [_task(3, 10, 0)]
    )
    p = tmp_path / "local-1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def test_job_stats_counts_tasks_and_shuffle_bytes(log):
    jobs = eventlog.job_stats(eventlog.read_events(log))
    assert jobs[0]["tasks"] == 5
    assert jobs[0]["shuffle_write_mb"] == pytest.approx(3.0)
    assert jobs[0]["executor_run_s"] == pytest.approx(0.4)
    assert jobs[0]["gc_s"] == pytest.approx(0.04)
    # the skipped stage 0 stays with job 0
    assert jobs[1]["tasks"] == 4
    assert jobs[1]["shuffle_write_mb"] == 0
    assert jobs[1]["spill_mb"] == pytest.approx(8.0)


def test_attribution_to_lap_windows(log):
    # step 0 spans [10.0, 11.9]; laps: cand 0.5 s, commit 1.2 s; the crawl
    # ends at 12.0, so [11.7, 12.0] is untracked
    metrics = [{"t_cand": 0.5, "t_commit": 1.2}]
    windows = eventlog.lap_windows([(10.0, 11.9)], metrics, 10.0, 12.0, LAPS)
    assert [(w[2], w[3]) for w in windows] == [
        (0, "cand"), (0, "commit"), (0, eventlog.UNTRACKED)
    ]
    jobs = eventlog.job_stats(eventlog.read_events(log))
    table = eventlog.attribute(jobs, windows)
    assert table[(0, "cand")]["jobs"] == 1
    assert table[(0, "cand")]["tasks"] == 5
    assert table[(0, "commit")]["tasks"] == 4
    assert table[(0, eventlog.UNTRACKED)]["jobs"] == 1
    lap = eventlog.per_lap(table, LAPS)
    assert lap["cand"]["shuffle_write_mb"] == pytest.approx(3.0)
    assert sum(row["jobs"] for row in lap.values()) == 3

    check = eventlog.wall_check([(10.0, 11.9)], metrics, jobs, table, 10.0, 12.0,
                                LAPS, tol_s=0.005)
    assert check["ok"]
    assert check["untracked_s"] == pytest.approx(0.3)
    assert check["jobs_submitted"] == check["jobs_attributed"] == 3


def test_wall_check_flags_an_overrunning_lap(log):
    # recorded laps (2.5 s) exceed the 1.9 s step the benchmark measured
    metrics = [{"t_cand": 0.5, "t_commit": 2.0}]
    windows = eventlog.lap_windows([(10.0, 11.9)], metrics, 10.0, 12.0, LAPS)
    jobs = eventlog.job_stats(eventlog.read_events(log))
    table = eventlog.attribute(jobs, windows)
    check = eventlog.wall_check([(10.0, 11.9)], metrics, jobs, table, 10.0, 12.0,
                                LAPS, tol_s=0.005)
    assert not check["ok"]
    assert check["max_overrun_s"] == pytest.approx(0.6)


def test_wall_check_flags_a_job_outside_every_window(log):
    # the windows stop at 11.5 s, so the done-check job at 11.95 s is lost
    metrics = [{"t_cand": 0.5, "t_commit": 1.0}]
    windows = eventlog.lap_windows([(10.0, 11.5)], metrics, 10.0, 11.5, LAPS)
    jobs = eventlog.job_stats(eventlog.read_events(log))
    table = eventlog.attribute(jobs, windows)
    check = eventlog.wall_check([(10.0, 11.5)], metrics, jobs, table, 10.0, 12.0,
                                LAPS, tol_s=0.005)
    assert not check["ok"]
    assert (check["jobs_submitted"], check["jobs_attributed"]) == (3, 2)


def test_find_log_needs_the_finished_file(tmp_path):
    (tmp_path / "app-1.inprogress").write_text("")
    with pytest.raises(FileNotFoundError):
        eventlog.find_log(str(tmp_path), "app-1")
    (tmp_path / "app-1").write_text("")
    assert eventlog.find_log(str(tmp_path), "app-1").endswith("app-1")


def test_real_spark_log(tmp_path):
    """A real uncompressed Spark log: a 4-partition map stage shuffling into
    3 reduce partitions parses as one job of 7 tasks with shuffle bytes."""
    pyspark = pytest.importorskip("pyspark")
    from operator import add

    conf = (
        pyspark.SparkConf().setMaster("local[2]").setAppName("eventlog-test")
        .set("spark.ui.enabled", "false")
        .set("spark.eventLog.enabled", "true")
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
        .set("spark.eventLog.dir", "file://" + str(tmp_path))
        .set("spark.local.dir", str(tmp_path / "local"))
    )
    sc = pyspark.SparkContext(conf=conf)
    try:
        sc.setLogLevel("ERROR")
        out = sc.parallelize(range(1000), 4).map(lambda x: (x % 3, 1)).reduceByKey(
            add, 3
        ).collect()
        app_id = sc.applicationId
    finally:
        sc.stop()
    assert sorted(out) == [(0, 334), (1, 333), (2, 333)]
    jobs = eventlog.job_stats(eventlog.read_events(eventlog.find_log(str(tmp_path), app_id)))
    assert len(jobs) == 1
    (job,) = jobs.values()
    assert job["tasks"] == 7
    assert job["shuffle_write_mb"] > 0
