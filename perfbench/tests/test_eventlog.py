import json

from eventlog import covered_s, parse_dir


def _task(stage, attempt=0, reason="Success", cpu_ns=0, run_ms=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Attempt": attempt},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Executor Run Time": run_ms,
            "JVM GC Time": 5,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 1024 * 1024,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2 * 1024 * 1024, "Fetch Wait Time": 3},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
            "Input Metrics": {"Bytes Read": 512 * 1024, "Records Read": 10},
        },
    }


CANNED = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "7"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": {"spark.jobGroup.id": "7"}},
    _task(0, cpu_ns=2_000_000_000, run_ms=2500),
    _task(0, attempt=1, cpu_ns=1_000_000_000, run_ms=1000),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": {"spark.jobGroup.id": "7"}},
    _task(1, reason="ExceptionFailure"),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1002_000, "Job Result": {"Result": "JobSucceeded"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1003_000, "Stage IDs": [2], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
    _task(2),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1003_500, "Job Result": {"Result": "JobFailed"}},
]


def test_attributes_jobs_stages_and_tasks_to_groups(tmp_path):
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    groups = parse_dir(str(tmp_path))
    g = groups["7"]
    assert (g.jobs, g.stages, g.tasks, g.task_retries) == (1, 2, 3, 2)
    assert g.cpu_s == 3.0 and g.run_s == 3.5 and abs(g.gc_s - 0.015) < 1e-12
    assert g.shuffle_read_mb == 6.0 and g.shuffle_write_mb == 3.0 and g.spill_mb == 3.0
    assert abs(g.fetch_wait_s - 0.009) < 1e-12
    assert g.input_mb == 1.5 and g.input_rows == 30
    assert g.job_intervals == [(1000.0, 1002.0)]
    ungrouped = groups[""]
    assert (ungrouped.jobs, ungrouped.tasks) == (1, 1)


def test_covered_merges_overlapping_intervals():
    assert covered_s([(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)], 0.0, 10.0) == 4.0
    assert covered_s([(1.0, 3.0)], 2.0, 2.5) == 0.5
    assert covered_s([], 0.0, 1.0) == 0.0
