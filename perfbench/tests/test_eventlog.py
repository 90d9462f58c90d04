"""Event-log reader: a hand-built log checks the arithmetic; a small log
recorded at sf0.001 (see record_eventlog.py) checks Spark's real format.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

TESTS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TESTS))

import eventlog  # noqa: E402

DATA = os.path.join(TESTS, "data")


def _task(stage, launch, run_ms, cpu_ns, gc_ms, failed=False, **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": launch, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {
                "Remote Bytes Read": metrics.get("remote", 0),
                "Local Bytes Read": metrics.get("local", 0),
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("written", 0)},
            "Disk Bytes Spilled": metrics.get("spilled", 0),
            "Input Metrics": {"Bytes Read": metrics.get("input", 0)},
        },
    }


def _stage(kind, stage, n_tasks, submit, done=None):
    info = {"Stage ID": stage, "Stage Attempt ID": 0, "Number of Tasks": n_tasks,
            "Submission Time": submit}
    if done is not None:
        info["Completion Time"] = done
    return {"Event": kind, "Stage Info": info}


def test_hand_built_log():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1, 2],
         "Properties": {"spark.jobGroup.id": "g"}},
        # stage 2 is listed but skipped: it never ran, so it never counts
        _stage("SparkListenerStageSubmitted", 0, 1, 1000),
        _task(0, 1010, 400, 300_000_000, 5, input=4096),
        _stage("SparkListenerStageCompleted", 0, 1, 1000, 1500),
        _stage("SparkListenerStageSubmitted", 1, 2, 1600),
        _task(1, 1700, 900, 800_000_000, 0, local=1000, remote=24, written=512),
        _task(1, 1900, 100, 50_000_000, 0, failed=True, spilled=2048),
        _stage("SparkListenerStageCompleted", 1, 2, 1600, 3600),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [3], "Properties": {}},
        _stage("SparkListenerStageSubmitted", 3, 1, 4000),
        _task(3, 4000, 10, 1, 0),
    ]
    g = eventlog.summarize(events)
    assert set(g) == {"g", ""}
    s = g["g"]
    assert (s.jobs, s.stages, s.tasks, s.failed_tasks, s.single_task_stages) == (1, 2, 3, 1, 1)
    assert abs(s.run_s - 1.4) < 1e-12
    assert abs(s.cpu_s - 1.15) < 1e-12
    assert abs(s.gc_s - 0.005) < 1e-12
    assert abs(s.task_wait_s - (0.010 + 0.100 + 0.300)) < 1e-12
    assert s.longest_stage_s == 2.0
    assert (s.shuffle_read_b, s.shuffle_write_b, s.spill_b, s.input_b) == (1024, 512, 2048, 4096)
    assert (g[""].jobs, g[""].tasks) == (1, 1)


def test_rolling_layout_is_read_in_file_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for i in (10, 2, 1):
        (app / f"events_{i}_local-1").write_text(json.dumps({"Event": f"e{i}"}) + "\n")
    (app / "appstatus_local-1").write_text("")
    assert [e["Event"] for e in eventlog.read_events(str(app))] == ["e1", "e2", "e10"]


def test_recorded_sf0001_log():
    with open(os.path.join(DATA, "eventlog_expected.json")) as fh:
        expected = json.load(fh)
    groups = eventlog.summarize_dir(os.path.join(DATA, "eventlog"))

    # job counts agree with Spark's own status tracker, group by group
    for group, exp in expected.items():
        got = groups[group].jobs if group in groups else 0
        assert got == exp["jobs"], (group, exp)

    # tasks agree with the stages' declared task counts
    (log,) = eventlog.find_logs(os.path.join(DATA, "eventlog"))
    stage_group, declared = {}, defaultdict(int)
    for ev in eventlog.read_events(log):
        if ev["Event"] == "SparkListenerJobStart":
            for sid in ev["Stage IDs"]:
                stage_group.setdefault(sid, ev["Properties"].get("spark.jobGroup.id", ""))
        if ev["Event"] == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            declared[stage_group[info["Stage ID"]]] += info["Number of Tasks"]
    for group, stats in groups.items():
        assert stats.tasks == declared[group], group

    actions = [g for g, e in expected.items() if e["name"] == "exec.action"]
    assert len(actions) == 2
    for group in actions:
        s = groups[group]
        assert s.jobs >= 1 and s.stages >= 1 and s.tasks >= s.stages
        assert s.failed_tasks == 0
        assert 1 <= s.single_task_stages <= s.stages  # sf0.001 scans are one row group
        assert s.cpu_s > 0 and s.run_s > 0 and s.input_b > 0
        assert s.task_wait_s >= 0 and s.longest_stage_s > 0
    # minhash stages its candidates eagerly while it is built
    eager = [g for g, e in expected.items()
             if e["query"] == "minhash_lsh_neardup" and e["name"].startswith("operators.dedup")]
    assert sum(groups[g].jobs for g in eager if g in groups) >= 1
    assert sum(groups[g].shuffle_write_b for g in groups) > 0
