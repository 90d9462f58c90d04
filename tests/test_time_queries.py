"""`tools/time_queries.py`, the one query-timing CLI: selectors, the
footer-derived scale step, the trace merge, and the budget cancel."""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "tools"))

import time_queries as tq  # noqa: E402


def test_record_merge_keeps_other_keys_and_queries(tmp_path):
    path = tmp_path / "trace.json"
    path.write_text(
        json.dumps(
            {
                "blocking_ab": {"points": {"full_100pct": {"min_sec": 2.58}}},
                "scaling_10x": {"step": 10.0, "ops": {"a": {"min_sec": 1.0}, "b": 2}},
            }
        )
    )
    tq.record(str(path), "scaling_10x", {"b": {"min_sec": 0.5}, "c": {"min_sec": 3.0}})
    tq.record(str(path), "new_key", {"a": {"min_sec": 4.0}})
    trace = json.loads(path.read_text())
    assert trace["blocking_ab"] == {"points": {"full_100pct": {"min_sec": 2.58}}}
    assert trace["scaling_10x"] == {
        "step": 10.0,
        "ops": {"a": {"min_sec": 1.0}, "b": {"min_sec": 0.5}, "c": {"min_sec": 3.0}},
    }
    assert trace["new_key"] == {"ops": {"a": {"min_sec": 4.0}}}


def test_scale_step_is_read_from_the_orders_footers():
    assert tq.scale_step("/root/testdata/sf0.01", "/root/testdata/sf0.1") == 10


def test_unknown_selector_fails_before_the_session_starts(monkeypatch):
    def no_session(*a, **k):
        raise AssertionError("get_spark called before selectors were checked")

    monkeypatch.setattr(tq, "get_spark", no_session)
    with pytest.raises(SystemExit, match="no_such_query"):
        tq.main(["revenue_by_nation", "no_such_query"])


def test_selectors_name_queries_modules_and_all():
    every = tq.select(["all"])
    assert every and all(n in tq.ORACLE for n in every)
    skipped = ("streaming_", "ml_train")
    assert not [n for n in every if n.endswith("_live") or n.startswith(skipped)]
    module = tq.select(["tpch"])
    assert "revenue_by_nation" in module
    assert {tq.QUERIES[n].__module__ for n in module} == {"dist_keras_spark.plans.tpch"}
    # selector order first, no repeats
    assert tq.select(["pricing_summary", "tpch"])[0] == "pricing_summary"
    assert tq.select(["tpch", "tpch"]) == module


def test_budget_cancels_and_leaves_the_session_usable(spark, sf_dir):
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    cells, _ = tq.run(spark, ["revenue_by_nation"], [sf_dir], runs=1, budget=0.01)
    assert cells == {"revenue_by_nation": [{"sf_dir": sf_dir, "timeout_sec": 0.01}]}
    # the query's group was set on its own thread, not on the caller's
    assert sc.getLocalProperty("spark.jobGroup.id") == group
    assert spark.range(5).count() == 5
    # the query's own group is not left cancelled either
    cells, _ = tq.run(spark, ["revenue_by_nation"], [sf_dir], runs=1)
    (cell,) = cells["revenue_by_nation"]
    assert len(cell["runs"]) == 1 and cell["min_sec"] > 0


def test_budget_cancels_only_once_a_job_is_running(monkeypatch):
    """Past its budget a query still building its plan has no job to
    cancel: no cancelJobGroup call until one of its jobs is active, then
    a cancel follows and the caller gets TimeoutError. Spark-free: the
    context and the query are fakes."""
    import threading
    import time
    import types

    class Context:
        def __init__(self):
            self.group_jobs: list[int] = []
            self.active: list[int] = []
            self.cancels: list[list[int]] = []  # active jobs at each cancel
            self.cancelled = threading.Event()

        def setJobGroup(self, *a, **k):
            pass

        def statusTracker(self):
            return types.SimpleNamespace(
                getJobIdsForGroup=lambda group: list(self.group_jobs),
                getActiveJobsIds=lambda: list(self.active),
            )

        def cancelJobGroup(self, group):
            self.cancels.append(list(self.active))
            self.active.clear()
            self.cancelled.set()

    sc = Context()

    def query(spark, fn, sf_dir, **kw):
        time.sleep(1.2)  # plan building: two polls pass with no job
        sc.group_jobs.append(7)
        sc.active.append(7)
        assert sc.cancelled.wait(5)
        raise RuntimeError("job 7 cancelled")

    monkeypatch.setattr(tq, "time_query", query)
    with pytest.raises(TimeoutError):
        tq._time_in_group(
            types.SimpleNamespace(sparkContext=sc), "revenue_by_nation", "dir", 0.05
        )
    assert sc.cancels == [[7]]
