"""The lockstep client loop: no lost records, every query covered.

Run: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import random
import sys
import threading
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402

QUERIES = ("a", "b", "c", "d", "e")


def _run(
    clients: int, seconds: float, alternate: bool, fail: str | None = None, passes: int = 1
):
    in_step: Counter = Counter()
    lock = threading.Lock()
    overlap = []

    def run_one(q, traced, rep, client):
        with lock:
            in_step[q] += 1
            overlap.append(set(k for k, v in in_step.items() if v))
        time.sleep(random.random() * 0.002)
        with lock:
            in_step[q] -= 1
        if q == fail:
            raise ValueError("boom")

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        records, t0, t_end = run.run_clients(
            QUERIES, clients, run_one, seconds, alternate, passes
        )
    finally:
        sys.setswitchinterval(old)
    return records, t_end - t0, overlap


def test_lockstep_loses_nothing_and_covers_every_query():
    records, window, overlap = _run(clients=8, seconds=0.2, alternate=False)
    assert window >= 0.2
    per_client = Counter(r["client"] for r in records)
    assert set(per_client) == set(range(8))
    assert len(set(per_client.values())) == 1  # every client ran every step
    steps = per_client[0]
    assert steps >= len(QUERIES) and steps % len(QUERIES) == 0  # whole passes
    assert [r["query"] for r in records if r["client"] == 0] == [
        QUERIES[i % len(QUERIES)] for i in range(steps)
    ]
    assert all(len(s) == 1 for s in overlap)  # never two queries at once


def test_alternation_times_every_query_both_ways():
    records, _, _ = _run(clients=1, seconds=0.0, alternate=True)
    kinds = {(r["query"], r["traced"]) for r in records}
    assert kinds == {(q, t) for q in QUERIES for t in (False, True)}
    assert len(records) == 2 * len(QUERIES)


def test_failures_are_recorded_not_raised():
    records, _, _ = _run(clients=3, seconds=0.0, alternate=False, fail="c")
    bad = [r for r in records if not r["ok"]]
    assert bad and all(r["query"] == "c" and "boom" in r["error"] for r in bad)


def test_runs_at_least_the_minimum_of_whole_passes():
    records, _, _ = _run(clients=2, seconds=0.0, alternate=False, passes=3)
    assert Counter(r["rep"] for r in records) == {p: 2 * len(QUERIES) for p in range(3)}
