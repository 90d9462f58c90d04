"""bench.py must COMPLETE — rc=0 and one parseable JSON line.

BENCH_r04 was a DNF: the events fixture drift crashed `join_asof`
during warm-up and the whole bench died before a single timing
(VERDICT r4 #2). This gate runs the real bench entrypoint as a
subprocess at sf0.001 so a crash in ANY warmed query fails the suite
long before the driver's per-round bench run can DNF again.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_bench_completes_and_emits_json():
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    # keep the committed sf0.1 trace intact — the gate's tiny-SF trace
    # goes to a scratch file
    env["SPARK_GRAFT_TRACE"] = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "spark_graft_bench_gate_trace.json"
    )
    # ...and the anchor: the tiny-SF run must neither read nor advance
    # the committed sf0.1 clean anchor
    env["SPARK_GRAFT_ANCHOR"] = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "spark_graft_bench_gate_anchor.json"
    )
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, (
        f"bench.py rc={proc.returncode}\nstderr tail:\n{proc.stderr[-3000:]}"
    )
    json_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{") and ln.endswith("}")
    ]
    assert json_lines, f"no JSON line in bench stdout:\n{proc.stdout[-2000:]}"
    payload = json.loads(json_lines[-1])
    assert payload["unit"] == "sec"
    assert payload["value"] > 0
    assert payload["queries"], "bench emitted no per-query timings"


# ---------------------------------------------------------------------------
# Unit tests for the pass-selection / anchor gate logic (VERDICT r10 #2):
# injected pass totals, no Spark. The r10 failure mode being pinned down:
# a fully-contended session whose min pass shows 0% steal must NOT emit
# `clean: true` at ~2x the committed clean anchor.
# ---------------------------------------------------------------------------


def _mk_pass(total, steal):
    return {
        "timings": {},
        "trace": {},
        "total": total,
        "cpu_mix": {"cpu_busy_pct": 50.0, "cpu_steal_pct": steal},
    }


def _bench():
    sys.path.insert(0, str(REPO))
    import bench

    return bench


def test_contended_session_zero_steal_is_not_clean_vs_anchor():
    # r10's near-miss: both passes ~36s, second shows 0.1% steal.
    # With the 13.135s anchor, neither pass may be labeled clean.
    b = _bench()
    passes = [_mk_pass(35.78, 7.9), _mk_pass(36.35, 0.1)]
    best, clean = b._select_pass(passes, anchor=13.135)
    assert clean is False
    assert best["total"] == 35.78  # overall min, labeled dirty


def test_clean_pass_preferred_over_faster_dirty_pass():
    # ADVICE r10: a contended pass that happens to be fastest must not
    # displace a clean pass from the artifact.
    b = _bench()
    passes = [_mk_pass(12.9, 6.0), _mk_pass(14.1, 0.0)]
    best, clean = b._select_pass(passes, anchor=13.135)
    assert clean is True
    assert best["total"] == 14.1


def test_fastest_clean_pass_wins_among_clean():
    b = _bench()
    passes = [_mk_pass(14.1, 0.0), _mk_pass(13.2, 0.2), _mk_pass(30.0, 9.0)]
    best, clean = b._select_pass(passes, anchor=13.135)
    assert clean is True
    assert best["total"] == 13.2


def test_no_anchor_falls_back_to_steal_only():
    # A shape with no committed anchor (first run, or a changed query
    # list) gates on steal alone — the historical total of a DIFFERENT
    # query set must not be applied.
    b = _bench()
    passes = [_mk_pass(40.0, 0.0)]
    best, clean = b._select_pass(passes, anchor=None)
    assert clean is True


def test_retry_keeps_going_while_above_anchor_bound():
    b = _bench()
    # 13.135 * 1.3 = 17.08: a 17.5s zero-steal pass is NOT clean -> retry
    assert b._pass_is_clean(_mk_pass(17.5, 0.0), anchor=13.135) is False
    assert b._pass_is_clean(_mk_pass(16.9, 0.0), anchor=13.135) is True
    assert b._pass_is_clean(_mk_pass(16.9, 1.5), anchor=13.135) is False


def test_anchor_monotone_and_shape_guarded(tmp_path, monkeypatch):
    b = _bench()
    anchor_file = tmp_path / "anchor.json"
    monkeypatch.setenv("SPARK_GRAFT_ANCHOR", str(anchor_file))
    # no file yet -> a clean run creates the anchor
    b._maybe_advance_anchor("/x/sf0.1", 22, 14.0, clean=True)
    assert b._load_anchor("/x/sf0.1", 22) == 14.0
    # slower clean run does not loosen it
    b._maybe_advance_anchor("/x/sf0.1", 22, 15.0, clean=True)
    assert b._load_anchor("/x/sf0.1", 22) == 14.0
    # faster clean run advances it
    b._maybe_advance_anchor("/x/sf0.1", 22, 12.5, clean=True)
    assert b._load_anchor("/x/sf0.1", 22) == 12.5
    # dirty run never writes
    b._maybe_advance_anchor("/x/sf0.1", 22, 1.0, clean=False)
    assert b._load_anchor("/x/sf0.1", 22) == 12.5
    # a DIFFERENT shape (the sf0.001 gate run) must not clobber the file
    b._maybe_advance_anchor("/x/sf0.001", 22, 2.0, clean=True)
    assert b._load_anchor("/x/sf0.1", 22) == 12.5
    assert b._load_anchor("/x/sf0.001", 22) is None


def test_committed_anchor_matches_bench_query_list():
    # The committed anchor must stay in lockstep with BENCH_QUERIES —
    # adding a 23rd headline query without re-baselining silently
    # disables the anchor gate (shape mismatch -> anchor=None).
    b = _bench()
    payload = json.loads((REPO / "bench_anchor.json").read_text())
    assert payload["n_queries"] == len(b.BENCH_QUERIES), (
        "BENCH_QUERIES changed: re-baseline bench_anchor.json on a "
        "quiet window (run bench.py, commit the new anchor)"
    )
    assert payload["clean_total_sec"] > 0


# ---------------------------------------------------------------------------
# r12: per-query anchor schema + drift attribution (VERDICT r11 #4)
# ---------------------------------------------------------------------------


def test_anchor_shape_integrity_rejects_key_mismatch(tmp_path, monkeypatch):
    """The r10 bug being pinned: an anchor whose n_queries SAYS 22 but
    whose underlying per-query list is a different set must be treated
    as inapplicable, not silently gate apples against oranges."""
    b = _bench()
    anchor_file = tmp_path / "anchor.json"
    monkeypatch.setenv("SPARK_GRAFT_ANCHOR", str(anchor_file))
    bad = {
        "sf_dir": "/x/sf0.1",
        "n_queries": len(b.BENCH_QUERIES),
        "clean_total_sec": 10.0,
        "queries": {"not_a_bench_query": 10.0},
    }
    anchor_file.write_text(json.dumps(bad))
    assert b._load_anchor("/x/sf0.1", len(b.BENCH_QUERIES)) is None
    # a totals-only anchor (legacy schema) still applies
    anchor_file.write_text(
        json.dumps(
            {
                "sf_dir": "/x/sf0.1",
                "n_queries": len(b.BENCH_QUERIES),
                "clean_total_sec": 10.0,
            }
        )
    )
    assert b._load_anchor("/x/sf0.1", len(b.BENCH_QUERIES)) == 10.0


def test_drift_attribution_names_top_movers():
    b = _bench()
    anchor_q = {"a": 1.0, "b": 2.0, "c": 0.5}
    now = {"a": 1.05, "b": 3.4, "c": 0.9}
    top = b._drift_top(now, anchor_q, k=2)
    assert list(top) == ["b", "c"]
    assert top["b"]["delta_sec"] == 1.4
    assert top["b"]["anchor_sec"] == 2.0 and top["b"]["now_sec"] == 3.4


def test_advance_persists_per_query_times(tmp_path, monkeypatch):
    b = _bench()
    anchor_file = tmp_path / "anchor.json"
    monkeypatch.setenv("SPARK_GRAFT_ANCHOR", str(anchor_file))
    t = {q: 0.5 for q in b.BENCH_QUERIES}
    b._maybe_advance_anchor(
        "/x/sf0.1", len(b.BENCH_QUERIES), sum(t.values()), clean=True, timings=t
    )
    rec = json.loads(anchor_file.read_text())
    assert set(rec["queries"]) == set(b.BENCH_QUERIES)
    assert b._load_anchor("/x/sf0.1", len(b.BENCH_QUERIES)) == sum(t.values())


def test_committed_anchor_carries_per_query_times():
    b = _bench()
    payload = json.loads((REPO / "bench_anchor.json").read_text())
    assert set(payload["queries"]) == set(b.BENCH_QUERIES), (
        "BENCH_QUERIES changed: re-baseline bench_anchor.json on a "
        "quiet window (run bench.py, commit the new anchor)"
    )
    # Tolerance scales with the query count: each per-query time and
    # the total are independently rounded to 3 dp, so the worst-case
    # cumulative error is 0.0005 * (n + 1) — a fixed 0.01 would reject
    # a correctly written 25-query anchor (ADVICE r12).
    assert abs(
        sum(payload["queries"].values()) - payload["clean_total_sec"]
    ) < 0.0005 * (len(payload["queries"]) + 1) + 1e-9


def test_drift_labels_always_include_the_ratio_drifter():
    """Code-review r13: a small query whose >1.3x ratio TRIGGERED the
    label must appear in drift_top3 even when three sub-threshold big
    queries carry larger absolute excess — the exact invisibility the
    VERDICT r12 #4 fix was written for."""
    b = _bench()
    anchor_q = {"a": 10.0, "b": 9.0, "c": 8.0, "d": 0.2}
    now = {"a": 10.5, "b": 9.4, "c": 8.31, "d": 0.3}
    assert b._per_query_drift(now, anchor_q)  # d: 1.5x, excess 0.1
    top = b._drift_top(now, anchor_q, k=3)
    assert "d" in top
    assert top["d"]["anchor_sec"] == 0.2 and top["d"]["now_sec"] == 0.3
    # ratio-drifters lead, then the largest remaining movers to k
    assert list(top)[0] == "d" and len(top) == 3


def test_sf1_leg_gates_on_the_sf_dir_basename(monkeypatch):
    """The sf1 leg runs only when the headline SF_DIR's last path segment
    IS sf0.1 — not when it merely ends in that string."""
    import time

    b = _bench()
    monkeypatch.delenv("SPARK_GRAFT_SF1_LEG", raising=False)
    monkeypatch.setattr(b, "SF_DIR", "/data/mysf0.1")
    assert "not sf0.1" in b._sf1_leg(None, time.perf_counter())["skipped"]
    # past the basename gate, an exhausted start budget is the next skip
    monkeypatch.setattr(b, "SF_DIR", "/data/sf0.1/")
    late = time.perf_counter() - b.SF1_START_BUDGET_SEC - 1
    assert b._sf1_leg(None, late)["skipped"].startswith("headline passes took")
