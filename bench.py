"""Headline benchmark (driver contract: one JSON line).

Runs representative queries from every operator family at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], times each end-to-end (plan + execute +
full materialization), and prints:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>,
   "loadavg_at_start": <load1>, "runs_per_query": 3|5,
   "cpu_busy_pct": ..., "cpu_steal_pct": ..., "clean": true|false,
   "passes_run": 1..3}

Per-query timing is min-of-N (N=5 when the machine is already loaded
at start, load1 > 2; else 3), with adaptive extra runs under observed
interference. The whole suite is additionally steal-gated: a pass
measured under >1% hypervisor CPU steal (or exceeding the committed
best-ever CLEAN total in bench_anchor.json by >30%) is retried up to
3 passes — warm JVM, so retries cost only the measured runs — and the
emitted line carries `clean` so a contended number labels itself.

Each query is warmed once at sf0.001 first so JVM/codegen warmup isn't
attributed to the measured run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dist_keras_spark.plans import QUERIES  # noqa: E402
from dist_keras_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM_DIR = "/root/testdata/sf0.001"

# One representative per family: scan+join+agg, wide agg, window,
# as-of, set op, event-time, dedup (exact + LSH), knn, tfidf, ML
# inference — plus (round 6) the heaviest of the newer families so a
# regression there is driver-visible, not just extended-trace-visible:
# int8-quantized kNN, binned Gini, window-free share-of-total, and the
# nearest-direction as-of composition. Round 7 adds one: the
# mapInArrow journey summary, so the Arrow-native Python boundary (the
# recommended fast path for per-key sequential logic) has a
# driver-visible number. Round 8 adds interpolate_linear_gaps as the
# window-over-the-grid regression guard: it was 18.2s under a
# [currentRow, unboundedFollowing] frame and 1.24s with the
# reversed-order running frame; it now runs one window over the
# hourly aggregate and none over the exploded grid (~0.7s on 4
# cores), so putting a frame back on the grid shows up as a spike
# in the suite total.
# Like-for-like vs r7 = total minus that entry.
# Round 9 adds ppjoin_prefix_filter_pairs as the interpreted-HOF
# regression guard: exploding a transform()-built shingle array ran
# the whole op at 4.7-21.6s; the codegen explode-positions postings
# path ran it at ~1.8-2.2s (one staged per-document frame since,
# ~1.1s on 4 cores), so a regression to the interpreted pattern
# shows up as a >2x spike in the suite total.
# Like-for-like vs r8 = total minus that entry.
BENCH_QUERIES = [
    "revenue_by_nation",
    "tpch_q5_local_supplier",
    "tpch_q10_returned_items",
    "pricing_summary",
    "topk_per_group",
    "win_running_sum",
    "join_asof",
    "setop_union_all",
    "events_sliding_window",
    "events_session_window",
    "dedup_exact_priority",
    "minhash_lsh_neardup",
    "knn_bruteforce_top5",
    "tfidf_top_term",
    "ml_linear_scorer",
    "knn_int8_quantized_top5",
    "gini_histogram_binned",
    "share_of_total_broadcast",
    "join_asof_nearest",
    "arrow_journey_summary",
    "interpolate_linear_gaps",
    "ppjoin_prefix_filter_pairs",
]


def _materialize(df) -> None:
    """Execute the FULL query, all columns. `.count()` is the wrong
    probe: Catalyst prunes computed columns nothing consumes, so a
    projection-only query (e.g. ml_linear_scorer's scoring expression)
    would time scan + planning instead of the operator. The `noop`
    sink evaluates every output column and discards rows executor-side
    — no driver collect skewing the number either."""
    df.write.format("noop").mode("overwrite").save()


def _cpu_sample() -> list[int]:
    """First /proc/stat line (user…steal) — jiffy counters."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _cpu_mix(a: list[int], b: list[int]) -> dict[str, float]:
    """%busy (non-idle, non-iowait) and %steal over the a→b window.

    Loadavg misses sub-minute co-tenant bursts entirely (r9: four
    bench runs at load1 < 1.4 spread 19.6-28.8s with DIFFERENT
    queries spiking each run); the jiffy deltas over the exact suite
    window say whether the CPUs were contended while we measured."""
    d = [y - x for x, y in zip(a, b)]
    tot = max(sum(d), 1)
    idle = d[3] + d[4]
    return {
        "cpu_busy_pct": round(100 * (tot - idle) / tot, 1),
        "cpu_steal_pct": round(100 * d[7] / tot, 1),
    }


def time_query(spark, fn, sf_dir: str, runs: int, warm: bool = True) -> dict:
    """The one per-query timing routine: with `warm`, execute `fn` once
    at WARM_DIR (codegen + broadcast) and once, untimed, at `sf_dir` —
    the first full-size execution pays fresh-plan codegen + JIT that
    later executions of the same query don't (see
    spark.sql.codegen.cache notes in session.py) — then time `runs`
    noop-sink executions at `sf_dir`. Returns the trace entry
    {"warm_sf0.001": s, "warm_full": s, "runs": [s, ...]}; the warm
    times read 0.0 when `warm` is False."""

    def timed(d: str) -> float:
        t0 = time.perf_counter()
        _materialize(fn(spark, d))
        return round(time.perf_counter() - t0, 3)

    return {
        "warm_sf0.001": timed(WARM_DIR) if warm else 0.0,
        "warm_full": timed(sf_dir) if warm else 0.0,
        "runs": [timed(sf_dir) for _ in range(runs)],
    }


def _run_suite(spark, base_runs: int, warm: bool) -> tuple[dict, dict, dict]:
    """One full pass over BENCH_QUERIES: per-query min-of-N timings,
    per-query run trace, and the CPU mix measured over this pass's
    exact window. `warm=False` (retry passes in the same JVM) skips
    the sf0.001 + full-size warm executions — codegen caches and
    broadcast state already exist, so a retry costs only the measured
    runs."""
    timings: dict[str, float] = {}
    trace: dict[str, dict] = {}
    cpu0 = _cpu_sample()
    for name in BENCH_QUERIES:
        fn = QUERIES[name]
        trace[name] = time_query(spark, fn, SF_DIR, base_runs, warm)
        runs = trace[name]["runs"]
        # Adaptive noise guard: a >3× spread means co-tenant load hit
        # the whole batch (observed: a 2.2s query reporting 7.7s when
        # system load spiked to 11) — take up to 3 extra runs so one
        # quiet window can surface the real number. Bounded cost, only
        # triggers under interference.
        def _min_unconfirmed() -> bool:
            # the min is trustworthy once a second run lands within 20%
            # of it; until then a >3× overall spread says keep probing
            lo = sorted(runs)
            return (
                max(runs) / max(min(runs), 1e-9) > 3.0
                and lo[1] / max(lo[0], 1e-9) > 1.2
            )

        extra = 0
        while extra < 3 and _min_unconfirmed():
            runs += time_query(spark, fn, SF_DIR, 1, warm=False)["runs"]
            extra += 1
        timings[name] = min(runs)
    return timings, trace, _cpu_mix(cpu0, _cpu_sample())


# Steal gate (VERDICT r9 #2, anchor fix VERDICT r10 #2): BENCH_r09/r10
# were captured during hypervisor-steal bursts and recorded the
# project's worst-looking numbers (21.9s / 35.8s vs 13.1s clean) with
# the exculpatory evidence living outside the artifact. The gate makes
# the artifact self-defending: a pass whose window saw >1% steal, or
# whose total exceeds the HISTORICAL clean anchor by >30%, is retried
# (bounded — retries are cheap because the JVM stays warm), and the
# emitted JSON carries `clean: true/false` so a contended number
# labels itself IN the driver-parsed line rather than in a side file.
#
# The r10 lesson: anchoring drift to the SESSION's own best pass is
# self-referential — when every pass of a session is contended, the
# min pass trivially satisfies its own drift bound, and had that min
# pass also shown 0% steal the artifact would have said `clean: true`
# at 2.8× the real number. The anchor is therefore the best-ever
# CLEAN suite total, persisted in the committed bench_anchor.json and
# advanced only by a faster clean run of the SAME (sf, query-set):
# no session can launder a slow total into `clean: true`.
STEAL_CLEAN_PCT = 1.0
ANCHOR_DIRTY_RATIO = 1.3
MAX_PASSES = 3
# DNF guard: retries must never push the whole bench past a driver
# timeout — a labeled-dirty number beats no number (BENCH_r04 was a
# DNF; never again). Stop retrying once this much wall time is spent.
MAX_WALL_SEC = 12 * 60


def _anchor_path() -> str:
    return os.environ.get(
        "SPARK_GRAFT_ANCHOR",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_anchor.json"
        ),
    )


def _load_anchor_full(sf_dir: str, n_queries: int) -> dict | None:
    """The committed anchor record for THIS shape, or None when it
    doesn't apply (different SF — e.g. the sf0.001 completion-gate
    test — or a changed query list, where a historical total would
    gate apples against oranges).

    Shape integrity (r12): the r10 anchor recorded n_queries=22 over a
    trace that actually held 21 queries (pre-ppjoin), which made the
    gate ~12% too tight and the residual drift un-attributable. When
    the anchor carries per-query times, their KEY SET must equal
    BENCH_QUERIES exactly — a count alone cannot catch a swap or a
    mislabeled total."""
    try:
        with open(_anchor_path()) as fh:
            a = json.load(fh)
        if a.get("sf_dir") != sf_dir or a.get("n_queries") != n_queries:
            return None
        q = a.get("queries")
        if q is not None and set(q) != set(BENCH_QUERIES):
            return None
        float(a["clean_total_sec"])
        return a
    except (OSError, ValueError, KeyError, TypeError):
        # TypeError: a malformed anchor whose clean_total_sec is JSON
        # null must read as "anchor inapplicable", not crash the bench
        # (ADVICE r12).
        return None


def _load_anchor(sf_dir: str, n_queries: int) -> float | None:
    """Best-ever clean suite total for this shape (gate input)."""
    a = _load_anchor_full(sf_dir, n_queries)
    return float(a["clean_total_sec"]) if a is not None else None


# A clean pass more than 10% over the anchor is still clean (the gate
# bound is 1.3×) but warrants attribution: the emitted artifact names
# the top-3 drifting queries so suite-level drift is never a bare
# number again (VERDICT r11 #4).
DRIFT_ATTRIB_RATIO = 1.1
# A single query >30% over ITS anchor time gets labeled even when the
# suite total is clean-and-under-threshold (VERDICT r12 #4: BENCH_r12
# carried two >1.25× per-query drifts invisibly). The absolute floor
# keeps sub-50ms scheduling jitter on tiny queries from tripping it.
PER_QUERY_DRIFT_RATIO = 1.3
PER_QUERY_DRIFT_FLOOR_SEC = 0.05


def _ratio_drifters(
    timings: dict[str, float], anchor_queries: dict[str, float]
) -> list[str]:
    """Queries exceeding PER_QUERY_DRIFT_RATIO of their anchor time by
    more than the absolute floor, worst ratio first."""
    flagged = [
        (t / anchor_queries[q], q)
        for q, t in timings.items()
        if q in anchor_queries
        and anchor_queries[q] > 0
        and t > anchor_queries[q] * PER_QUERY_DRIFT_RATIO
        and t - anchor_queries[q] > PER_QUERY_DRIFT_FLOOR_SEC
    ]
    return [q for _, q in sorted(flagged, reverse=True)]


def _drift_top(
    timings: dict[str, float], anchor_queries: dict[str, float], k: int = 3
) -> dict[str, dict[str, float]]:
    """Drift attribution labels: every ratio-triggered drifter FIRST
    (so the query whose >1.3× drift raised the label is always in the
    output — a small query's big ratio can carry a tiny absolute
    excess and would otherwise be crowded out by sub-threshold big
    queries, the exact invisibility VERDICT r12 #4 was about), then
    top-by-absolute-excess filled to at least k entries. Queries
    absent from the anchor use 0.0 consistently for both the delta
    and the reported anchor_sec (ADVICE r12)."""
    drifters = set(_ratio_drifters(timings, anchor_queries))
    by_delta = sorted(
        ((t - anchor_queries.get(q, 0.0), q) for q, t in timings.items()),
        reverse=True,
    )
    # ratio-triggered drifters first (in excess order), then fill with
    # the biggest remaining movers up to k total entries
    ordered = [q for _, q in by_delta if q in drifters]
    for _, q in by_delta:
        if len(ordered) >= max(k, len(drifters)):
            break
        if q not in drifters:
            ordered.append(q)
    return {
        q: {
            "anchor_sec": anchor_queries.get(q, 0.0),
            "now_sec": timings[q],
            "delta_sec": round(timings[q] - anchor_queries.get(q, 0.0), 3),
        }
        for q in ordered
    }


def _per_query_drift(
    timings: dict[str, float], anchor_queries: dict[str, float]
) -> bool:
    """True when any single query exceeds PER_QUERY_DRIFT_RATIO of its
    anchor time by more than the absolute floor."""
    return bool(_ratio_drifters(timings, anchor_queries))


def _maybe_advance_anchor(
    sf_dir: str,
    n_queries: int,
    total: float,
    clean: bool,
    timings: dict[str, float] | None = None,
) -> None:
    """A clean run faster than the recorded anchor becomes the new
    anchor (same shape only). Monotone-decreasing, so a contended
    session can never loosen the gate. The advancing run's per-query
    times are persisted alongside the total so later drift is
    attributable query-by-query (VERDICT r11 #4)."""
    if not clean:
        return
    current = _load_anchor(sf_dir, n_queries)
    if current is not None and total >= current:
        return
    # Never clobber a committed anchor that belongs to a DIFFERENT
    # shape (the sf0.001 completion-gate test runs this same main());
    # only create one when no anchor file exists at all.
    if current is None and os.path.exists(_anchor_path()):
        return
    record = {
        "sf_dir": sf_dir,
        "n_queries": n_queries,
        "clean_total_sec": round(total, 3),
    }
    if timings:
        record["queries"] = {q: round(t, 3) for q, t in timings.items()}
    with open(_anchor_path(), "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")


def _pass_is_clean(p: dict, anchor: float | None) -> bool:
    """Clean = no steal over the pass's window AND (when a historical
    anchor applies) the total is within ANCHOR_DIRTY_RATIO of the
    best-ever clean number. The second clause is what stops a
    fully-contended session from emitting `clean: true` at 2× the
    committed baseline just because its steal counter read 0."""
    if p["cpu_mix"]["cpu_steal_pct"] > STEAL_CLEAN_PCT:
        return False
    if anchor is not None and p["total"] > anchor * ANCHOR_DIRTY_RATIO:
        return False
    return True


def _select_pass(passes: list[dict], anchor: float | None) -> tuple[dict, bool]:
    """Emit the fastest CLEAN pass when one exists (ADVICE r10: a
    contended pass that happens to be fastest must not displace a
    clean pass from the artifact); otherwise the overall min, labeled
    clean=False."""
    clean_passes = [p for p in passes if _pass_is_clean(p, anchor)]
    if clean_passes:
        return min(clean_passes, key=lambda p: p["total"]), True
    return min(passes, key=lambda p: p["total"]), False


# --------------------------------------------------------------------------
# Scale-sensitive leg (VERDICT r13 #5): the sf0.1 headline suite is
# overhead-bound (every 8→32-core ratio ≤ 1.24 at sf0.1), so staging and
# parallelism changes were invisible in the one number the driver
# compares round-over-round. After the headline passes, the same 22
# queries run ONCE-warmed + min-of-2 at the sf1-shaped bench dataset
# (tools/gen_benchdata.py — deterministic seed-42, generated on demand,
# NOT an oracle fixture) and the result rides the SAME JSON line as an
# additive "sf1_leg" key. The headline contract is untouched: timed
# region, query list, min-of-N policy, `value`/`queries`, and the
# anchor logic all stay as they were; the leg labels itself with its
# own CPU mix and clean flag, and skips (with a reason) rather than
# jeopardize the headline artifact when disabled, off-SF, over budget,
# or when generation fails.
SF1_LEG_RUNS = 2
SF1_GEN_TIMEOUT_SEC = 420
SF1_START_BUDGET_SEC = 10 * 60  # skip the leg if the retries ate this


def _sf1_leg(spark, t_start: float) -> dict:
    if os.environ.get("SPARK_GRAFT_SF1_LEG", "1") == "0":
        return {"skipped": "disabled via SPARK_GRAFT_SF1_LEG=0"}
    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.1":
        # completion-gate runs at sf0.001 (tests/test_bench_gate.py)
        # and ad-hoc SF overrides don't get a scale leg
        return {"skipped": f"headline SF_DIR is {SF_DIR}, not sf0.1"}
    elapsed = time.perf_counter() - t_start
    if elapsed > SF1_START_BUDGET_SEC:
        return {"skipped": f"headline passes took {elapsed:.0f}s"}
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "benchdata", "sf1"
        ),
    )
    generated = False
    if not os.path.isdir(sf1_dir):
        import subprocess

        gen = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "tools",
            "gen_benchdata.py",
        )
        try:
            subprocess.run(
                [sys.executable, gen, sf1_dir],
                check=True,
                capture_output=True,
                timeout=SF1_GEN_TIMEOUT_SEC,
            )
            generated = True
        except Exception as exc:  # noqa: BLE001
            return {"skipped": f"sf1 generation failed: {type(exc).__name__}"}
    timings: dict[str, float] = {}
    runs_trace: dict[str, list[float]] = {}
    cpu0 = _cpu_sample()
    for name in BENCH_QUERIES:
        # first run doubles as the sf1 codegen warm (plans differ from
        # the sf0.1 ones); min-of-2 is the budget-bounded compromise
        entry = time_query(spark, QUERIES[name], sf1_dir, SF1_LEG_RUNS, warm=False)
        timings[name] = min(entry["runs"])
        runs_trace[name] = entry["runs"]
    mix = _cpu_mix(cpu0, _cpu_sample())
    return {
        "sf_dir": sf1_dir,
        "generated": generated,
        "runs_per_query": SF1_LEG_RUNS,
        "total_sec": round(sum(timings.values()), 3),
        "queries": timings,
        **mix,
        "clean": mix["cpu_steal_pct"] <= STEAL_CLEAN_PCT,
        "runs": runs_trace,
    }


def main() -> None:
    spark = get_spark("bench")
    t_start = time.perf_counter()
    # Loaded-machine discipline (VERDICT r6 #4): the r6 driver bench ran
    # at loadavg 8.3 and min-of-3 barely saved it. When the machine is
    # already busy at start, take min-of-5 per query so at least one run
    # is likely to land in a quiet scheduling window; the start loadavg
    # is also printed in the driver-parsed JSON line so a noisy run is
    # self-explaining instead of reading as a regression.
    load_at_start = os.getloadavg()[0]
    base_runs = 5 if load_at_start > 2 else 3
    anchor = _load_anchor(SF_DIR, len(BENCH_QUERIES))
    passes: list[dict] = []
    for i in range(MAX_PASSES):
        timings, trace, cpu_mix = _run_suite(spark, base_runs, warm=(i == 0))
        passes.append(
            {"timings": timings, "trace": trace, "cpu_mix": cpu_mix,
             "total": round(sum(timings.values()), 3)}
        )
        if _pass_is_clean(passes[-1], anchor):
            break
        if time.perf_counter() - t_start > MAX_WALL_SEC:
            break
    best, clean = _select_pass(passes, anchor)
    _maybe_advance_anchor(
        SF_DIR, len(BENCH_QUERIES), best["total"], clean, best["timings"]
    )
    timings, trace, cpu_mix = best["timings"], best["trace"], best["cpu_mix"]
    # Per-query drift attribution (VERDICT r11 #4): a clean pass more
    # than DRIFT_ATTRIB_RATIO over the anchor names its top-3 movers in
    # the artifact instead of leaving a bare suite-level gap.
    drift_top3 = None
    anchor_full = _load_anchor_full(SF_DIR, len(BENCH_QUERIES))
    if (
        clean
        and anchor is not None
        and anchor_full is not None
        and anchor_full.get("queries")
        and (
            best["total"] > anchor * DRIFT_ATTRIB_RATIO
            # VERDICT r12 #4: a >1.3× single-query drift on an
            # otherwise-clean-and-under-threshold total was invisible
            # in BENCH_r12 (arrow_journey, knn_int8). Label it.
            or _per_query_drift(best["timings"], anchor_full["queries"])
        )
    ):
        drift_top3 = _drift_top(timings, anchor_full["queries"])
    # Scale leg AFTER the headline passes so it can never perturb the
    # retry loop or the anchor; it self-labels and self-skips instead.
    sf1_leg = _sf1_leg(spark, t_start)
    sf1_leg_line = {k: v for k, v in sf1_leg.items() if k != "runs"}
    # Every individual run (incl. the two warm-ups) goes to a trace file
    # so environment-induced outliers (cold JVM, co-tenant load, GC) are
    # diagnosable after the fact — the driver only records the one-line
    # best-pass summary below.
    # $SPARK_GRAFT_TRACE overrides the trace path so gate runs at tiny
    # SFs (tests/test_bench_gate.py) don't clobber the committed sf0.1
    # trace evidence.
    trace_path = os.environ.get(
        "SPARK_GRAFT_TRACE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_trace.json"),
    )
    # Record the machine load alongside the numbers (VERDICT r5 #8): a
    # noisy co-tenant run is then self-explaining in the trace instead
    # of looking like a regression.
    load1, load5, load15 = os.getloadavg()
    with open(trace_path, "w") as fh:
        json.dump(
            {
                "sf_dir": SF_DIR,
                "loadavg": [round(load1, 2), round(load5, 2), round(load15, 2)],
                **cpu_mix,
                "clean": clean,
                "anchor_sec": anchor,
                "drift_top3": drift_top3,
                "passes": [
                    {"total": p["total"], **p["cpu_mix"]} for p in passes
                ],
                "sf1_leg": sf1_leg,
                "trace": trace,
            },
            fh,
            indent=1,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_suite_total_runtime",
                "value": best["total"],
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "loadavg_at_start": round(load_at_start, 2),
                "runs_per_query": base_runs,
                **cpu_mix,
                "clean": clean,
                "anchor_sec": anchor,
                "drift_top3": drift_top3,
                "passes_run": len(passes),
                "sf1_leg": sf1_leg_line,
            }
        )
    )


if __name__ == "__main__":
    main()
