"""Time registered queries with one method: interleaved passes.

A SELECTOR is a query name, a plan-module name (every query that module
defines, e.g. `analytics6`), or `all` (every oracle-backed query except
the streaming and training ones).

Each selected (query, dir) is first warmed by `bench.time_query` (one
execution at sf0.001, one at the dir). Then `--runs` passes each time
every (query, dir) once, in the same order, through the same routine.
Interleaving puts a co-tenant burst on one run of every query instead
of on all runs of one, so the arms of an A/B (two selectors) or the two
sides of a scaling step (`--to`) are measured under the same host load.

  --sf-dir DIR  the measured dir (default /root/testdata/sf0.1).
  --to DIR      also time every query at DIR and report the scaling
                exponent log(min_to / min_from) / log(step); the step is
                the ratio of the two dirs' orders.parquet row counts
                (sf0.01 -> sf0.1 is 150000 / 15000 = 10).
  --runs N      timed passes (default 5).
  --budget SEC  every execution runs in a Spark job group named for its
                query. A warm-up (its sf0.001 and full-size executions
                together) or a timed run still going after SEC is
                cancelled; that (query, dir) records {"timeout_sec": SEC}
                and is not run again.
  --record KEY  merge each query's result into
                bench_extended_trace.json[KEY]["ops"]; every other key,
                and every other query under KEY, stays as it is.
                Without it nothing is written.

Prints one JSON line per query, then a summary line with the CPU mix
over the timed passes. Exits 1 when any query raised.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyarrow.parquet as pq  # noqa: E402

from bench import _cpu_mix, _cpu_sample, time_query  # noqa: E402
from dist_keras_spark.plans import ORACLE, QUERIES  # noqa: E402
from dist_keras_spark.session import get_spark  # noqa: E402

TRACE_PATH = os.path.join(REPO, "bench_extended_trace.json")
# After a budget runs out, keep cancelling the group's running jobs
# while the query's thread finishes: a thread still building its plan
# starts its jobs later.
CANCEL_GRACE_SEC = 30.0


def select(selectors: list[str]) -> list[str]:
    """Query names for the selectors, in selector then registry order,
    without repeats. Raises SystemExit on a selector that names nothing."""
    names: list[str] = []
    for sel in selectors:
        if sel == "all":
            names += [
                n
                for n in QUERIES
                if n in ORACLE
                and not n.endswith("_live")
                and not n.startswith(("streaming_", "ml_train"))
            ]
        elif sel in QUERIES:
            names.append(sel)
        else:
            suffix = "." + sel
            module = [n for n, fn in QUERIES.items() if fn.__module__.endswith(suffix)]
            if not module:
                raise SystemExit(
                    f"unknown selector {sel!r}: not a query, a plan module or 'all'"
                )
            names += module
    return list(dict.fromkeys(names))


def scale_step(from_dir: str, to_dir: str) -> float:
    """Row-count ratio of the two dirs' orders tables, from the parquet
    footers (no Spark, no scan)."""

    def rows(d: str) -> int:
        return pq.read_metadata(os.path.join(d, "orders.parquet")).num_rows

    return rows(to_dir) / rows(from_dir)


def _time_in_group(spark, name: str, sf_dir: str, budget: float | None, **kw) -> dict:
    """`bench.time_query` for query `name`, run in a thread whose Spark
    jobs carry job group `name`. Raises TimeoutError when it is still
    running after `budget` seconds (its group is then cancelled), and
    re-raises what it raised."""
    sc = spark.sparkContext
    out: dict = {}

    def target() -> None:
        sc.setJobGroup(name, f"{name} @ {sf_dir}", interruptOnCancel=True)
        try:
            out["value"] = time_query(spark, QUERIES[name], sf_dir, **kw)
        except Exception as exc:  # noqa: BLE001 — handed to the caller
            out["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(budget)
    if t.is_alive():
        tracker = sc.statusTracker()
        deadline = time.monotonic() + CANCEL_GRACE_SEC
        while t.is_alive() and time.monotonic() < deadline:
            # cancelJobGroup only reaches running jobs (and logs a WARN
            # when there are none), so wait out plan building.
            if set(tracker.getJobIdsForGroup(name)) & set(tracker.getActiveJobsIds()):
                sc.cancelJobGroup(name)
            t.join(0.5)
        raise TimeoutError(name)
    if "error" in out:
        raise out["error"]
    return out["value"]


def run(
    spark, names: list[str], dirs: list[str], runs: int, budget: float | None = None
) -> tuple[dict[str, list[dict]], dict]:
    """Warm every (query, dir), then time `runs` interleaved passes.
    Returns one cell per dir for each query, in `dirs` order — either
    {"sf_dir", "min_sec", "median_sec", "runs"}, {"sf_dir",
    "timeout_sec"} or {"sf_dir", "error"} — and the CPU mix over the
    timed passes."""
    cells = {(n, d): {"sf_dir": d, "runs": []} for n in names for d in dirs}

    def failed(cell: dict) -> bool:
        return "timeout_sec" in cell or "error" in cell

    def execute(name: str, d: str, **kw) -> None:
        cell = cells[(name, d)]
        if failed(cell):
            return
        try:
            cell["runs"] += _time_in_group(spark, name, d, budget, **kw)["runs"]
        except TimeoutError:
            cell["timeout_sec"] = budget
        except Exception as exc:  # noqa: BLE001 — one crash must not stop the rest
            cell["error"] = str(exc)[:300]

    for name, d in cells:
        execute(name, d, runs=0)
    cpu0 = _cpu_sample()
    for _ in range(runs):
        for name, d in cells:
            execute(name, d, runs=1, warm=False)
    mix = _cpu_mix(cpu0, _cpu_sample())
    out: dict[str, list[dict]] = {n: [] for n in names}
    for (name, _), cell in cells.items():
        t = cell.pop("runs")
        if not failed(cell):
            med = round(statistics.median(t), 3)
            cell.update(min_sec=min(t), median_sec=med, runs=t)
        out[name].append(cell)
    return out, mix


def exponent(frm: dict, to: dict, step: float) -> float | None:
    """log(min_to / min_from) / log(step); None unless both were timed."""
    if "min_sec" not in frm or "min_sec" not in to:
        return None
    ratio = max(to["min_sec"], 1e-3) / max(frm["min_sec"], 1e-3)
    return round(math.log(ratio) / math.log(step), 2)


def record(path: str, key: str, results: dict[str, dict]) -> None:
    """Merge `results` per query into trace[key]["ops"] of the JSON file."""
    with open(path) as fh:
        trace = json.load(fh)
    trace.setdefault(key, {}).setdefault("ops", {}).update(results)
    with open(path, "w") as fh:
        json.dump(trace, fh, indent=1)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument("selectors", nargs="+", metavar="SELECTOR")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--to")
    p.add_argument("--runs", type=int, default=5)
    p.add_argument("--budget", type=float)
    p.add_argument("--record", metavar="KEY")
    args = p.parse_args(argv)
    if args.runs < 1:
        p.error("--runs must be at least 1")
    if args.budget is not None and args.budget <= 0:
        p.error("--budget must be positive")
    names = select(args.selectors)
    dirs = [args.sf_dir] + ([args.to] if args.to else [])
    step = scale_step(args.sf_dir, args.to) if args.to else None
    if step == 1:
        p.error("--to dir has as many orders rows as --sf-dir: no scale step")

    spark = get_spark("time_queries")
    cells, mix = run(spark, names, dirs, args.runs, args.budget)
    results: dict[str, dict] = {}
    for name, (cell, *to) in cells.items():
        if to:
            cell.update(to=to[0], step=step, exponent=exponent(cell, to[0], step))
        results[name] = cell
        print(json.dumps({"query": name, **cell}))
    if args.record:
        record(TRACE_PATH, args.record, results)
    errors = sorted(n for n, c in cells.items() if any("error" in x for x in c))
    timeouts = sorted(n for n, c in cells.items() if any("timeout_sec" in x for x in c))
    print(
        json.dumps(
            {
                "n_queries": len(names),
                "runs": args.runs,
                "errors": errors,
                "timeouts": timeouts,
                **mix,
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
