"""Per-layer metrics from a traced run's spans and event-log summary.

Each traced query execution is a ``query`` span with three phase
children: ``plans.build`` (the registered query callable, which calls
``sources.load_table`` and the ``operators.*`` functions), then
``catalyst.plan`` (physical planning forced on the built DataFrame),
then ``exec.action`` (the full ``noop`` write). Spark jobs carry the job
group of the innermost span that started them.

Counts and times are reported per pass: for each query the mean over
its traced executions, summed over the workload's queries. Ratios are
taken over those per-pass sums.
"""

from __future__ import annotations

import math
import statistics
from collections import defaultdict

from eventlog import MB, GroupStats

PLAN_MODULES = (
    "tpch",
    "relational",
    "windows",
    "events_time",
    "llm",
    "ml",
    "analytics",
    "analytics4",
    "analytics6",
    "extras",
)

# name -> unit, in the order the metrics are reported
METRICS = {
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "sources.load_table.calls": "count",
    "sources.load_table.s": "s",
    "sources.load_table.jobs": "count",
    "operators.dedup.build_s": "s",
    "operators.dedup.eager_jobs": "count",
    "operators.similarity.build_s": "s",
    "operators.similarity.eager_jobs": "count",
    "plans.build_s": "s",
    "plans.build_self_s": "s",
    "plans.build_jobs": "count",
    "plans.build_share": "frac",
    **{f"plans.{m}.{k}": "s" for m in PLAN_MODULES for k in ("build_s", "exec_s")},
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.tasks_per_stage": "count",
    "exec.single_task_stages": "count",
    "exec.core_busy_frac": "frac",
    "exec.longest_stage_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.input_mb": "MB",
    "exec.task_wait_s": "s",
    "exec.failed_tasks": "count",
    "trace.overhead_frac": "frac",
}

_EXEC_SUMS = {
    "exec.jobs": "jobs",
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "exec.single_task_stages": "single_task_stages",
    "exec.task_cpu_s": "cpu_s",
    "exec.gc_s": "gc_s",
    "exec.task_wait_s": "task_wait_s",
    "exec.failed_tasks": "failed_tasks",
}
_EXEC_MB = {
    "exec.shuffle_read_mb": "shuffle_read_b",
    "exec.shuffle_write_mb": "shuffle_write_b",
    "exec.spill_mb": "spill_b",
    "exec.input_mb": "input_b",
}


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def overhead_frac(records: list[dict]) -> float:
    """Σ per-query median traced latency ÷ Σ untraced − 1, over the
    queries that have executions of both kinds."""
    lat: dict[tuple[str, bool], list[float]] = defaultdict(list)
    for r in records:
        if r["ok"]:
            lat[(r["query"], r["traced"])].append(r["latency"])
    both = [q for q, t in lat if t and (q, False) in lat]
    if not both:
        raise ValueError("no query has both traced and untraced executions")
    on = sum(statistics.median(lat[(q, True)]) for q in both)
    off = sum(statistics.median(lat[(q, False)]) for q in both)
    return on / off - 1.0


def compute(
    spans: list[dict],
    groups: dict[str, GroupStats],
    cores: int,
    module_of: dict[str, str],
    records: list[dict],
) -> dict[str, float]:
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def subtree(s):
        yield s
        for c in children[s["id"]]:
            yield from subtree(c)

    def stats(s) -> list[GroupStats]:
        return [groups[x["group"]] for x in subtree(s) if x["group"] in groups]

    def dur(s) -> float:
        return s["end"] - s["start"]

    per_query: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    runs: dict[str, int] = defaultdict(int)
    longest = 0.0
    for root in (s for s in spans if s["name"] == "query"):
        q = root["query"]
        runs[q] += 1
        acc = per_query[q]
        for ph in children[root["id"]]:
            if ph["name"] == "plans.build":
                acc["plans.build_s"] += dur(ph)
                acc["plans.build_jobs"] += sum(g.jobs for g in stats(ph))
                acc["plans.build_self_s"] += dur(ph) - _covered(
                    [(c["start"], c["end"]) for c in children[ph["id"]]]
                )
                for s in subtree(ph):
                    layer = _layer(s)
                    if layer is None or layer == _layer(by_id[s["parent"]]):
                        continue  # count a layer's outermost span only
                    jobs = sum(g.jobs for g in stats(s))
                    if layer == "sources.load_table":
                        acc["sources.load_table.calls"] += 1
                        acc["sources.load_table.s"] += dur(s)
                        acc["sources.load_table.jobs"] += jobs
                    else:
                        acc[f"{layer}.build_s"] += dur(s)
                        acc[f"{layer}.eager_jobs"] += jobs
            elif ph["name"] == "catalyst.plan":
                acc["catalyst.plan_s"] += dur(ph)
            elif ph["name"] == "exec.action":
                acc["exec.s"] += dur(ph)
                gs = stats(ph)
                for name, attr in _EXEC_SUMS.items():
                    acc[name] += sum(getattr(g, attr) for g in gs)
                for name, attr in _EXEC_MB.items():
                    acc[name] += sum(getattr(g, attr) for g in gs) / MB
                acc["run_s"] += sum(g.run_s for g in gs)
                longest = max([longest] + [g.longest_stage_s for g in gs])
        mod = module_of[q]
        acc[f"plans.{mod}.build_s"] = acc["plans.build_s"]
        acc[f"plans.{mod}.exec_s"] = acc["exec.s"]

    if not runs:
        raise ValueError("no traced query executions")
    per_pass: dict[str, float] = defaultdict(float)
    for q, acc in per_query.items():
        for k, v in acc.items():
            per_pass[k] += v / runs[q]

    out = {name: per_pass.get(name, 0.0) for name in METRICS}
    total = out["plans.build_s"] + out["catalyst.plan_s"] + out["exec.s"]
    out["plans.build_share"] = out["plans.build_s"] / total
    out["exec.tasks_per_stage"] = out["exec.tasks"] / max(out["exec.stages"], 1e-9)
    out["exec.core_busy_frac"] = per_pass["run_s"] / (out["exec.s"] * cores)
    out["exec.longest_stage_s"] = longest
    for name in ("session.get_spark", "session.warm"):
        out[name + "_s"] = sum(dur(s) for s in spans if s["name"] == name)
    out["trace.overhead_frac"] = overhead_frac(records)
    return out


def _layer(span: dict) -> str | None:
    name = span["name"]
    if name == "sources.load_table":
        return name
    for layer in ("operators.dedup", "operators.similarity"):
        if name.startswith(layer + "."):
            return layer
    return None
