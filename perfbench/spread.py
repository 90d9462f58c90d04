"""Median and quartile spread of each metric over several runs.

    python3 perfbench/spread.py RUN_OUTPUT...

Each argument is a file holding one run's standard output; the last
line is the run's JSON result. For every metric this prints the median,
the first and third quartiles (``statistics.quantiles(values, n=4)``)
and their distance as a share of the median.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    bad = 0
    for path in paths:
        with open(path) as fh:
            lines = fh.read().strip().splitlines()
        res = json.loads(lines[-1])
        bad += not res["correct"]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    print(f"{len(paths)} runs, {bad} not correct")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{name:34s} {med:12.4f} {units[name]:6s} q1 {q1:10.4f} q3 {q3:10.4f}"
              f"  spread {spread:7.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
