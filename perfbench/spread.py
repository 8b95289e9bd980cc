"""Run-to-run spread of the benchmark's metrics over a set of runs.

Usage: python3 perfbench/spread.py RUN_OUTPUT...

Each file holds the stdout of one run; its last line is the result object.
For every metric this prints the median over the runs and the spread: the
distance between the first and third quartile as a share of the median.
A metric is steady when its spread stays under a third of its bound in
``BENCHMARK.json``. The exit code is 1 when a spread exceeds its bound
(``setup_s`` is exempt: only its median is compared between sets of runs).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict
from collections.abc import Sequence

HERE = os.path.dirname(os.path.abspath(__file__))


def quartile_spread(xs: Sequence[float]) -> float:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def main(paths: list[str]) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values: dict[str, list[float]] = defaultdict(list)
    for path in paths:
        with open(path) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values[name].append(m["value"])
    worst = 0
    for name, xs in values.items():
        if len(xs) < 2:
            print(f"{name}: {len(xs)} run, no spread")
            continue
        spread = quartile_spread(xs)
        bound = bounds.get(name)
        verdict = ""
        if bound is not None:
            verdict = ("steady" if spread < bound / 3 else
                       "within bound" if spread <= bound else "OVER BOUND")
            if verdict == "OVER BOUND" and name != "setup_s":
                worst = 1
        print(f"{name:28} n={len(xs):<3} median={statistics.median(xs):<12.6g}"
              f" spread={spread:.3f} bound={bound} {verdict}")
    return worst


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
