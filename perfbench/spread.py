#!/usr/bin/env python3
"""Median and quartile spread of each metric over several runs.

    python3 perfbench/spread.py results.txt

Each line of the input that holds a benchmark result (the JSON object the
benchmark prints last) counts as one run; text before the JSON on a line
is ignored. Prints, per metric, the number of runs, the median, and the
distance between the first and third quartiles as a share of the median
(``statistics.quantiles(values, n=4)``).
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def spreads(lines) -> dict[str, tuple[int, float, float]]:
    values: dict[str, list[float]] = defaultdict(list)
    for line in lines:
        start = line.find('{"correct"')
        if start < 0:
            continue
        for name, m in json.loads(line[start:])["metrics"].items():
            values[name].append(m["value"])
    out = {}
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = (len(vals), med, (q3 - q1) / med if med else float("nan"))
    return out


def main(argv: list[str]) -> int:
    with open(argv[0]) as fh:
        for name, (n, med, spread) in spreads(fh).items():
            print(f"{name:24s} n={n:2d} median={med:.4g} spread={spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
