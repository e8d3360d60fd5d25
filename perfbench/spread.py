#!/usr/bin/env python3
"""Median and quartile spread of benchmark results.

    python3 perfbench/spread.py RESULTS.jsonl [...]

Each input line is one result JSON as ``run.py`` prints it (other lines
are skipped). For every metric this prints the run count, the median and
the distance between the first and third quartile as a share of the
median (``statistics.quantiles(values, n=4)``).
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    doc = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(doc, dict) or "metrics" not in doc:
                    continue
                for name, m in doc["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{name:24s} n={len(xs):3d} median={med:.6g} iqr/median={share:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
