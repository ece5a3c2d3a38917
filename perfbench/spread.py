"""Median and quartile spread of each metric over several runs.

Reads result lines (the last stdout line of ``run.py``) from stdin; prints
one line per metric: median, (Q3 - Q1) / median, and the number of runs.
"""

from __future__ import annotations

import json
import statistics
import sys


def spreads(results: list[dict]) -> dict[str, tuple[float, float, int]]:
    values: dict[str, list[float]] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
        out[name] = (med, (q[2] - q[0]) / med if med else 0.0, len(v))
    return out


if __name__ == "__main__":
    rows = [json.loads(line) for line in sys.stdin if line.startswith("{")]
    for name, (med, spread, n) in spreads(rows).items():
        print(f"{name:28s} median {med:12.4f}  spread {spread:.3f}  n={n}")
