"""Compare two sets of benchmark runs side by side.

    python3 perfbench/summary.py RUNS_A RUNS_B

Each argument is a directory of files, one per run, each holding the
standard output of ``perfbench/run.py``.  For every (workload, metric)
it prints the median and quartiles of each set, the spread
((q3 - q1) / median) of each, and the ratio of the medians (B / A).
Metrics come from the final line and from the ``report`` line, so the
workload's own per-op numbers are compared too.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(directory: str) -> dict[tuple[str, str], list[float]]:
    """``(workload, metric) -> values`` over every run file."""
    out: dict[tuple[str, str], list[float]] = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            continue
        report = json.loads(lines[-2]).get("report", {})
        final = json.loads(lines[-1])
        workload = report.get("stamp", {}).get("workload", "?")
        metrics = dict(report.get("metrics", {}))
        metrics.update(final.get("metrics", {}))
        for metric, m in metrics.items():
            out.setdefault((workload, metric), []).append(float(m["value"]))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def _fmt(values: list[float] | None) -> str:
    if not values:
        return f"{'-':>36}"
    q1, med, q3 = quartiles(values)
    spread = (q3 - q1) / med if med else float("nan")
    return f"{med:12.4g} [{q1:10.4g},{q3:10.4g}] {spread:6.1%}"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    print(f"{'workload':14} {'metric':32} {'A median [q1, q3] spread':>45} "
          f"{'B median [q1, q3] spread':>45} {'B/A':>7}")
    for key in sorted(set(a) | set(b)):
        va, vb = a.get(key), b.get(key)
        ratio = ""
        if va and vb and statistics.median(va):
            ratio = f"{statistics.median(vb) / statistics.median(va):7.3f}"
        print(f"{key[0]:14} {key[1]:32} {_fmt(va):>45} {_fmt(vb):>45} {ratio:>7}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
