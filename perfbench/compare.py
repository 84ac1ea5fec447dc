"""Compare the end-to-end metrics of two sets of runs.

    python3 perfbench/compare.py parent.jsonl change.jsonl

Each file holds run records as ``run.py`` appends them to
``.perfbench_out/results.jsonl``. Only untraced runs count. Records are
grouped by workload; a workload whose two sides ran on different core
counts is refused, because a figure from another ``cpus`` is no
baseline. Prints, per workload and metric, both medians, their ratio,
the parent's quartile spread as a share of its median and the runs on
each side.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)["record"]
            if not rec["trace"]:
                by_workload.setdefault(rec["workload"], []).append(rec)
    return by_workload


def spread(values: list[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def compare(parent: dict[str, list[dict]], change: dict[str, list[dict]]) -> list[str]:
    lines = []
    for workload in sorted(parent.keys() & change.keys()):
        a, b = parent[workload], change[workload]
        cpus = {r["cpus"] for r in a} | {r["cpus"] for r in b}
        if len(cpus) != 1:
            raise ValueError(f"{workload}: runs on different core counts {sorted(cpus)}")
        for metric in a[0]["end_to_end"]:
            va = [r["end_to_end"][metric] for r in a]
            vb = [r["end_to_end"][metric] for r in b]
            ma, mb = statistics.median(va), statistics.median(vb)
            lines.append(
                f"{workload} {metric}: parent {ma:.4g} change {mb:.4g} "
                f"ratio {mb / ma:.3f} parent-spread {spread(va):.3f} runs {len(va)}/{len(vb)}"
            )
    return lines


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    try:
        print("\n".join(compare(load(sys.argv[1]), load(sys.argv[2]))))
    except ValueError as exc:
        sys.exit(f"compare: {exc}")
