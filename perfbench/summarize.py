"""Median, quartiles and spread of a set of benchmark runs.

    python3 perfbench/summarize.py run1.out run2.out ...

Each file holds one run's standard output; its last line is the result
object. Prints one JSON document: per metric the values, the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread, the
distance between the quartiles as a share of the median; plus the runs'
``correct``/``attempted``/``failed`` totals.
"""

from __future__ import annotations

import json
import statistics
import sys


def summarize(results: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    metrics = {}
    for name, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        metrics[name] = {
            "unit": units[name], "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": v,
        }
    return {
        "runs": len(results),
        "all_correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__, file=sys.stderr)
        return 2
    results = []
    for p in paths:
        with open(p) as f:
            lines = f.read().strip().splitlines()
        if not lines:
            raise SystemExit(f"{p}: no result line")
        results.append(json.loads(lines[-1]))
    print(json.dumps(summarize(results), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
