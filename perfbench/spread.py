"""Summarise repeated runs: median and quartile spread of each metric.

    python3 perfbench/spread.py results.jsonl

Each input line ends with one result object as ``run.py`` prints it
(anything before the first ``{`` is ignored). Prints, per metric, the
median and the distance between the first and third quartile as a
share of the median, using ``statistics.quantiles(values, n=4)``.
"""

from __future__ import annotations

import json
import statistics
import sys


def spreads(results: list[dict]) -> dict[str, tuple[float, float]]:
    values: dict[str, list[float]] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        out[name] = (med, (q3 - q1) / med if med else float("nan"))
    return out


def main() -> None:
    results = []
    with open(sys.argv[1]) as fh:
        for line in fh:
            if "{" in line:
                results.append(json.loads(line[line.index("{"):]))
    for name, (med, iqr) in spreads(results).items():
        print(f"{name:16s} n={len(results)} median={med:.4f} iqr/median={iqr:.4f}")


if __name__ == "__main__":
    main()
