"""Summarise the per-run files that ``perfbench/run.py`` leaves in
``.perfbench_out/``.

    python3 perfbench/report.py

For each workload and metric it prints the median, the spread (distance
between the first and third quartile over the median) and the run
count; then the tracing overhead of each workload: the traced runs'
``trace.wall_s`` and ``trace.latency_p50_ms`` against the untraced
``wall_s`` and ``latency_p50_ms`` of the same seeds.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_out")


def spread(values: list[float]) -> float:
    median = statistics.median(values)
    if len(values) < 2 or median == 0:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median


def main() -> None:
    runs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(OUT, "*.json")))]
    by_key: dict[tuple, dict[str, list[float]]] = {}
    for run in runs:
        metrics = by_key.setdefault((run["workload"], run["trace"]), {})
        for name, m in run["metrics"].items():
            metrics.setdefault(name, []).append(m["value"])
    for (workload, trace), metrics in sorted(by_key.items()):
        print(f"== {workload} trace={trace}")
        for name, values in metrics.items():
            print(f"  {name:28s} median {statistics.median(values):12.4f}  "
                  f"spread {spread(values):6.3f}  n={len(values)}")
    for workload in sorted({w for w, _ in by_key}):
        plain = {r["seed"]: r["metrics"] for r in runs if r["workload"] == workload and not r["trace"]}
        traced = {r["seed"]: r["metrics"] for r in runs if r["workload"] == workload and r["trace"]}
        seeds = sorted(plain.keys() & traced.keys())
        for e2e, tr in (("wall_s", "trace.wall_s"), ("latency_p50_ms", "trace.latency_p50_ms")):
            if seeds:
                base = statistics.median(plain[s][e2e]["value"] for s in seeds)
                with_trace = statistics.median(traced[s][tr]["value"] for s in seeds)
                print(f"overhead {workload} {e2e}: traced {with_trace:.4f} vs {base:.4f} "
                      f"({(with_trace / base - 1) * 100:+.1f}%, seeds {seeds})")


if __name__ == "__main__":
    main()
