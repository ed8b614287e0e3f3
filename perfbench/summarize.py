"""Summarize saved benchmark runs (.perfbench/results/*.json).

    python3 perfbench/summarize.py [results dir]

Per workload and mode (untraced, traced): each metric's sample count,
median, quartiles and quartile spread as a share of the median. Then the
tracing overhead per workload: median traced ``trace.wall_s`` over median
untraced ``wall_s``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    results = argv[1] if len(argv) > 1 else os.path.join(ROOT, ".perfbench", "results")
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(results, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        runs.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    if not runs:
        print(f"no runs in {results}", file=sys.stderr)
        return 1
    walls: dict[tuple[str, int], float] = {}
    for (workload, trace), recs in sorted(runs.items()):
        print(f"{workload} {'traced' if trace else 'untraced'}: {len(recs)} runs")
        for name in recs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in recs if name in r["metrics"]]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            unit = recs[0]["metrics"][name]["unit"]
            print(f"  {name:32s} n={len(vals):<3d} median={med:<14.6g} q1={q1:<12.6g} "
                  f"q3={q3:<12.6g} spread={spread:.3f} {unit}")
            if name in ("wall_s", "trace.wall_s"):
                walls[(workload, trace)] = med
    for workload in sorted({w for w, _ in runs}):
        if (workload, 0) in walls and (workload, 1) in walls:
            print(f"tracing overhead {workload}: "
                  f"{walls[(workload, 1)] / walls[(workload, 0)]:.3f} (traced / untraced wall_s)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
