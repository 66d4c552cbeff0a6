"""Summarize the run reports in .perfbench_reports/.

    python3 perfbench/summarize.py [REPORT_DIR]

For each workload and metric: the median over runs, the quartile spread
(Q3 - Q1 as a share of the median, quartiles as statistics.quantiles(n=4)
gives them) and, where traced and untraced runs both exist, the tracing
overhead (traced median minus untraced median of each end-to-end metric).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("nan")


def main(argv: list[str]) -> int:
    folder = argv[0] if argv else os.path.join(os.getcwd(), ".perfbench_reports")
    runs: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(folder, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs[(r["workload"], r["trace"])].append(r)
    for (workload, trace), rs in sorted(runs.items()):
        print(f"\n{workload} trace={trace}: {len(rs)} runs, seeds "
              f"{sorted(r['seed'] for r in rs)}, correct {all(r['correct'] for r in rs)}")
        key = "per_layer" if trace else "end_to_end"
        for metric in rs[0][key]:
            vals = [r[key][metric] for r in rs if r[key][metric] is not None]
            if vals:
                print(f"  {metric:34s} median {statistics.median(vals):14.6g}"
                      f"  spread {spread(vals):7.3f}  min {min(vals):.6g} max {max(vals):.6g}")
        if trace and (workload, 0) in runs:
            base = runs[(workload, 0)]
            print("  tracing overhead (traced - untraced median):")
            for metric in rs[0]["end_to_end"]:
                t = statistics.median(r["end_to_end"][metric] for r in rs)
                u = statistics.median(r["end_to_end"][metric] for r in base)
                print(f"    {metric:32s} {t - u:+.4g} ({(t - u) / u:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
