"""Summarise the run records under .perfbench/out/.

    python3 perfbench/report.py [out_dir]

Per workload: the median of each end-to-end metric over untraced runs, the
same over traced runs, and the tracing overhead (traced median minus
untraced median); the traced runs' unexplained share of op wall; and the
per-class query breakdown of traced search runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def main(out_dir: str) -> int:
    runs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(out_dir, "*.json")))]
    report = {}
    for w in sorted({r["workload"] for r in runs}):
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        rep = {"untraced_runs": len(plain), "traced_runs": len(traced), "end_to_end": {}}
        for name in sorted({k for r in plain + traced for k in r["end_to_end"]}):
            u = [r["end_to_end"][name] for r in plain if name in r["end_to_end"]]
            t = [r["end_to_end"][name] for r in traced if name in r["end_to_end"]]
            row = {"untraced_median": statistics.median(u) if u else None,
                   "traced_median": statistics.median(t) if t else None}
            if u and t:
                row["tracing_overhead"] = row["traced_median"] - row["untraced_median"]
            rep["end_to_end"][name] = row
        if traced:
            rep["unexplained_frac"] = [r["rollup"]["unexplained_ms"] / r["rollup"]["op_wall_ms"]
                                       for r in traced if r["rollup"]["op_wall_ms"]]
            rep["by_class"] = traced[-1].get("by_class")
        report[w] = rep
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(".perfbench", "out")))
