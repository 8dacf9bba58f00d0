"""Compare two saved benchmark results, metric by metric.

    python3 perfbench/compare.py .perfbench/results/A.json .perfbench/results/B.json

Each file is the record `run.py` writes under `.perfbench/results/`. The
two must come from the same workload, trace mode and core count:
wall and CPU times scale with cores, so a result taken on another core
count is refused rather than compared. A record whose timed passes lost
more than `STEAL_MAX` of the box's CPU time to other guests on average
makes the comparison unresolved (exit 3): on a 4-vCPU guest, `tpch_star`
runs at 7-13% steal measured `wall_s` 30-60% above a run at 0.1%, more
than any bound in `BENCHMARK.json`.
"""

from __future__ import annotations

import json
import sys

STEAL_MAX = 0.05


def main(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    for key in ("cores_used", "workload", "trace"):
        if a["env"][key] != b["env"][key]:
            print(f"refusing to compare: {key} differs "
                  f"({a['env'][key]} vs {b['env'][key]})", file=sys.stderr)
            return 2
    for path, rec in ((a_path, a), (b_path, b)):
        if rec["steal_frac"] > STEAL_MAX:
            print(f"unresolved: {path} was taken at {rec['steal_frac']:.1%} host "
                  f"steal (limit {STEAL_MAX:.0%}); run it again", file=sys.stderr)
            return 3
    print(f"{'metric':<28} {'A':>12} {'B':>12} {'B/A':>8}")
    for name, va in a["metrics"].items():
        vb = b["metrics"].get(name)
        ratio = f"{vb / va:8.3f}" if vb is not None and va else "       -"
        print(f"{name:<28} {va:12.4f} {vb if vb is not None else float('nan'):12.4f} {ratio}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
