"""Tracing overhead: traced minus untraced median of each end-to-end metric.

    python3 perfbench/overhead.py [records-dir]

Reads the run records that ``perfbench/run.py`` leaves in ``.perfbench_out/``
and prints, per workload, the median of every end-to-end metric over the
untraced runs, over the traced runs, and their difference.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench.run import END_TO_END, OUT


def overhead(records: list[dict]) -> dict[str, dict[str, dict[str, float]]]:
    """Per workload and run length, over the runs that passed every gate."""
    by: dict[tuple[str, float, int], list[dict]] = defaultdict(list)
    for r in records:
        if not r["failures"]:
            by[(r["workload"], r["seconds"], r["trace"])].append(r)
    out: dict[str, dict[str, dict[str, float]]] = {}
    for workload, seconds in sorted({(w, s) for w, s, _ in by}):
        plain, traced = by.get((workload, seconds, 0)), by.get((workload, seconds, 1))
        if not plain or not traced:
            continue
        workload = f"{workload}@{seconds:g}s"
        out[workload] = {}
        for k in END_TO_END:
            a = statistics.median(r[k] for r in plain)
            b = statistics.median(r[k] for r in traced)
            out[workload][k] = {"untraced": a, "traced": b, "overhead": b - a,
                                "runs": [len(plain), len(traced)]}
    return out


def main(argv: list[str]) -> int:
    root = Path(argv[0]) if argv else OUT
    records = [json.loads(p.read_text()) for p in sorted(root.glob("*.json"))]
    result = overhead(records)
    for workload, metrics in result.items():
        for k, v in metrics.items():
            print(f"{workload:17s} {k:13s} untraced {v['untraced']:10.3f}  traced "
                  f"{v['traced']:10.3f}  overhead {v['overhead']:+9.3f} {END_TO_END[k]}"
                  f"  (runs {v['runs'][0]}/{v['runs'][1]})")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
