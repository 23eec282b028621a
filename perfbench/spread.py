"""Summarise benchmark results: per workload and metric, the median and the
quartile spread (IQR / median) over runs.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds the standard output of one run (its last line is the
result). Files are grouped by the ``workload`` of their run record.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[str, dict] | None:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    if len(lines) < 2:
        return None
    return json.loads(lines[-2])["workload"], json.loads(lines[-1])


def main(paths: list[str]) -> None:
    groups: dict[str, list[dict]] = {}
    for p in paths:
        r = load(p)
        if r:
            groups.setdefault(r[0], []).append(r[1])
    for wl, results in sorted(groups.items()):
        ok = sum(r["correct"] for r in results)
        print(f"{wl}: {len(results)} runs, {ok} correct")
        for m in results[0]["metrics"]:
            xs = [r["metrics"][m]["value"] for r in results]
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
            spread = (q[2] - q[0]) / med if med else 0.0
            print(f"  {m:24s} median {med:12.4f}  spread {spread:7.2%}  "
                  f"min {min(xs):.4f} max {max(xs):.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
