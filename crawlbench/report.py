"""Summarise saved runs: spread of each end-to-end metric, and the tracing
overhead (traced median against untraced median).

    python3 crawlbench/report.py [results-dir]

Every run of ``run.py`` saves its end-to-end values (traced runs too) under
``.crawlbench/results``.  Spread is the distance between the first and third
quartile as a share of the median, the figure the benchmark's bounds are
set against.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

from run import END_TO_END  # the benchmark's own module

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def main() -> int:
    rdir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(HERE), ".crawlbench", "results")
    runs: dict[tuple[str, bool], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(rdir, "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], bool(r["trace"])), []).append(r)
    print("| workload | metric | untraced median | spread | runs | "
          "traced median | overhead |")
    print("|---|---|---|---|---|---|---|")
    for wl in sorted({w for w, _ in runs}):
        plain = runs.get((wl, False), [])
        traced = runs.get((wl, True), [])
        bad = sum(1 for r in plain + traced if not r["result"]["correct"])
        for m in END_TO_END:
            xs = [r["e2e"][m] for r in plain if m in r["e2e"]]
            ts = [r["e2e"][m] for r in traced if m in r["e2e"]]
            med = statistics.median(xs) if xs else float("nan")
            tmed = statistics.median(ts) if ts else float("nan")
            over = (tmed / med - 1) if xs and ts else float("nan")
            print(f"| {wl} | {m} | {med:.4g} | {spread(xs):.3f} | {len(xs)} | "
                  f"{tmed:.4g} | {over:+.1%} |")
        if bad:
            print(f"| {wl} | incorrect runs | {bad} | | | | |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
