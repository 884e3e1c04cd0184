"""Compare a parent's benchmark results with a change's.

    python3 perfbench/compare.py --parent RESULTS_DIR --change RESULTS_DIR

Run from the repository root. Each directory holds the result files ``run.py`` saves under
``.perfbench/results/`` (copy them aside per commit). Untraced runs are
paired by workload and seed; run each pair back to back, alternating which
side goes first. For every end-to-end metric of ``BENCHMARK.json`` and
every workload the verdict is:

- improved: at least ten pairs, the change better in at least nine tenths
  of them (ties count for neither side), and the medians apart by more
  than the distance between the parent's first and third quartiles;
- regressed: the change's median worse than the parent's by more than the
  metric's bound;
- unresolved: the parent's own quartile spread is wider than the bound,
  unless every change run reads better than every parent run;
- unchanged: otherwise.

A workload gets verdicts for ``setup_s``, ``peak_rss_mb`` and the
metrics it is meant to move (its ``headline`` in ``workloads.py``); the
other throughput figures of a result are the same measurement in other
units there, and their cells read ``-``.

Failed repetitions are compared as an error rate per side; more failures
in the change is a regression whatever the timings say.
"""

from __future__ import annotations

import argparse
import collections
import glob
import json
import os
import statistics
import sys

from workloads import WORKLOADS


def load(results_dir: str) -> dict[str, dict[int, list[dict]]]:
    """workload -> seed -> untraced results, in the order they finished."""
    runs: dict = collections.defaultdict(lambda: collections.defaultdict(list))
    for path in glob.glob(os.path.join(results_dir, "*.json")):
        with open(path) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            runs[r["workload"]][r["seed"]].append(r)
    for seeds in runs.values():
        for rs in seeds.values():
            rs.sort(key=lambda r: r.get("finished_at", 0))
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], higher: bool, bound: float) -> tuple[str, float]:
    """(verdict, signed relative gain of the change's median) for paired runs."""
    sign = 1.0 if higher else -1.0
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    q1, med_p, q3 = quartiles(parent)
    med_c = statistics.median(change)
    gain = sign * (med_c - med_p) / med_p
    if len(parent) >= 10 and wins >= 0.9 * len(parent) and sign * (med_c - med_p) > q3 - q1:
        return "improved", gain
    if gain < -bound:
        return "regressed", gain
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if (q3 - q1) / med_p > bound and not all_better:
        return "unresolved", gain
    return "unchanged", gain


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Compare parent and change benchmark results.")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    parent, change = load(args.parent), load(args.change)
    metrics = spec["end_to_end"]
    print("workload".ljust(16) + "".join(m["name"].ljust(24) for m in metrics) + "error_rate")
    worst = 0
    for wl in [w["name"] for w in spec["workloads"]]:
        pairs = [
            (p, c)
            for seed in sorted(set(parent.get(wl, {})) & set(change.get(wl, {})))
            for p, c in zip(parent[wl][seed], change[wl][seed])
        ]
        if not pairs:
            print(wl.ljust(16) + "no paired runs")
            continue
        cells = []
        shown = {"setup_s", "peak_rss_mb", *WORKLOADS[wl].headline}
        for m in metrics:
            if m["name"] not in shown:
                cells.append("-".ljust(24))
                continue
            p = [pr["metrics"][m["name"]]["value"] for pr, _ in pairs]
            c = [ch["metrics"][m["name"]]["value"] for _, ch in pairs]
            v, gain = verdict(p, c, m["better"] == "higher", m["bound"])
            worst = max(worst, v == "regressed")
            cells.append(f"{v} {gain:+.1%}".ljust(24))
        err = [
            sum(r["failed"] for r in side) / max(sum(r["attempted"] for r in side), 1)
            for side in zip(*pairs)
        ]
        err_v = "regressed" if err[1] > err[0] else "unchanged"
        worst = max(worst, err_v == "regressed")
        first = sum(p.get("finished_at", 0) < c.get("finished_at", 0) for p, c in pairs)
        print(wl.ljust(16) + "".join(cells) + f"{err_v} {err[0]:.3g} -> {err[1]:.3g}")
        print(" " * 16 + f"{len(pairs)} pairs, parent ran first in {first}")
    return 1 if worst else 0


if __name__ == "__main__":
    sys.exit(main())
