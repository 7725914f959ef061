"""Summarize run records written with ``run.py --out FILE``.

    python3 perfbench/summarize.py perfbench/results/set1.jsonl
    python3 perfbench/summarize.py parent.jsonl change.jsonl

For every workload and end-to-end metric of the untraced runs: the
number of runs, the median, the quartiles, and the spread (distance
between the quartiles as a share of the median, the figure the
benchmark's bounds are checked against). For every traced run: its
wall time, the sum of its span self-times, and the tracing overhead —
the traced ``ingest_s`` minus the untraced median. Given several
files, each is summarized on its own and the medians of every later
file are compared with the first file's.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def untraced(runs: list[dict]) -> dict:
    """workload -> metric -> values of the correct untraced runs."""
    out = defaultdict(lambda: defaultdict(list))
    for r in runs:
        if r.get("e2e") and not r["trace"]:
            for k, v in r["e2e"].items():
                out[r["workload"]][k].append(v)
    return out


def report(runs: list[dict], base: dict) -> int:
    """Print the summary of ``runs``; tracing overhead is taken against
    the untraced runs in ``base``."""
    plain = untraced(runs)
    for w, metrics in sorted(plain.items()):
        print(f"{w}: {len(next(iter(metrics.values())))} untraced runs")
        for k, vals in metrics.items():
            med, q1, q3, sp = spread(vals)
            print(f"  {k:14s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                  f"  spread {sp:6.3f}")
    for r in runs:
        if not (r["trace"] and r.get("layers")):
            continue
        w, lay = r["workload"], r["layers"]
        ref = base.get(w, {}).get("ingest_s")
        over = (f"{r['e2e']['ingest_s'] - statistics.median(ref):+.3f} s"
                f" on ingest_s ({len(ref)} untraced runs)" if ref else "n/a")
        print(f"{w} traced seed {r['seed']}: wall {lay['trace.wall_s']:.3f} s, "
              f"span self-time sum {lay['trace.self_sum_s']:.3f} s, "
              f"tracing overhead {over}")
    bad = [r for r in runs if not r["correct"] or r["failed"]]
    for r in bad:
        print(f"FAILED {r['workload']} seed {r['seed']}: {r['problems'][:3]}")
    return 1 if bad else 0


def main(paths: list[str]) -> int:
    sets = [[json.loads(line) for line in open(p) if line.strip()] for p in paths]
    everything = untraced([r for runs in sets for r in runs])
    rc = 0
    for path, runs in zip(paths, sets):
        print(f"== {path}")
        rc |= report(runs, everything)
    first = untraced(sets[0])
    for path, runs in zip(paths[1:], sets[1:]):
        print(f"== {path} vs {paths[0]}: change of the median")
        for w, metrics in sorted(untraced(runs).items()):
            for k, vals in metrics.items():
                if first.get(w, {}).get(k):
                    base = statistics.median(first[w][k])
                    print(f"  {w:12s} {k:14s} {statistics.median(vals) / base - 1:+7.3f}")
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
