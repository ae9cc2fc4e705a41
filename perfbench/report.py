"""Summarise the runs recorded in perfbench/.results/runs.jsonl.

    python3 perfbench/report.py [--since UNIX_TIME] [--scale full]

For every workload and end-to-end metric: the untraced runs' median and
spread (the distance between the first and third quartiles as a share of
the median), and the tracing overhead (traced median minus untraced
median, as a share of the untraced median).  Every recorded run counts;
none is dropped."""

from __future__ import annotations

import argparse
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def load(path: str, since: float, scale: str) -> list[dict]:
    with open(path) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [r for r in runs if r["time"] >= since and r["scale"] == scale]


def summarise(runs: list[dict]) -> dict:
    by = defaultdict(lambda: {0: defaultdict(list), 1: defaultdict(list)})
    meta = defaultdict(lambda: {"runs": 0, "failed": 0, "seeds": set()})
    for r in runs:
        w = r["workload"]
        for k, v in r["end_to_end"].items():
            by[w][r["trace"]][k].append(v)
        meta[w]["runs"] += 1
        meta[w]["failed"] += r["failed"]
        meta[w]["seeds"].add(r["seed"])
    out = {}
    for w, sides in sorted(by.items()):
        rows = {}
        for k, vals in sides[0].items():
            med = statistics.median(vals)
            traced = sides[1].get(k)
            rows[k] = {"n": len(vals), "median": med, "spread": spread(vals),
                       "traced_median": statistics.median(traced) if traced else None,
                       "tracing_overhead": (statistics.median(traced) - med) / med
                       if traced and med else None}
        out[w] = {"metrics": rows, "runs": meta[w]["runs"],
                  "failed_ops": meta[w]["failed"],
                  "seeds": sorted(meta[w]["seeds"])}
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--since", type=float, default=0.0)
    p.add_argument("--scale", default="full")
    args = p.parse_args()
    res = summarise(load(os.path.join(HERE, ".results", "runs.jsonl"),
                         args.since, args.scale))
    for w, s in res.items():
        print(f"{w}: {s['runs']} runs, seeds {s['seeds']}, "
              f"{s['failed_ops']} failed ops")
        print(f"  {'metric':30s} {'n':>3s} {'median':>12s} {'spread':>7s} "
              f"{'traced':>12s} {'overhead':>8s}")
        for k, m in s["metrics"].items():
            tr = "" if m["traced_median"] is None else f"{m['traced_median']:.4g}"
            ov = "" if m["tracing_overhead"] is None else f"{m['tracing_overhead']:+.1%}"
            print(f"  {k:30s} {m['n']:3d} {m['median']:12.4g} "
                  f"{m['spread']:7.1%} {tr:>12s} {ov:>8s}")


if __name__ == "__main__":
    main()
