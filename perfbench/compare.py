#!/usr/bin/env python3
"""Compares two sets of benchmark runs, per workload and metric.

  python3 perfbench/compare.py <baseline dir> <candidate dir>

Each directory holds one file per run (any name ending in .out) with the
stdout of `perfbench/run.py`: a diagnostics line, then the result line.
Runs pair up by workload and seed; unpaired runs count in the medians only.

For every workload and end-to-end metric it prints each side's median and
quartiles, the share of pairs the candidate won (ties count for neither),
and a verdict against the metric's bound from BENCHMARK.json:
  better      wins at least 9/10 of the pairs and the medians differ by more
              than the baseline's own quartile spread
  worse       the candidate's median is worse by more than the bound
  unresolved  not worse, but the baseline's quartile spread is wider than
              the bound, so "same" could not be told from a change
  same        otherwise
It also prints each side's median load1 and CPU-steal share, so that a
noisy set can be told apart from a slower program.
"""
import collections
import glob
import json
import os
import statistics
import sys


def load(directory):
    runs = collections.defaultdict(dict)  # workload -> seed -> (diag, result)
    for path in sorted(glob.glob(os.path.join(directory, "*.out"))):
        with open(path) as f:
            lines = [line for line in f.read().splitlines() if line.startswith("{")]
        if len(lines) < 2:
            print(f"skipping {path}: no result line", file=sys.stderr)
            continue
        diag, res = json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])
        if diag["trace"] == 0:
            runs[diag["workload"]][diag["seed"]] = (diag, res)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    base_dir, cand_dir = sys.argv[1], sys.argv[2]
    with open("BENCHMARK.json") as f:
        metrics = json.load(f)["end_to_end"]
    base, cand = load(base_dir), load(cand_dir)
    for workload in sorted(set(base) | set(cand)):
        b, c = base.get(workload, {}), cand.get(workload, {})
        seeds = sorted(set(b) & set(c))
        print(f"\n== {workload}: {len(b)} baseline runs, {len(c)} candidate runs, {len(seeds)} pairs")
        for name, side in (("baseline", b), ("candidate", c)):
            if side:
                diags = [d for d, _ in side.values()]
                print(f"   {name}: load1 median {statistics.median(d['load1_start'] for d in diags):.2f}, "
                      f"steal median {statistics.median(d['steal_share'] for d in diags):.3f}")
        print(f"   {'metric':<18} {'baseline q1/med/q3':>28} {'candidate q1/med/q3':>28} {'won':>6}  verdict")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            bv = [r["metrics"][name]["value"] for _, r in b.values()]
            cv = [r["metrics"][name]["value"] for _, r in c.values()]
            if not bv or not cv:
                continue
            bq, cq = quartiles(bv), quartiles(cv)
            wins = sum(1 for s in seeds if (c[s][1]["metrics"][name]["value"] < b[s][1]["metrics"][name]["value"])
                       == lower and c[s][1]["metrics"][name]["value"] != b[s][1]["metrics"][name]["value"])
            won = wins / len(seeds) if seeds else float("nan")
            spread = (bq[2] - bq[0]) / bq[1]
            change = (cq[1] - bq[1]) / bq[1] * (1 if lower else -1)  # > 0: worse
            if change > m["bound"]:
                verdict = "worse"
            elif spread > m["bound"]:
                verdict = "unresolved"
            elif won >= 0.9 and abs(cq[1] - bq[1]) > bq[2] - bq[0]:
                verdict = "better"
            else:
                verdict = "same"
            fmt = "{:.3f}/{:.3f}/{:.3f}"
            print(f"   {name:<18} {fmt.format(*bq):>28} {fmt.format(*cq):>28} {won:>6.2f}  "
                  f"{verdict}: median {'worse' if change > 0 else 'better'} by {abs(change):.1%}, "
                  f"baseline spread {spread:.1%}, bound {m['bound']:.0%}")


if __name__ == "__main__":
    main()
