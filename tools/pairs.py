#!/usr/bin/env python3
"""Compare parent and change perfbench runs paired by seed.

Usage: python3 tools/pairs.py <parent_dir> <change_dir> [--benchmark BENCHMARK.json]

Each directory holds one result file per run, named
`<workload>-s<seed>.json` (for example `registry-light-s21.json`), holding
what `perfbench/run.py` printed on stdout; the last non-empty line is the
result object. Runs pair by (workload, seed). A file with no result, or a
seed present on one side only, is named and left out.

For each workload and each end-to-end metric that BENCHMARK.json lists
(the file is only read), it prints:

- each side's median and quartiles, and the parent's quartile distance;
- wins: pairs where the change reads better, ties counting for neither;
- claim: `gain` when the change wins at least 9 of every 10 pairs, over at
  least 10 pairs, and the medians differ in the better direction by more
  than the parent's quartile distance; otherwise `-`;
- bound: `ok` when the change's median is no worse than the parent's by
  more than the metric's bound, `REGRESSION` when it is; `unresolved` when
  the parent's own spread (quartile distance over median) is wider than the
  bound, unless every change run reads better than every parent run.

It also prints how many runs were correct and the failed share of
operations on each side.
"""
import argparse
import json
import os
import re
import statistics

NAME = re.compile(r"^(?P<workload>.+)-s(?P<seed>\d+)\.json$")
CLAIM_WINS = 0.9
CLAIM_MIN_PAIRS = 10


def load_runs(directory):
    """{(workload, seed): result object} for every result file in directory."""
    runs = {}
    for name in sorted(os.listdir(directory)):
        m = NAME.match(name)
        if not m:
            continue
        with open(os.path.join(directory, name)) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
        if not lines:
            print(f"no result (failed run?): {os.path.join(directory, name)}")
            continue
        runs[(m["workload"], int(m["seed"]))] = json.loads(lines[-1])
    return runs


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def better(a, b, higher):
    """True when a reads better than b."""
    return a > b if higher else a < b


def compare(parent, change, metric):
    """One row of the report for one metric over the paired runs."""
    higher = metric["better"] == "higher"
    bound = metric["bound"]
    p = [r["metrics"][metric["name"]]["value"] for r in parent]
    c = [r["metrics"][metric["name"]]["value"] for r in change]
    pq, cq = quartiles(p), quartiles(c)
    iqr = pq[2] - pq[0]
    wins = sum(better(b, a, higher) for a, b in zip(p, c))
    gap = (cq[1] - pq[1]) if higher else (pq[1] - cq[1])
    n = len(p)
    claim = "gain" if (n >= CLAIM_MIN_PAIRS and wins >= CLAIM_WINS * n and gap > iqr) else "-"
    worse = -gap / pq[1] if pq[1] else 0.0
    spread = iqr / pq[1] if pq[1] else 0.0
    if spread > bound and not all(better(b, a, higher) for a in p for b in c):
        verdict = "unresolved"
    else:
        verdict = "REGRESSION" if worse > bound else "ok"
    change_pct = 100.0 * (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
    return {
        "metric": metric["name"], "pairs": n,
        "parent": pq, "change": cq, "parent_iqr": iqr, "spread": spread,
        "change_pct": change_pct, "wins": wins, "claim": claim,
        "bound": bound, "verdict": verdict,
    }


def fmt(q):
    return f"{q[1]:.5g} [{q[0]:.5g}, {q[2]:.5g}]"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--benchmark", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args()

    with open(args.benchmark) as fh:
        metrics = json.load(fh)["end_to_end"]
    parent, change = load_runs(args.parent_dir), load_runs(args.change_dir)
    for key in sorted(set(parent) ^ set(change)):
        side = "parent" if key in parent else "change"
        print(f"unpaired: {key[0]} seed {key[1]} ({side} only)")

    for workload in sorted({w for w, _ in set(parent) & set(change)}):
        seeds = sorted(s for w, s in set(parent) & set(change) if w == workload)
        p = [parent[(workload, s)] for s in seeds]
        c = [change[(workload, s)] for s in seeds]
        print(f"\n== {workload}: {len(seeds)} pairs, seeds {','.join(map(str, seeds))}")
        for side, runs in (("parent", p), ("change", c)):
            attempted = sum(r["attempted"] for r in runs)
            failed = sum(r["failed"] for r in runs)
            correct = sum(bool(r["correct"]) for r in runs)
            print(f"   {side}: correct {correct}/{len(runs)} runs, "
                  f"failed {failed}/{attempted} operations")
        print(f"   {'metric':<16} {'parent med [q1, q3]':>32} {'change med [q1, q3]':>32}"
              f" {'p.IQR':>9} {'spread':>6} {'change':>7} {'wins':>5} {'claim':>5}  bound")
        for m in metrics:
            row = compare(p, c, m)
            wins = f"{row['wins']}/{row['pairs']}"
            print(f"   {row['metric']:<16} {fmt(row['parent']):>32} {fmt(row['change']):>32}"
                  f" {row['parent_iqr']:>9.4g} {row['spread']:>6.3f} {row['change_pct']:>+6.1f}%"
                  f" {wins:>5} {row['claim']:>5}  {row['verdict']} (±{row['bound']:g})")


if __name__ == "__main__":
    main()
