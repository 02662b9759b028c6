#!/usr/bin/env python3
"""Compare two sets of benchmark runs: parent and change.

    python3 perfbench/compare.py --parent P1 P2 ... --change C1 C2 ...

Each file is the captured stdout of one untraced `perfbench/run.py` run
(its `report` line names the workload). Runs are paired in the order
given, per workload: the i-th parent run with the i-th change run, as
made when the two builds are run alternately.

For each (end-to-end metric, workload) it prints each side's median and
quartiles and the change's win fraction (share of pairs in which the
change is better), then rules the pair:

  improved    the change wins at least nine in ten pairs (ties count for
              neither side) and the medians differ by more than the
              parent's quartile spread
  worse       the change's median is worse than the parent's by more than
              the metric's bound, and it loses nine in ten pairs
  no worse    the change's median is within the bound of the parent's,
              and the parent's own spread is within the bound (or every
              change run beats every parent run)
  unresolved  anything else, including fewer than ten pairs

A change whose runs fail more output checks than the parent's (failed
ops, or a run not `correct`) has every pair of its workload ruled
unresolved, whatever its times.

Exits 1 when any pair is ruled worse, or the change fails more checks.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10   # the nine-in-ten rule needs at least ten pairs


def load(path):
    """(workload, {metric: value}, failed checks) of one run's stdout."""
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    report = next(json.loads(l[len("report "):]) for l in reversed(lines) if l.startswith("report "))
    result = json.loads(lines[-1])
    fails = result["failed"] + (not result["correct"])
    return report["workload"], {k: v["value"] for k, v in result["metrics"].items()}, fails


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def rule(parent, change, bound, higher_better, change_fails_more):
    """Verdict for one (metric, workload); `rel` > 0 means the change's
    median is worse than the parent's, as a share of the parent's."""
    sign = -1.0 if higher_better else 1.0
    pm, cm = statistics.median(parent), statistics.median(change)
    rel = sign * (cm - pm) / abs(pm) if pm else 0.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0) / len(pairs)     # ties count for neither
    losses = sum(1 for p, c in pairs if sign * (c - p) > 0) / len(pairs)
    q1, _, q3 = quartiles(parent)
    spread = (q3 - q1) / abs(pm) if pm else 0.0
    enough = len(pairs) >= MIN_PAIRS
    every_run_better = max(sign * c for c in change) < min(sign * p for p in parent)
    if change_fails_more:
        verdict = "unresolved"
    elif enough and wins >= 0.9 and rel < 0 and abs(cm - pm) > q3 - q1:
        verdict = "improved"
    elif rel > bound and enough and losses >= 0.9:
        verdict = "worse"
    elif enough and rel <= bound and (spread <= bound or every_run_better):
        verdict = "no worse"
    else:
        verdict = "unresolved"
    return rel, wins, verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--spec", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    spec = json.load(open(a.spec))
    sides, fails = {}, {}
    for side, files in (("parent", a.parent), ("change", a.change)):
        for f in files:
            w, m, nf = load(f)
            sides.setdefault(w, {}).setdefault(side, []).append(m)
            fails.setdefault(w, {}).setdefault(side, []).append(nf)
    bad = 0
    print(f"{'workload':10s} {'metric':12s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s}"
          f" {'worse':>7s} {'win':>5s}  verdict")
    for w in sorted(sides):
        p_runs, c_runs = sides[w].get("parent", []), sides[w].get("change", [])
        n = min(len(p_runs), len(c_runs))
        if n == 0:
            print(f"{w:10s} (needs runs on both sides)")
            continue
        p_fails, c_fails = sum(fails[w]["parent"][:n]), sum(fails[w]["change"][:n])
        fails_more = c_fails > p_fails
        if fails_more:
            bad += 1
            print(f"{w:10s} change fails {c_fails} checks, parent {p_fails}: every pair unresolved")
        for m in spec["end_to_end"]:
            name = m["name"]
            p = [r[name] for r in p_runs[:n] if name in r]
            c = [r[name] for r in c_runs[:n] if name in r]
            if len(p) != n or len(c) != n:
                print(f"{w:10s} {name:12s} (missing in some runs)")
                continue
            rel, wins, verdict = rule(p, c, m["bound"], m["better"] == "higher", fails_more)
            bad += verdict == "worse"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"{w:10s} {name:12s} {fmt(quartiles(p)):>28s} {fmt(quartiles(c)):>28s}"
                  f" {100 * rel:+6.1f}% {wins:5.2f}  {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
