#!/usr/bin/env python3
"""Self-test of the benchmark on sf0.001: a tiny untraced and a tiny traced
run of every workload (analytics, corpus, trainers, stream). Asserts that
each run exits 0, checks its outputs (correct, fail_frac 0), and prints
every end-to-end metric (untraced) or per-layer metric (traced) with the
unit BENCHMARK.json gives it.

    python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["analytics", "corpus", "trainers", "stream"]


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--sf", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return None, None, f"exit {p.returncode}: {p.stderr[-800:]}"
    lines = p.stdout.strip().splitlines()
    report = json.loads(lines[-2][len("report "):])
    return report, json.loads(lines[-1]), None


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            report, res, err = run(w, trace)
            tag = f"{w} trace={trace}"
            if err:
                problems.append(f"{tag}: {err}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or report["fail_frac"] != 0:
                problems.append(f"{tag}: fail_frac {report['fail_frac']}, errors {report['errors']}")
            for name, unit in want[trace].items():
                m = res["metrics"].get(name)
                if not m or m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {name} missing or without unit {unit}")
            extra = set(res["metrics"]) - set(want[trace])
            if extra:
                problems.append(f"{tag}: unexpected metrics {sorted(extra)}")
            print(f"ran {tag}: {len(res['metrics'])} metrics, attempted {res['attempted']}, "
                  f"fail_frac {report['fail_frac']}", flush=True)
    for p in problems:
        print("FAIL " + p)
    print("selftest " + ("passed" if not problems else f"failed ({len(problems)} problems)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
