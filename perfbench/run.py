#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds graft and the harness from source
into `.bench_build/` (reused while the sources are unchanged), generates
the workload's tables from the seed, runs the harness JVMs (one that
only sets up, for a second set-up sample, then the measured one), checks every
output against its oracle (batch ops: the repository's DuckDB gate,
tools/check_oracle.py), and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones; the
line before it is a human-readable report with every metric and its unit.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build   # noqa: E402
import gen     # noqa: E402

# Scale (sf) of the generated tables per workload; stream needs only the
# events table. `timeout_s`: input generation, every JVM and the oracle
# check of one run end within this many seconds of the build. trainers
# (about four minutes a run) is not in BENCHMARK.json, whose runs must end
# within 180 s.
WORKLOADS = {
    "analytics": {"sf": 0.02, "timeout_s": 170},
    "corpus": {"sf": 0.05, "timeout_s": 170},
    "trainers": {"sf": 0.01, "timeout_s": 420},
    "stream": {"sf": 0.1, "tables": ["events"], "timeout_s": 170},
}
# setup_s is the median over the main run and this many set-up-only JVMs;
# each costs about 11 s, and two would push the registered runs past the
# hour the benchmark's comparison of two builds may take
SETUP_PROBES = 1


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def harness(cp, out, args, deadline):
    """Runs one harness JVM writing under `out`; returns its result.json."""
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = build.java_cmd(cp, tmp) + ["graftbench.Harness", "--out", out] + args + [
        "--launched-ms", str(int(time.time() * 1000))]
    with open(os.path.join(out, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run passed its deadline (log: {out}/harness.log)")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(os.path.join(out, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: harness failed with exit code {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def oracle_check(data, check_dir, ops, deadline):
    """{op: error} for every op the repository's DuckDB gate does not pass."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data, check_dir], capture_output=True, text=True,
                       timeout=max(1.0, deadline - time.time()))
    lines = p.stdout.splitlines()
    ok = {l.split()[1] for l in lines if l.startswith("OK ")}
    bad = dict(l[len("FAIL "):].split(": ", 1) for l in lines if l.startswith("FAIL "))
    for n in ops:
        if n not in ok and n not in bad:
            bad[n] = f"not checked (tools/check_oracle.py exit {p.returncode}: {p.stderr[-300:]})"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale")
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: graft sources (src/main/scala) not found; run from a full checkout")
    e2e_units, layer_units = load_spec()
    cfg = dict(WORKLOADS[a.workload])
    if a.sf is not None:
        cfg["sf"] = a.sf

    work = build.work_dir(ROOT)
    cp = build.build(ROOT)
    deadline = time.time() + cfg["timeout_s"]
    only = cfg.get("tables")
    data = os.path.join(work, "data",
                        f"sf{cfg['sf']}-seed{a.seed}" + ("-" + "-".join(only) if only else ""))
    if not os.path.exists(os.path.join(data, "_DONE")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, cfg["sf"], a.seed, only)
        open(os.path.join(data, "_DONE"), "w").close()
    runs = os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    args = ["--workload", a.workload, "--data", data, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    setups = [harness(cp, os.path.join(runs, f"setup{k}"), args + ["--setup-only", "1"], deadline)
              ["e2e"]["setup_s"] for k in range(SETUP_PROBES)]
    out = os.path.join(runs, "main")
    res = harness(cp, out, args, deadline)
    setups.append(res["e2e"]["setup_s"])
    res["e2e"]["setup_s"] = statistics.median(setups)
    res["detail"]["setup_runs_s"] = setups

    errors = dict(res["errors"])
    attempted, failed = res["attempted"], res["failed"]
    if a.workload != "stream":
        ops = res["detail"]["ops"]
        wrong = oracle_check(data, os.path.join(out, "check"), ops, deadline)
        attempted += len(ops)
        failed += len(wrong)
        errors.update({k: f"oracle: {v}" for k, v in wrong.items()})

    units = layer_units if a.trace else e2e_units
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for name in units:
        v = source.get(name)
        if v is None:
            errors[f"metric {name}"] = "not measured"
            continue
        metrics[name] = {"value": v, "unit": units[name]}
    correct = failed == 0 and not errors
    report = {
        "workload": a.workload, "seed": a.seed, "sf": cfg["sf"], "trace": a.trace,
        "fail_frac": failed / max(1, attempted),
        "errors": errors,
        "end_to_end": {k: [v, e2e_units.get(k, "")] for k, v in res["e2e"].items()},
        "detail": res["detail"],
        "wall_s": time.time() - t_start,
    }
    if a.trace:
        report["per_layer"] = {k: [v, layer_units.get(k, "")] for k, v in res["layers"].items()}
        report["spans"] = os.path.relpath(os.path.join(out, "spans.jsonl"), ROOT)
        report["layer_report"] = os.path.relpath(os.path.join(out, "layers.json"), ROOT)
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
