#!/usr/bin/env python3
"""Mechanical bench gate: diff a BENCH_rN.json against BASELINE.md.

Usage: python3 tools/check_bench.py <BENCH_rN.json> [CORRECTNESS_rN.json]
       python3 tools/check_bench.py <bench_stdout.json>

BASELINE.md pins one second-count per query at sf0.1 / local[32] (see its
provenance notes). This script flags every query whose measured median
exceeds 2x its pinned baseline (the BASELINE.json criterion, made
mechanically checkable), lists queries new since the baseline, and exits
nonzero on any flag, any crashed query, any pinned query MISSING from the
run (a deregistered slow query must not pass silently), any NEW query
without a pin (an unpinned entry has no throughput criterion at all —
BASELINE.md says to pin a query's first clean measurement when
registering it), or a run whose bench line carries partial=true (a
truncated capture is not a gate pass).

The PRODUCTION TWINS (SparkEntry.prodQueries, reported as "t_prod") are
gated by the SAME rules against BASELINE.md's "Production-twin baseline"
table (r15 verdict item 1: twin regressions used to be invisible by
design — the r15 d17/cs02 twins read 1.55x their pins with no flag).

Input formats accepted:
  - raw graft.Bench stdout line(s): {"metric":"total",...,"queries":{...}}
  - the driver's BENCH_rN.json artifact: {"parsed": {..., "t": [...]}} —
    the compact line carries medians in sorted-query-name order, so a
    CORRECTNESS_rN.json (whose keys are the query names) must be given to
    recover names. A name-count mismatch is an error, never a guess.
"""
import json
import re
import sys


def parse_baseline(path="BASELINE.md"):
    """Returns (main pins, twin pins) — twin pins share query names, so
    rows after the "## Production-twin" heading go to their own map."""
    base, twins = {}, {}
    into = base
    for line in open(path, encoding="utf-8"):
        if line.startswith("## Production-twin"):
            into = twins
            continue
        m = re.match(r"\|\s*([a-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|", line)
        if m and m.group(1) != "query":
            into[m.group(1)] = float(m.group(2))
    if not base:
        sys.exit(f"no baseline rows parsed from {path}")
    if not twins:
        sys.exit(f"no production-twin rows parsed from {path} — the twin "
                 "table is part of the gate (r15 verdict item 1)")
    return base, twins


def _names_from(correctness_path, t):
    if not correctness_path:
        sys.exit("this capture carries only the compact 't' array: pass the "
                 "round's CORRECTNESS_rN.json to recover query names")
    names = sorted(json.load(open(correctness_path, encoding="utf-8")).keys())
    if len(names) != len(t):
        sys.exit(f"name/sample count mismatch: {len(names)} correctness "
                 f"keys vs {len(t)} bench samples")
    return dict(zip(names, map(float, t)))


def load_bench(path, correctness_path=None):
    """Returns a 4-tuple (per-query seconds map, twin seconds map,
    partial flag or None if unknown, truncated flag). `truncated` is True
    only when nothing but the heaviest-queries map survived, so just the
    captured entries can be gated and absent pins are not GONE. The twin
    map ("t_prod") is rendered as a NAMED map in every bench output line
    and in the driver artifact's parsed form, so no name recovery is
    needed for it."""
    raw = open(path, encoding="utf-8").read()
    candidates = []
    try:
        candidates.append(json.loads(raw))
    except json.JSONDecodeError:
        # raw graft.Bench stdout is THREE JSON lines: the full named map,
        # the ~1.1 KB heaviest-queries named map, and the compact
        # total + name-asc "t" array LAST (the tail-truncation-proof one).
        # Scan lines BOTTOM-UP so a capture whose head was cut (the
        # harness keeps the last ~2KB) still parses from its surviving
        # complete lines.
        for line in reversed(raw.splitlines()):
            line = line.strip()
            if not line:
                continue
            try:
                candidates.append(json.loads(line))
            except json.JSONDecodeError:
                continue

    def partial_of(data):
        if "partial" in data:
            return bool(data["partial"])
        return data.get("parsed", {}).get("partial", None) \
            if isinstance(data.get("parsed"), dict) else None

    def prod_of(data):
        tp = data.get("t_prod")
        if tp is None and isinstance(data.get("parsed"), dict):
            tp = data["parsed"].get("t_prod")
        if tp is None:
            sys.exit("bench capture carries no t_prod map — twins are "
                     "part of the gate; re-run with a Bench that emits it")
        return {k: float(v) for k, v in tp.items()}

    # preference order (the heaviest-queries line's "queries" map is
    # truncated, so it ranks below the compact line that follows it):
    #   1. a COMPLETE named map (no queries_omitted, or zero omitted),
    #   2. the compact name-asc "t" array (needs a names source),
    #   3. the truncated heaviest-queries map, with a warning — only the
    #      captured entries can be gated.
    for data in candidates:
        d = data.get("parsed") if isinstance(data.get("parsed"), dict) \
            and "queries" in data.get("parsed", {}) else data
        if "queries" in d and not d.get("queries_omitted"):
            return ({k: float(v) for k, v in d["queries"].items()},
                    prod_of(d), partial_of(d), False)
    for data in candidates:
        if "t" in data and isinstance(data["t"], list):
            return (_names_from(correctness_path, data["t"]),
                    prod_of(data), partial_of(data), False)
        if "parsed" in data and "t" in data.get("parsed", {}):
            return (_names_from(correctness_path, data["parsed"]["t"]),
                    prod_of(data), partial_of(data), False)
    for data in candidates:
        d = data.get("parsed") if isinstance(data.get("parsed"), dict) \
            and "queries" in data.get("parsed", {}) else data
        if "queries" in d:
            print(f"WARNING: only a truncated named map survived in {path} "
                  f"({d.get('queries_omitted')} queries omitted by the "
                  "capture); gating the captured heaviest entries only — "
                  "pinned queries absent from this map are NOT treated as "
                  "deregistered.")
            return ({k: float(v) for k, v in d["queries"].items()},
                    prod_of(d), partial_of(d), True)
    sys.exit(f"unrecognized bench format in {path}")


def diff(bench, base, kind=""):
    """Prints the per-query diff, returns (flagged, new, gone, crashed).
    `kind` prefixes each line ("" for main queries, "twin " for t_prod)."""
    flagged, new, gone, crashed = [], [], [], []
    tag = (kind + " ").rstrip() + " " if kind else ""
    for q, sec in sorted(bench.items()):
        if sec < 0:
            crashed.append(q)
            print(f"CRSH {tag}{q:32s}   never ran (crash, not slow)")
            continue
        if q not in base:
            new.append((q, sec))
            continue
        ratio = sec / base[q] if base[q] > 0 else float("inf")
        status = "FLAG" if ratio > 2.0 else "ok"
        if ratio > 2.0:
            flagged.append((q, sec, base[q], ratio))
        print(f"{status:4s} {tag}{q:32s} {sec:8.3f}s  base {base[q]:8.3f}s  x{ratio:.2f}")
    for q in sorted(set(base) - set(bench)):
        gone.append(q)
    for q, sec in new:
        print(f"NEW  {tag}{q:32s} {sec:8.3f}s  (no baseline — pin it in BASELINE.md)")
    for q in gone:
        print(f"GONE {tag}{q:32s} in baseline but not in this bench run")
    return flagged, new, gone, crashed


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    bench, prod, partial, truncated = load_bench(
        sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else None)
    base, twin_base = parse_baseline()
    flagged, new, gone, crashed = diff(bench, base)
    if truncated and gone:
        # the capture only kept the heaviest entries: absence from the
        # truncated map is a capture artifact, not a deregistration
        print(f"(truncated capture: {len(gone)} pinned queries below the "
              "capture cut are not gated this run)")
        gone = []
    tf, tn, tg, tc = diff(prod, twin_base, kind="twin")
    flagged += tf
    new += tn
    gone += tg
    crashed += tc
    print(f"\n{len(bench)} measured + {len(prod)} twins, "
          f"{len(flagged)} over 2x baseline, "
          f"{len(crashed)} crashed, {len(new)} new, {len(gone)} missing"
          + (", PARTIAL RUN" if partial else ""))
    if partial:
        print("\nWARNING: the bench line says partial=true — a truncated or "
              "budget-cut capture, not a full gate pass.")
    if flagged:
        print("\nFLAGGED (>2x pinned baseline):")
        for q, sec, b, r in flagged:
            print(f"  {q}: {sec:.3f}s vs {b}s (x{r:.2f})")
    if gone:
        print("\nGONE queries are gate failures: a pinned query missing from "
              "the run can hide a deregistered slow entry. Remove the pin "
              "with a cited reason if the query was intentionally dropped.")
    if new:
        print("\nNEW queries are gate failures until pinned: an unpinned "
              "entry has no throughput criterion (BASELINE.md: pin the "
              "first clean measurement when registering a query).")
    # gone → nonzero so deregistering a slow query can't silently pass;
    # new → nonzero so an entry can't ride unpinned past the 2x criterion;
    # partial → nonzero so a truncated capture is never mistaken for a
    # full pass (gone/partial per the r13 advisor findings)
    if flagged or crashed or gone or new or partial:
        sys.exit(1)


if __name__ == "__main__":
    main()
