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

A SUBSET run (graft.Bench under SPARK_GRAFT_BENCH_ONLY) records the names
it was asked for as "only" in every output line. Only the pins of those
names are gated — one of them that did not run still fails as GONE — and
every other pin is listed as outside the subset. The summary then says
the run is not a full gate pass.

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


def _names_from(correctness_path, t, only=None):
    if only is not None and len(only) == len(t):
        # a subset run's "t" is the name-asc order of the names it ran
        return dict(zip(sorted(only), map(float, t)))
    if not correctness_path:
        sys.exit("this capture carries only the compact 't' array: pass the "
                 "round's CORRECTNESS_rN.json to recover query names")
    names = sorted(json.load(open(correctness_path, encoding="utf-8")).keys())
    if only is not None:
        names = sorted(set(names) & set(only))
    if len(names) != len(t):
        sys.exit(f"name/sample count mismatch: {len(names)} correctness "
                 f"keys vs {len(t)} bench samples")
    return dict(zip(names, map(float, t)))


def load_bench(path, correctness_path=None):
    """Returns a 5-tuple (per-query seconds map, twin seconds map,
    partial flag or None if unknown, truncated flag, subset). `truncated`
    is True only when nothing but the heaviest-queries map survived, so
    just the captured entries can be gated and absent pins are not GONE.
    `subset` is the run's "only" list, or None for a full run. The twin
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

    def only_of(data):
        if "only" in data:
            return data["only"]
        return data.get("parsed", {}).get("only") \
            if isinstance(data.get("parsed"), dict) else None

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
                    prod_of(d), partial_of(d), False, only_of(d))
    for data in candidates:
        only = only_of(data)
        if "t" in data and isinstance(data["t"], list):
            return (_names_from(correctness_path, data["t"], only),
                    prod_of(data), partial_of(data), False, only)
        if "parsed" in data and "t" in data.get("parsed", {}):
            return (_names_from(correctness_path, data["parsed"]["t"], only),
                    prod_of(data), partial_of(data), False, only)
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
                    prod_of(d), partial_of(d), True, only_of(d))
    sys.exit(f"unrecognized bench format in {path}")


def diff(bench, base, kind="", only=None):
    """Prints the per-query diff, returns (flagged, new, gone, crashed).
    `kind` prefixes each line ("" for main queries, "twin " for t_prod).
    With `only` (a subset run's names), pins outside it are listed as
    outside the subset and never counted GONE."""
    flagged, new, gone, crashed = [], [], [], []
    tag = (kind + " ").rstrip() + " " if kind else ""
    if only is not None:
        for q in sorted(set(base) - set(only)):
            print(f"OUT  {tag}{q:32s} outside subset")
        base = {q: b for q, b in base.items() if q in only}
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
    bench, prod, partial, truncated, only = load_bench(
        sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else None)
    base, twin_base = parse_baseline()
    flagged, new, gone, crashed = diff(bench, base, only=only)
    if truncated and gone:
        # the capture only kept the heaviest entries: absence from the
        # truncated map is a capture artifact, not a deregistration
        print(f"(truncated capture: {len(gone)} pinned queries below the "
              "capture cut are not gated this run)")
        gone = []
    tf, tn, tg, tc = diff(prod, twin_base, kind="twin", only=only)
    flagged += tf
    new += tn
    gone += tg
    crashed += tc
    print(f"\n{len(bench)} measured + {len(prod)} twins, "
          f"{len(flagged)} over 2x baseline, "
          f"{len(crashed)} crashed, {len(new)} new, {len(gone)} missing"
          + (", PARTIAL RUN" if partial else "")
          + (f", {len(set(base) - set(only))} + "
             f"{len(set(twin_base) - set(only))} twin pins outside subset"
             "\nSUBSET RUN: not a full gate pass" if only is not None else ""))
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
