#!/usr/bin/env python3
"""Compare the per-layer ledgers of two benchmark run records.

    python3 perfbench/ledger_diff.py OLD.json NEW.json [--threshold 0.05]

A run record is the JSON file `run.py` writes per run (under the build dir's
`records/`, or wherever --record put it). It holds one entry per harness
JVM; each traced operation carries a ledger of per-layer counters and times.
This tool takes the median of every ledger entry over the traced operations
of each record and reports:

  * the stamp fields that differ (nproc, heap, JVM, Spark version and conf,
    seed, scale, source tree): two records are comparable only when these
    match, so any difference is printed first;
  * every deterministic counter that changed at all (jobs, tasks, files,
    bytes, rows, shuffle bytes, batches, calls): these repeat exactly
    between runs of the same code and inputs, so any change is a change
    in what the code does;
  * every other measure (times, cache sizes) whose median moved by more
    than --threshold (default 5%), marked apart from the counters.

Exit status: 1 if a deterministic counter changed, else 0.
"""
import argparse
import json
import statistics
import sys

COUNTER_SUFFIXES = (".jobs", ".tasks", ".files", ".bytes", ".rows",
                    ".shuffle_bytes", ".spill_bytes", ".batches", ".calls",
                    "jobs_per_req", "tasks_per_req", "files_discovered")
STAMP_KEYS = ("workload", "nproc", "heap", "xmx", "jvm", "spark", "seed",
              "scale", "src_rev")


def is_counter(name):
    return name.endswith(COUNTER_SUFFIXES)


def ledger(record):
    """Median of each ledger entry over the record's traced operations."""
    ops = [j["op"] for j in record["jvms"]]
    per_op = [op["ledger"] for op in ops if "ledger" in op and not op["error"]]
    names = sorted({k for l in per_op for k in l})
    return {k: statistics.median(l.get(k, 0.0) for l in per_op) for k in names}


def diff(old, new, threshold):
    lines, changed = [], False
    for k in STAMP_KEYS:
        a, b = old["stamp"].get(k), new["stamp"].get(k)
        if a != b:
            lines.append(f"stamp    {k}: {a} -> {b}")
    if old.get("spark_conf") != new.get("spark_conf"):
        lines.append("stamp    spark_conf differs")
    la, lb = ledger(old), ledger(new)
    if not la or not lb:
        lines.append("no traced operations in one of the records (run with --trace 1)")
    for k in sorted(set(la) | set(lb)):
        a, b = la.get(k, 0.0), lb.get(k, 0.0)
        if is_counter(k):
            if a != b:
                changed = True
                lines.append(f"COUNTER  {k}: {a:g} -> {b:g}")
        elif a or b:
            rel = (b - a) / a if a else float("inf")
            if abs(rel) > threshold:
                lines.append(f"measure  {k}: {a:.4g} -> {b:.4g} ({rel:+.1%})")
    return lines, changed


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=0.05)
    a = ap.parse_args(argv)
    with open(a.old) as f:
        old = json.load(f)
    with open(a.new) as f:
        new = json.load(f)
    lines, changed = diff(old, new, a.threshold)
    print("\n".join(lines) if lines else "no differences")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
