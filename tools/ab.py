#!/usr/bin/env python3
"""A/B the benchmark between two checkouts, one pair of runs per seed.

    python3 tools/ab.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B \
        [--out FILE]

Each checkout runs its own `perfbench/run.py --workload W --seed S
--trace 0 --seconds 1` (building itself on its first run), one pair per
seed S in A..B. Which side runs first alternates from pair to pair, so a
drift of the host over the session does not favour one side. A pair whose
run fails, or reports a failed operation, stops the tool.

For each end-to-end metric of CHANGE_DIR's BENCHMARK.json it prints both
sides' median and quartiles, the change's relative gap, how many pairs
the change won, and whether the median gap in the metric's better
direction exceeds the parent's interquartile range. A claimed gain holds
when the change wins at least 9 pairs in 10 and the gap exceeds that
range. The per-pair results go to --out as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed):
    """The metrics of one benchmark run in `checkout`."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0", "--seconds", "1"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: run.py seed {seed} exited {p.returncode}")
    res = json.loads(lines[-1])
    if res["failed"]:
        raise SystemExit(f"{checkout}: seed {seed}: {res['failed']} failed operation(s)")
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(vals):
    """(q1, median, q3); q1 = q3 = median for a single value."""
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, med, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, med, q3


def summary(pairs, metrics):
    """One line per (name, better) metric over [(parent, change)] pairs."""
    out = []
    for name, better in metrics:
        old = [p[name] for p, _ in pairs]
        new = [c[name] for _, c in pairs]
        sign = 1 if better == "lower" else -1
        wins = sum(1 for o, n in zip(old, new) if sign * (o - n) > 0)
        (oq1, omed, oq3), (nq1, nmed, nq3) = quartiles(old), quartiles(new)
        gap = sign * (omed - nmed)
        rel = (nmed - omed) / omed * 100 if omed else 0.0
        out.append(
            f"{name:14s} parent {omed:9.3f} ({oq1:.3f}-{oq3:.3f})  "
            f"change {nmed:9.3f} ({nq1:.3f}-{nq3:.3f})  {rel:+6.1f}%  "
            f"wins {wins}/{len(pairs)}  gap>IQR {'yes' if gap > oq3 - oq1 else 'no'}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--out")
    a = ap.parse_args()
    first, last = (int(s) for s in a.seeds.split("-"))
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    pairs = []
    for i, seed in enumerate(range(first, last + 1)):
        sides = [a.parent, a.change] if i % 2 == 0 else [a.change, a.parent]
        got = {side: run(side, a.workload, seed) for side in sides}
        pairs.append((got[a.parent], got[a.change]))
        print(f"[ab] seed {seed} ({'parent' if i % 2 == 0 else 'change'} first): " +
              "  ".join(f"{n} {got[a.parent][n]:.3f}->{got[a.change][n]:.3f}"
                        for n, _ in metrics), file=sys.stderr, flush=True)
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"workload": a.workload, "seeds": list(range(first, seed + 1)),
                           "pairs": [{"parent": p, "change": c} for p, c in pairs]},
                          f, indent=1)
    print(f"{a.workload}: {len(pairs)} pairs, seeds {first}-{last}")
    print("\n".join(summary(pairs, metrics)))


if __name__ == "__main__":
    main()
