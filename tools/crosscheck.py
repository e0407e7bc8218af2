#!/usr/bin/env python3
"""Cross-SF oracle sweep — the permanent scale-correctness gate: run
graft.Verify AND the DuckDB oracle compare at every scale factor, one
JVM per SF (memoized per-dir state stays isolated). One command
reproduces the full queries x 3-SF all-PASS record; this is the sweep
that caught the suite's only scale-dependent defect (gold_daily_anomaly
rolling-stddev ulp drift at sf0.1, round 8). Expected runtime ~25-40 min
total on this machine: the three Verify dumps dominate (~4/5/12 min at
sf0.001/0.01/0.1); the DuckDB compares add seconds-to-a-few-minutes per
SF (the simhash/minhash signature restatements are the heaviest).
Usage: python3 tools/crosscheck.py [sf ...]   (default: all three)
"""
import datetime, json, os, subprocess, sys

sfs = sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"]
fails = 0
record = {}
for sf in sfs:
    out = f"/tmp/graft_crosscheck_{sf}"
    print(f"[crosscheck] Verify {sf} ...", flush=True)
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify /root/testdata/{sf} {out}"],
        capture_output=True, text=True)
    # "failed:" = query error; "digest MISMATCH" = a no-oracle query's
    # committed determinism digest drifted (graft.Digests) — both fail
    # the sweep
    bad = [l for l in r.stderr.splitlines() + r.stdout.splitlines()
           if "[verify]" in l and ("failed:" in l or "digest MISMATCH" in l)]
    if r.returncode != 0 or bad:
        print("\n".join(bad) or r.stdout[-2000:])
        fails += 1
        continue
    n_digests = len(json.load(open(f"{out}/digests.json")))
    print(f"[crosscheck] compare {sf} ...", flush=True)
    c = subprocess.run(
        [sys.executable, "tools/selfcheck.py", f"/root/testdata/{sf}", out],
        capture_output=True, text=True)
    lines = c.stdout.strip().splitlines()
    n_ok = sum(1 for l in lines if l.startswith("ok"))
    n_fail = sum(1 for l in lines if l.startswith("FAIL"))
    # the ok/FAIL counts are scraped from selfcheck's stdout while
    # pass/fail comes from its return code — reconcile them against the
    # dumped query set so an output-format change can never record ok=0
    # next to pass=true and silently hollow out the committed record
    n_dumped = sum(1 for d in os.listdir(out)
                   if os.path.isdir(os.path.join(out, d)))
    if n_ok + n_fail != n_dumped:
        print(f"[crosscheck] {sf}: scraped ok+fail = {n_ok}+{n_fail} != "
              f"{n_dumped} dumped queries — selfcheck output format drifted")
        fails += 1
        record[sf] = {"ok": n_ok, "fail": n_fail, "dumped": n_dumped,
                      "pass": False, "count_mismatch": True}
        continue
    print("\n".join(l for l in lines
                    if l.startswith("FAIL") or l == "PASS" or "FAILURES" in l))
    print(f"[crosscheck] {sf}: {n_ok} queries ok, {n_digests} digests checked")
    record[sf] = {"ok": n_ok, "fail": n_fail, "dumped": n_dumped,
                  "digests": n_digests, "pass": c.returncode == 0}
    if c.returncode != 0:
        fails += 1
# committed record of the run, so the cross-SF all-PASS claim is
# verifiable from the tree without re-deriving it
head = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                      text=True).stdout.strip()
# the src SUBTREE hash is the real certificate key: committing this
# receipt moves HEAD but not HEAD:src, so "code at final HEAD == code
# certified here" stays checkable (the round-10 snapshot hole)
src_tree = subprocess.run(["git", "rev-parse", "HEAD:src"],
                          capture_output=True, text=True).stdout.strip()
with open("CROSSCHECK.json", "w") as f:
    json.dump({"metric": "cross_sf_oracle_sweep", "head_commit": head,
               "src_tree": src_tree,
               "verify_posture": "tier-switch queries run their "
               "genuine/exact bodies (SparkEntry.exactTiers) here; Bench "
               "measures the derived/warm/sketch tiers",
               "run_utc": datetime.datetime.utcnow().strftime("%Y-%m-%dT%H:%MZ"),
               "runs": record,
               "all_pass": fails == 0}, f, indent=1)
print("[crosscheck] ALL PASS" if fails == 0 else
      f"[crosscheck] {fails} SF(s) FAILED")
sys.exit(1 if fails else 0)
