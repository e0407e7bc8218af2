#!/usr/bin/env python3
"""End-of-round preflight gate — the round-10 post-mortem fix: no
snapshot ships unless the FULL test suite and the cross-SF oracle sweep
are green against the EXACT tree being shipped.

What went wrong in round 10: the final snapshot commit swept in ~400
lines of never-re-tested hardening edits; the committed CROSSCHECK.json
and "tests green" claims certified an EARLIER commit, and HEAD was in
fact broken (two queries crashed on every non-empty input). The gate
closes that hole structurally:

1. REFUSES to run if `src/`, `build.sbt`, or `tools/` have uncommitted
   changes — a certificate must describe a commit, not a working tree
   that will be swept into some future snapshot unverified.
2. Runs the full `sbt test` suite and the 3-SF Verify + DuckDB oracle
   sweep (tools/crosscheck.py) at that clean tree.
3. Writes PREFLIGHT.json keyed by BOTH the commit and the `src/`
   SUBTREE hash (`git rev-parse HEAD:src`): committing the receipt
   files afterwards moves HEAD but not HEAD:src, so the judge's check
   is `PREFLIGHT.src_tree == $(git rev-parse HEAD:src)` at the final
   HEAD — any source edit after certification breaks the equality.
4. Regenerates the verification block in COVERAGE.md between the
   `<!-- preflight:begin/end -->` markers, so the coverage doc's
   verification claims are generated from the receipts, never
   hand-written.

Usage: python3 tools/preflight.py [--skip-tests] [sf ...]
  (sf args forward to crosscheck.py; default all three. --skip-tests
   reuses the most recent suite run ONLY if you just watched it pass at
   this exact tree — the receipt records the skip.)
Expected runtime: ~10 min suite + ~25-40 min sweep.

GATE MODE (r16 judge item 1 — the inverse check): `--gate` runs NO
tests; it verifies that the COMMITTED receipts certify exactly the
tree at HEAD (src subtree, build.sbt blob, tools subtree when
recorded) and exits non-zero otherwise. Run it before any end-of-round
snapshot or artifact commit: r16 shipped receipts three src commits
stale, which this refusal makes structurally impossible to repeat.
"""
import datetime, json, os, re, subprocess, sys

os.chdir(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def git(*args):
    return subprocess.run(["git"] + list(args), capture_output=True,
                          text=True).stdout.strip()


def fail(msg):
    print(f"[preflight] REFUSED: {msg}")
    sys.exit(1)


skip_tests = "--skip-tests" in sys.argv
sf_args = [a for a in sys.argv[1:] if not a.startswith("--")]

# -- GATE MODE: refuse stale receipts, verify-only, no test runs ------------
if "--gate" in sys.argv:
    dirty = git("status", "--porcelain", "--", "src", "build.sbt", "tools")
    if dirty:
        fail("gate: uncommitted changes under src/, build.sbt, or tools/ — "
             f"the committed receipts cannot describe this tree:\n{dirty}")
    head = git("rev-parse", "HEAD")
    src_tree = git("rev-parse", "HEAD:src")
    build_blob = git("rev-parse", "HEAD:build.sbt")
    tools_tree = git("rev-parse", "HEAD:tools")
    committed = git("show", "HEAD:PREFLIGHT.json")
    if not committed:
        fail("gate: PREFLIGHT.json is not committed at HEAD — run "
             "tools/preflight.py and commit its receipts first")
    rec = json.loads(committed)
    if rec.get("src_tree") != src_tree:
        fail(f"gate: STALE receipt — committed PREFLIGHT.json certifies src "
             f"tree {rec.get('src_tree', '?')[:12]} but HEAD:src is "
             f"{src_tree[:12]}; source commits landed after certification. "
             "Re-run tools/preflight.py at this tree, commit the fresh "
             "receipts, then snapshot.")
    if rec.get("build_sbt_blob") != build_blob:
        fail(f"gate: STALE receipt — build.sbt changed after certification "
             f"({rec.get('build_sbt_blob', '?')[:12]} != {build_blob[:12]})")
    # tools_tree is recorded from r17 on; absent in older receipts means
    # the receipt predates the gate and must be regenerated anyway
    if rec.get("tools_tree") is None:
        fail("gate: receipt predates the tools-tree record (r17) — re-run "
             "tools/preflight.py to regenerate it")
    if rec.get("tools_tree") != tools_tree:
        fail(f"gate: STALE receipt — tools/ changed after certification "
             f"({rec.get('tools_tree', '?')[:12]} != {tools_tree[:12]})")
    ccommitted = git("show", "HEAD:CROSSCHECK.json")
    if not ccommitted:
        fail("gate: CROSSCHECK.json is not committed at HEAD")
    crec = json.loads(ccommitted)
    if crec.get("head_commit") != rec.get("head_commit"):
        fail(f"gate: receipt pair mismatch — CROSSCHECK head_commit "
             f"{crec.get('head_commit', '?')[:12]} != PREFLIGHT "
             f"{rec.get('head_commit', '?')[:12]}")
    if not (rec.get("all_green") and crec.get("all_pass")):
        fail("gate: committed receipts are not green")
    print(f"[preflight] gate OK: committed receipts certify HEAD's exact "
          f"tree (src {src_tree[:12]}, tools {tools_tree[:12]}, "
          f"build.sbt {build_blob[:12]})")
    sys.exit(0)

# -- 1. the tree being certified must BE a commit's tree -------------------
dirty = git("status", "--porcelain", "--", "src", "build.sbt", "tools")
if dirty:
    fail("uncommitted changes under src/, build.sbt, or tools/ — commit "
         "them first; a certificate must describe a commit, not a working "
         f"tree:\n{dirty}")

head = git("rev-parse", "HEAD")
src_tree = git("rev-parse", "HEAD:src")
build_blob = git("rev-parse", "HEAD:build.sbt")
tools_tree = git("rev-parse", "HEAD:tools")
print(f"[preflight] certifying HEAD {head[:12]} (src tree {src_tree[:12]})")

# -- 2a. full test suite ----------------------------------------------------
tests = {"ran": not skip_tests}
if skip_tests:
    print("[preflight] --skip-tests: suite result NOT re-derived (recorded)")
else:
    print("[preflight] sbt test (full suite) ...", flush=True)
    r = subprocess.run(["sbt", "-batch", "test"], capture_output=True, text=True)
    m = agg = None
    for line in r.stdout.splitlines():
        mm = re.search(r"Tests: succeeded (\d+), failed (\d+)", line)
        if mm:
            m = mm  # keep the LAST ScalaTest summary line
        # sbt's framework-aggregate line also counts ScalaCheck
        # properties: "Passed: Total N, Failed M, Errors E, Passed P"
        ma = re.search(r"Passed: Total (\d+), Failed (\d+), Errors (\d+)", line)
        if ma:
            agg = ma
    tests.update({
        "rc": r.returncode,
        "succeeded": int(m.group(1)) if m else None,
        "failed": int(m.group(2)) if m else None,
        # both counts recorded so the 256-vs-307 style discrepancy can
        # never re-litigate: scalatest counts ScalaTest tests only, the
        # framework aggregate adds the ScalaCheck property suites
        "framework_total": int(agg.group(1)) if agg else None,
        "framework_failed": (int(agg.group(2)) + int(agg.group(3))) if agg else None,
        "pass": (r.returncode == 0 and m is not None and int(m.group(2)) == 0
                 and (agg is None or int(agg.group(2)) + int(agg.group(3)) == 0)),
    })
    if not tests["pass"]:
        tail = "\n".join(r.stdout.splitlines()[-30:])
        print(tail)
        fail(f"sbt test not green (rc={r.returncode}, "
             f"summary={'%s/%s' % (m.group(1), m.group(2)) if m else 'missing'})")
    print(f"[preflight] suite green: {tests['succeeded']} ScalaTest tests, "
          f"{tests['framework_total']} framework-aggregate")

# -- 2a'. bench-posture gate ------------------------------------------------
# Bench measures derived/warm/sketch tiers for the tier-switch queries;
# Verify runs their exact bodies (SparkEntry.exactTiers). Their
# correctness rests on the StreamsSpec derived==genuine equivalence test
# plus Verify's oracle sweep over the exact bodies. The
# equivalence test must EXIST in the certified tree — a green suite then
# proves it ran; deleting the test can no longer silently drop the gate.
POSTURE_TEST = "derived attribution views equal their genuine independent drains"
if POSTURE_TEST not in open("src/test/scala/graft/StreamsSpec.scala").read():
    fail(f"posture gate test missing from StreamsSpec: '{POSTURE_TEST}'")
print("[preflight] posture gate present (StreamsSpec derived==genuine)")

# -- 2b. cross-SF oracle sweep (writes CROSSCHECK.json at this HEAD) -------
print("[preflight] cross-SF oracle sweep ...", flush=True)
rc = subprocess.run([sys.executable, "tools/crosscheck.py"] + sf_args).returncode
cross = json.load(open("CROSSCHECK.json"))
if rc != 0 or not cross.get("all_pass"):
    fail("cross-SF oracle sweep not green — see CROSSCHECK.json")
if cross.get("head_commit") != head:
    fail(f"CROSSCHECK head_commit {cross.get('head_commit')} != HEAD {head}")

# -- 3. the receipt ---------------------------------------------------------
receipt = {
    "metric": "preflight_gate",
    "head_commit": head,
    "src_tree": src_tree,
    "build_sbt_blob": build_blob,
    "tools_tree": tools_tree,
    "run_utc": datetime.datetime.utcnow().strftime("%Y-%m-%dT%H:%MZ"),
    "sbt_test": tests,
    "posture_gate": "StreamsSpec derived==genuine present + suite green",
    "crosscheck": {sf: run.get("ok") for sf, run in cross["runs"].items()},
    "all_green": True,
}
with open("PREFLIGHT.json", "w") as f:
    json.dump(receipt, f, indent=1)

# -- 4. regenerate COVERAGE.md's verification block -------------------------
BEGIN, END = "<!-- preflight:begin -->", "<!-- preflight:end -->"
suite_line = (f"full `sbt test` suite green ({tests['succeeded']} tests, 0 failures)"
              if tests["ran"] else
              "suite result carried from the builder's last watched run (--skip-tests; see receipt)")
sweep_line = ", ".join(f"{sf} {run.get('ok')}/{run.get('dumped')} ok"
                       for sf, run in cross["runs"].items())
block = f"""{BEGIN}
<!-- GENERATED by tools/preflight.py — do not hand-edit. -->
**Verification receipt** (generated {receipt['run_utc']}): certified at
commit `{head[:12]}`, src tree `{src_tree[:12]}` — check with
`git rev-parse HEAD:src`; a match means not one source line changed
after certification, even though the receipt commit itself moved HEAD.
{suite_line}; cross-SF oracle sweep: {sweep_line}
(`CROSSCHECK.json` / `PREFLIGHT.json` carry the full records).
{END}"""
cov = open("COVERAGE.md").read()
if BEGIN in cov and END in cov:
    cov = cov[:cov.index(BEGIN)] + block + cov[cov.index(END) + len(END):]
else:
    cov = cov.rstrip() + "\n\n## Preflight verification (generated)\n\n" + block + "\n"
with open("COVERAGE.md", "w") as f:
    f.write(cov)

print(f"[preflight] ALL GREEN — receipts written (PREFLIGHT.json, "
      f"CROSSCHECK.json, COVERAGE.md block). Commit them; then verify "
      f"`git rev-parse HEAD:src` == {src_tree[:12]}... at the final HEAD.")
