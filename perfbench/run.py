#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload medallion|analytics --seed N \
        --seconds S --trace 0|1 [--scale SF] [--record FILE] [--perturb]
    python3 perfbench/run.py --workload W --seed N --seconds 1 --write-goldens

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into the repository's own target dirs and
caches the classpath under the build dir ($CARGO_TARGET_DIR, default
`.bench_build`). A run then generates its inputs from the seed and starts
harness JVMs back to back, each sized from this host (local[nproc], heap =
half of RAM clamped to [2g, 8g], the tier-1 formula) and each doing the
set-up and one operation, until --seconds of operation time are measured.
With --trace 1 the JVMs alternate untraced and traced.

The tables are generated from the data seed `--seed % 4`, so the expected
results of every input are committed under perfbench/goldens/ and each
operation is checked against them; the full seed also draws the dashboard
requests. `--write-goldens` runs one operation that records the goldens of
the seed's input instead (after an intended change of results or inputs).

The last line of standard output is one JSON object:
{"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The run record (every JVM's stamp, set-up
times, operation, per-call times and ledger) goes to --record, by default
under the build dir's records/; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("medallion", "analytics", "rerun_defect")
# input scale per workload (sf1 = 1.5M orders); see README.md for the sizing
SCALE = {"medallion": 0.01, "analytics": 0.001, "rerun_defect": 0.001}
RUN_TIMEOUT_S = 170
# inputs are generated from one of this many data seeds (--seed mod it)
DATA_SEEDS = 4
GOLDENS = os.path.join(HERE, "goldens")
# An operation during which the hypervisor took more than this share of the
# VM's CPU capacity (steal time over nproc x wall time) measured the host,
# not the code: an untraced run then measures one more operation, once.
STEAL_LIMIT = 0.2
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def git_tree_hash(path):
    """Git's object id of a directory tree (equals `git rev-parse HEAD:src`
    when the working tree matches HEAD); works without a git checkout."""
    entries = []
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isdir(p):
            entries.append((name + "/", b"40000 " + name.encode(), git_tree_hash(p)))
        else:
            with open(p, "rb") as f:
                data = f.read()
            blob = hashlib.sha1(b"blob %d\0" % len(data) + data).digest()
            mode = b"100755" if os.access(p, os.X_OK) else b"100644"
            entries.append((name, mode + b" " + name.encode(), blob))
    body = b"".join(e[1] + b"\0" + e[2] for e in sorted(entries, key=lambda e: e[0]))
    return hashlib.sha1(b"tree %d\0" % len(body) + body).digest()


def heap():
    """Half of RAM, clamped to [2g, 8g]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build(build_dir, src_rev):
    """Compile engine + harness once per source state; returns the classpath."""
    h = hashlib.sha256(src_rev.encode())
    for d, _, files in sorted(os.walk(HERE)):
        if "/target" in d or "/project/project" in d:
            continue
        for f in sorted(files):
            if f.endswith((".scala", ".sbt", ".properties")):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(build_dir, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (exit {p.returncode})")
    cp = [l for l in p.stdout.splitlines()
          if not l.startswith("[") and "scala-library" in l][-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def goldens_file(workload, scale, seed):
    return os.path.join(GOLDENS, f"{workload}-sf{scale:g}-data{seed % DATA_SEEDS}.tsv")


def gen_hash():
    """Identifies the generator the goldens were made with."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def goldens_gen(path):
    """The generator hash stored in a goldens file, or None without one."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return next((l.split("\t", 1)[1].strip() for l in f
                     if l.startswith("gen.py\t")), None)


def median(vals):
    return statistics.median(vals) if vals else 0.0


def disturbed(j):
    op = j["op"]
    return op["steal_s"] > STEAL_LIMIT * nproc() * op["seconds"]


def end_to_end(jvms):
    """End-to-end metrics over the untraced JVMs whose operation passed,
    leaving out host-disturbed ones when an undisturbed one exists."""
    good = [j for j in jvms if not j["op"]["traced"] and not j["op"]["error"]]
    good = [j for j in good if not disturbed(j)] or good
    ops = [j["op"] for j in good]
    return {
        "op_s": (median([op["seconds"] for op in ops]), "s"),
        "op_cpu_s": (median([op["cpu_s"] for op in ops]), "s"),
        "heap_live_mb": (median([j["heap_live_mb"] for j in good]), "MB"),
        # the first set-up of a JVM starts its first SparkContext; the
        # warm ones are what a set-up costs the engine
        "setup_s": (median([s for j in jvms for s in j["setup_s"][1:]]), "s"),
    }


def pipeline_s(op):
    """Time of the bronze copies and Pipeline.run calls of an operation."""
    return sum(ms for name, ms in op["calls_ms"]
               if name in ("bronze.copyToBronze", "pipeline.run")) / 1000


def per_layer(jvms):
    """Per-layer medians over the traced JVMs, the tracing overhead against
    the untraced ones, and how much of a traced operation its spans cover."""
    ok = [j for j in jvms if not j["op"]["error"]]
    traced = [j["op"] for j in ok if j["op"]["traced"]]
    base = median([j["op"]["seconds"] for j in ok if not j["op"]["traced"]])
    ratio = lambda v: v / base if base else 0.0
    units = jvms[0]["layer_units"]
    out = {k: (median([op["ledger"].get(k, 0.0) for op in traced]), u)
           for k, u in units.items()}
    out["client.call_p50_ms"] = (
        median([median([ms for _, ms in op["calls_ms"]]) for op in traced]), "ms")
    out["trace_overhead"] = (ratio(median([op["seconds"] for op in traced])), "ratio")
    # share of the traced operation's wall time its call spans account for
    out["trace.coverage"] = (median([op["ledger"]["trace.calls_s"] / op["seconds"]
                                     for op in traced]), "ratio")
    # traced bronze + silver + gold stage spans over the untraced bronze
    # copies and Pipeline.run (0 on a workload without the pipeline)
    stages = median([sum(op["ledger"][k] for k in (
        "bronze.copy_s", "medallion.silver_s", "medallion.gold_s")) for op in traced])
    untraced = median([pipeline_s(j["op"]) for j in ok if not j["op"]["traced"]])
    out["medallion.reconcile"] = (stages / untraced if untraced else 0.0, "ratio")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float)
    ap.add_argument("--record")
    ap.add_argument("--perturb", action="store_true")
    ap.add_argument("--write-goldens", action="store_true")
    a = ap.parse_args()

    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src) or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        log("no engine sources here (src/main/scala, build.sbt): run from the repository root")
        return 2
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    src_rev = git_tree_hash(os.path.join(ROOT, "src")).hex()
    cp = build(build_dir, src_rev)

    t_start = time.time()
    scale = a.scale if a.scale is not None else SCALE[a.workload]
    goldens = goldens_file(a.workload, scale, a.seed)
    if a.write_goldens:
        if os.path.exists(goldens):
            os.remove(goldens)
    elif a.workload != "rerun_defect" and goldens_gen(goldens) != gen_hash():
        log(f"no goldens of the current gen.py in {os.path.relpath(goldens, ROOT)}: "
            "write them with --write-goldens")
        return 2
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    record = a.record or os.path.join(
        build_dir, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(record)), exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        gen.generate(data, scale, a.seed % DATA_SEEDS)
        xmx = heap()
        # closed loop of JVMs, one operation each, until --seconds of
        # operation time are measured; a traced run alternates untraced
        # and traced JVMs and has at least one of each
        jvms, measured, wall, retried = [], 0.0, 0.0, False
        need = 2 if a.trace else 1
        while True:
            if len(jvms) >= need and (measured >= a.seconds or a.write_goldens):
                if a.trace or a.write_goldens or retried or not all(map(disturbed, jvms)):
                    break
                retried = True
            if len(jvms) >= need and time.time() - t_start + wall > RUN_TIMEOUT_S:
                break
            traced = a.trace == 1 and len(jvms) % 2 == 1
            t0 = time.time()
            j = run_jvm(cp, a, scale, xmx, src_rev, data, work, goldens,
                        f"{record}.jvm{len(jvms)}", traced, build_dir,
                        RUN_TIMEOUT_S - (time.time() - t_start))
            if j is None:
                return 1
            wall = time.time() - t0
            j["disturbed"] = disturbed(j)
            jvms.append(j)
            measured += j["op"]["seconds"]
        failed = sum(1 for j in jvms if j["op"]["error"])
        if a.write_goldens:
            if failed:
                if os.path.exists(goldens):
                    os.remove(goldens)
            else:
                with open(goldens, "a") as f:
                    f.write(f"gen.py\t{gen_hash()}\n")
        metrics = per_layer(jvms) if a.trace else end_to_end(jvms)
        with open(record, "w") as f:
            json.dump({"stamp": jvms[0]["stamp"], "spark_conf": jvms[0]["spark_conf"],
                       "metrics": metrics, "jvms": jvms}, f, indent=1)
        print(json.dumps({
            "correct": failed == 0, "attempted": len(jvms), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_jvm(cp, a, scale, xmx, src_rev, data, work, goldens, record, traced, build_dir,
            timeout):
    """One harness JVM: set-up, one operation, its record. Returns the
    record, or None when the JVM could not produce one in `timeout` s."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xmx{xmx}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed),
              "--trace", "1" if traced else "0", "--data", data, "--work", work,
              "--record", record, "--goldens", goldens, "--cpus", str(nproc()),
              "--stamp.src_rev", src_rev, "--stamp.scale", str(scale),
              "--stamp.heap", xmx]
           + (["--perturb"] if a.perturb else [])
           + (["--write-goldens"] if a.write_goldens else []))
    log_path = os.path.join(build_dir, "logs", f"{a.workload}-{a.seed}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err)
        try:
            p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"harness timed out; log: {log_path}")
            return None
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if p.returncode != 0 or not os.path.exists(record):
        log(f"harness exited {p.returncode}; log: {log_path}")
        return None
    with open(record) as f:
        rec = json.load(f)
    os.remove(record)
    return rec


if __name__ == "__main__":
    sys.exit(main())
