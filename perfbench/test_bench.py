#!/usr/bin/env python3
"""The benchmark harness's own tests.

    python3 perfbench/test_bench.py          (from the repository root)

Runs every workload briefly at sf0.001 through run.py, exactly as the
benchmark command does, and checks the result lines against BENCHMARK.json:
every end-to-end and per-layer metric appears with its unit, and a
deliberately corrupted golden turns into counted failures. It also
carries a known engine defect as an expected failure, so a fix in the
engine shows up here as an unexpected success. Takes a few minutes: each
JVM run starts cold.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import ledger_diff  # noqa: E402
import run as bench  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace=0, *extra):
    """One brief run at sf0.001; returns (exit code, result or None, record)."""
    record = os.path.join(tempfile.mkdtemp(), "record.json")
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.001", "--record", record, *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    rec = None
    if os.path.exists(record):
        with open(record) as f:
            rec = json.load(f)
    return p.returncode, result, rec


class Contract(unittest.TestCase):
    def test_benchmark_json_shape(self):
        self.assertEqual(set(BENCH), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        names = [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        for m in BENCH["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for w in BENCH["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_generator_is_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 0.001, 3)
            b = gen.generate(os.path.join(d, "b"), 0.001, 3)
            c = gen.generate(os.path.join(d, "c"), 0.001, 4)
            for t in ("orders", "customer", "documents", "embeddings"):
                with open(os.path.join(d, "a", f"{t}.parquet"), "rb") as f:
                    fa = f.read()
                with open(os.path.join(d, "b", f"{t}.parquet"), "rb") as f:
                    self.assertEqual(fa, f.read(), t)
            self.assertEqual(a, b)
            # another seed changes values, never row counts
            self.assertNotEqual(a["kpis"], c["kpis"])
            self.assertEqual(a["quality"], c["quality"])

    def test_goldens_cover_every_data_seed(self):
        # every input a run can generate at its workload's scale, and the
        # sf0.001 medallion input the smoke tests use (seed 7)
        inputs = [(w, bench.SCALE[w], s) for w in ("medallion", "analytics")
                  for s in range(bench.DATA_SEEDS)] + [("medallion", 0.001, 7)]
        for w, scale, seed in inputs:
            with self.subTest(workload=w, scale=scale, seed=seed):
                self.assertEqual(bench.goldens_gen(bench.goldens_file(w, scale, seed)),
                                 bench.gen_hash())

    def test_ledger_diff_flags_counters_apart_from_timings(self):
        def rec(tasks, secs):
            return {"stamp": {"seed": "1"}, "jvms": [{"op": {
                "error": None, "ledger": {"spark.tasks": tasks, "gold.write_s": secs}}}]}
        lines, changed = ledger_diff.diff(rec(10, 1.0), rec(10, 1.5), 0.05)
        self.assertFalse(changed)
        self.assertTrue(any(l.startswith("measure") for l in lines))
        lines, changed = ledger_diff.diff(rec(10, 1.0), rec(12, 1.0), 0.05)
        self.assertTrue(changed)
        self.assertTrue(any(l.startswith("COUNTER") for l in lines))


class Smoke(unittest.TestCase):
    def check_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in spec}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)

    def test_workloads_report_every_metric(self):
        for w in BENCH["workloads"]:
            for trace, spec in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    code, result, rec = run(w["name"], trace)
                    self.assertEqual(code, 0)
                    self.assertTrue(result["correct"], [j["op"]["error"] for j in rec["jvms"]])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1 + trace)
                    self.check_metrics(result, spec)
                    for k in ("nproc", "xmx", "jvm", "seed", "src_rev"):
                        self.assertIn(k, rec["stamp"])
                    self.assertTrue(rec["spark_conf"])

    def test_corrupted_golden_is_a_counted_failure(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                code, result, _ = run(w["name"], 0, "--perturb")
                self.assertEqual(code, 0)
                self.assertFalse(result["correct"])
                self.assertEqual(result["failed"], result["attempted"])


class KnownDefects(unittest.TestCase):
    """Pipeline.run a second time into the same output dir, in the same
    session: the CacheOnce memo hands back the first run's unpersisted fact
    frame, which still points at the overwritten silver files
    (FAILED_READ_FILE). The medallion workload therefore uses a fresh
    session per run, as a scheduled run is deployed anyway."""

    @classmethod
    def setUpClass(cls):
        cls.code, cls.result, cls.rec = run("rerun_defect")

    def test_rerun_fails_only_with_the_recorded_defect(self):
        self.assertEqual(self.code, 0)
        if self.result["failed"]:
            self.assertEqual(self.result["failed"], self.result["attempted"])
            for j in self.rec["jvms"]:
                self.assertIn("FAILED_READ_FILE", j["op"]["error"])

    @unittest.expectedFailure
    def test_pipeline_run_twice_in_one_session(self):
        self.assertTrue(self.result["correct"])


if __name__ == "__main__":
    unittest.main(verbosity=2)
