#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repo root:

    python3 -m unittest perfbench/test_perfbench.py

They build the program, run the JVM self-test, run every workload of
BENCHMARK.json briefly (untraced and traced) and run the benchmark in a
directory without the program. The whole file takes about five minutes on
4 cores.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args, cwd=ROOT, script=RUN):
    return subprocess.run([sys.executable, script, *args], cwd=cwd, text=True,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=900)


class PerfbenchTest(unittest.TestCase):

    def test_selftest(self):
        # seed -> corpus digest, corrupted span -> sample check fails,
        # wrong digest or row count -> query check fails
        r = bench("--selftest")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("0 failed", r.stdout)

    def check_run(self, workload, trace):
        r = bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace))
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], r.stderr[-2000:])
        self.assertEqual(result["failed"], 0)
        want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in result["metrics"].items()}, want)
        info = json.loads(lines[-2])["info"]
        for key in ("nproc", "xmx", "jdk", "spark", "cores_used"):
            self.assertIn(key, info["host"])
        self.assertEqual(info["seed"], 3)
        return info

    def test_every_metric_emitted(self):
        infos = [self.check_run(w["name"], 0) for w in SPEC["workloads"]]
        self.check_run(SPEC["workloads"][0]["name"], 1)
        extract = [i for i in infos if i["workload"] == "extract_fresh"]
        for i in extract:
            self.assertEqual(i["window"], [3 * i["input_docs"] + 1, 4 * i["input_docs"]])

    def test_fails_without_program(self):
        d = os.path.join(ROOT, ".bench_build", "perfbench-bare")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            r = bench("--workload", "extract_fresh", "--seed", "1", "--seconds", "1", "--trace", "0",
                      cwd=d, script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
