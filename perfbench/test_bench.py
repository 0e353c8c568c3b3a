#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_bench.py            # all
    python3 perfbench/test_bench.py -k planted # a subset

They build the program like a benchmark run does, then check that the load
generators behave, that planted wrong answers are caught, that the checks
pass at local[1] and local[nproc], that a rerun detects a previous run's
leftovers, and that a directory holding only the benchmark fails cleanly.
Each test runs the benchmark for one short pass, so the suite takes
several minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(*args):
    """Runs the benchmark; returns (exit code, parsed last line or None, stderr)."""
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1",
                        "--trace", "0"] + list(args), cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p.returncode, result, p.stderr


def report(stderr):
    """The full report the benchmark prints to stderr."""
    lines = stderr.splitlines()
    start = lines.index("{")
    end = len(lines) - lines[::-1].index("}")
    return json.loads("\n".join(lines[start:end]))


class BenchTest(unittest.TestCase):
    def test_generators(self):
        jars = run.spark_jars(ROOT)
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        classes = run.build(ROOT, build_dir, jars)
        p = subprocess.run(run.java_cmd(classes, jars, build_dir) + ["selftest"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        print(p.stdout)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertNotIn("FAIL", p.stdout)

    def assert_caught(self, workload):
        rc, result, err = bench("--workload", workload, "--seed", "5", "--plant-wrong")
        self.assertEqual(rc, 0, err[-3000:])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        classes = {f["class"] for f in report(err)["failures"]}
        self.assertIn("WrongAnswer", classes)

    def test_planted_wrong_answer_caught_catalog(self):
        self.assert_caught("catalog_ops")

    def test_planted_wrong_answer_caught_serving(self):
        self.assert_caught("index_serving")

    def test_checks_pass_at_one_core_and_all_cores(self):
        for cores in ["1", str(len(os.sched_getaffinity(0)))]:
            rc, result, err = bench("--workload", "index_serving", "--seed", "6", "--cores", cores)
            self.assertEqual(rc, 0, err[-3000:])
            self.assertTrue(result["correct"], report(err)["failures"][:5])
            self.assertEqual(report(err)["env"]["spark_cores"], int(cores))

    def test_rerun_detects_previous_run_files(self):
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        rc, result, err = bench("--workload", "catalog_ops", "--seed", "7")
        self.assertEqual(rc, 0, err[-3000:])
        self.assertTrue(result["correct"], report(err)["failures"][:5])
        runs = os.path.join(build_dir, "runs")
        self.assertEqual(os.listdir(runs), [], "a run left its directory behind")
        # plant what a crashed run would leave, then rerun
        os.makedirs(os.path.join(runs, "catalog_ops-7-1", "tmp"))
        rc, result, err = bench("--workload", "catalog_ops", "--seed", "7")
        self.assertEqual(rc, 0, err[-3000:])
        self.assertFalse(result["correct"])
        self.assertIn("StaleRunState", {f["class"] for f in report(err)["failures"]})
        self.assertEqual(os.listdir(runs), [])

    def test_fails_cleanly_without_the_program(self):
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build_dir) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "catalog_ops",
                                "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=d,
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main(verbosity=2)
