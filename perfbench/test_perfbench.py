#!/usr/bin/env python3
"""Self-tests of the benchmark. They run perfbench/run.py twice on the
cheapest workload, with a one-second floor on the timed window, and once
without the program sources, so the whole file takes a few minutes.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD = "beam_core"
sys.path.insert(0, HERE)
import run as perfbench  # noqa: E402


def run(*args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, "--workload", WORKLOAD, "--seconds", "1", *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return p.returncode, p.stdout


def result(*args):
    code, out = run(*args)
    assert code == 0, f"run.py {args} exited with {code}"
    return json.loads(out.strip().splitlines()[-1])


def raw_record(seed, trace):
    with open(os.path.join(HERE, ".out", "artifacts", f"{WORKLOAD}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)["raw"]


def fingerprints(seed, trace):
    samples = raw_record(seed, trace)["fingerprint_pass"]["samples"]
    return {s["pipeline"]: (s["rows"], s["fingerprint"]) for s in samples}


class PerfBenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)
        cls.untraced = result("--seed", "101", "--trace", "0")
        cls.traced = result("--seed", "202", "--trace", "1")

    def assert_metrics(self, res, declared):
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         {m["name"]: m["unit"] for m in declared})
        for v in res["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_printed_metric_names_match_benchmark_json(self):
        self.assert_metrics(self.untraced, self.spec["end_to_end"])
        self.assert_metrics(self.traced, self.spec["per_layer"])

    def test_outputs_are_correct(self):
        for res in (self.untraced, self.traced):
            self.assertTrue(res["correct"])
            self.assertEqual(res["failed"], 0)
            self.assertGreater(res["attempted"], 0)

    def test_two_seeds_give_identical_fingerprints(self):
        a, b = fingerprints(101, 0), fingerprints(202, 1)
        self.assertEqual(len(a), 20)
        self.assertEqual(a, b)

    def test_corrupted_reference_is_reported_as_failure(self):
        with open(perfbench.REFS) as fh:
            refs = json.load(fh)
        raw = raw_record(101, 0)
        self.assertTrue(perfbench.summarize(raw, refs, 0)[0]["correct"])
        refs["map_project"]["fingerprint"] = "1"
        refs["q1_agg"]["rows"] += 1
        res = perfbench.summarize(raw, refs, 0)[0]
        self.assertFalse(res["correct"])
        # map_project fails once (its fingerprint); q1_agg in all 6+ passes
        self.assertGreaterEqual(res["failed"], 7)

    def test_fails_without_the_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".out", "__pycache__"))
            code, out = run("--seed", "1", "--trace", "0", cwd=d,
                            script=os.path.join(d, "perfbench", "run.py"))
        self.assertNotEqual(code, 0)
        self.assertEqual(out, "")


if __name__ == "__main__":
    unittest.main()
