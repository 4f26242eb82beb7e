"""End-to-end tests of the benchmark command; each starts JVMs.

    python3 -m unittest discover -s perfbench/tests -p 'test_runs.py'

Needs the corpus under /root/testdata (or PERFBENCH_DATA). The first
test builds the program and the harness if no build is cached.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
DATA = os.environ.get("PERFBENCH_DATA", "/root/testdata")


def run(*args):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--data", DATA, *args],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    return proc.returncode, proc.stdout, proc.stderr


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


class Runs(unittest.TestCase):
    def test_a_throwing_query_counts_as_failed(self):
        rc, out, err = run("--workload", "c360_batch", "--seed", "1",
                           "--seconds", "1", "--trace", "0", "--sf", "sf0.001",
                           "--queries", "perfbench_throws,q_agg_mode")
        self.assertEqual(rc, 0, err[-2000:])
        line = last_json(out)
        self.assertEqual((line["attempted"], line["failed"]), (2, 1))
        self.assertFalse(line["correct"])

    def test_smoke_every_workload_at_sf0_001(self):
        with open(os.path.join(HERE, "workloads.json")) as f:
            names = list(json.load(f))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            expected = {m["name"]: m["unit"] for m in bench[kind]}
            for name in names:
                with self.subTest(workload=name, trace=trace):
                    rc, out, err = run("--workload", name, "--seed", "3",
                                       "--seconds", "1", "--trace", str(trace),
                                       "--sf", "sf0.001")
                    self.assertEqual(rc, 0, err[-2000:])
                    line = last_json(out)
                    self.assertEqual(set(line), {"correct", "attempted", "failed",
                                                 "metrics"})
                    self.assertTrue(line["correct"], err[-2000:])
                    self.assertEqual(line["failed"], 0)
                    self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                                     expected)


if __name__ == "__main__":
    unittest.main()
