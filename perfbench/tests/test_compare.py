"""Unit tests of the comparison tool (no JVM).

    python3 -m unittest discover -s perfbench/tests -p 'test_compare.py'
"""
import contextlib
import io
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import compare  # noqa: E402


def traced(seed, jobs, exchanges=3):
    return {"workload": "w", "seed": seed, "trace": 1,
            "line": {"metrics": {"exec.jobs": {"value": jobs, "unit": "count"},
                                 "plans.exchanges": {"value": exchanges,
                                                     "unit": "count"},
                                 "exec.exec_s": {"value": 1.5 + seed / 10,
                                                 "unit": "s"}}}}


def verdicts(rows):
    return {r[1]: r[-1] for r in rows}


class Counts(unittest.TestCase):
    def test_counts_are_paired_by_seed(self):
        # the seed's query order moves the job count; the same seed repeats it
        runs = [traced(1, 135), traced(1, 135), traced(2, 131)]
        rows, regressed = compare.compare(runs, runs, compare.bounds())
        self.assertFalse(regressed)
        self.assertEqual(verdicts(rows)["exec.jobs"], "same")
        self.assertEqual(verdicts(rows)["plans.exchanges"], "same")

    def test_a_changed_count_for_the_same_seed_differs(self):
        rows, regressed = compare.compare([traced(1, 135)], [traced(1, 136)],
                                          compare.bounds())
        self.assertTrue(regressed)
        self.assertEqual(verdicts(rows)["exec.jobs"], "DIFFERS")

    def test_a_count_that_does_not_repeat_within_a_seed_is_not_compared(self):
        base = [traced(1, 126), traced(1, 122)]
        rows, regressed = compare.compare(base, [traced(1, 122)], compare.bounds())
        self.assertFalse(regressed)
        self.assertEqual(verdicts(rows)["exec.jobs"], "does not repeat")
        self.assertEqual(verdicts(rows)["plans.exchanges"], "same")

    def test_no_common_seed_is_not_a_verdict(self):
        rows, regressed = compare.compare([traced(1, 135)], [traced(2, 131)],
                                          compare.bounds())
        self.assertFalse(regressed)
        self.assertEqual(verdicts(rows)["exec.jobs"], "no common seed")

    def test_committed_traced_runs_compared_with_themselves_do_not_differ(self):
        results = os.path.join(HERE, "results")
        for f in sorted(os.listdir(results)):
            if not f.startswith("traced_"):
                continue
            path = os.path.join(results, f)
            with self.subTest(file=f):
                out = io.StringIO()
                with contextlib.redirect_stdout(out):
                    rc = compare.main(["compare.py", path, path])
                self.assertEqual(rc, 0, out.getvalue())
                self.assertNotIn("DIFFERS", out.getvalue())
                self.assertIn("same", out.getvalue())


if __name__ == "__main__":
    unittest.main()
