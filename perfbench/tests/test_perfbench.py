"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The smoke tests build the harness if needed and run each workload for a few
seconds on the tiny seeded fixture (about a minute each).
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import compare  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from workloads import SERVE_MIX, WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Names(unittest.TestCase):
    def test_names_match_the_pattern(self):
        s = spec()
        names = ([w["name"] for w in s["workloads"]] +
                 [m["name"] for m in s["end_to_end"] + s["per_layer"]])
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_spec_lists_what_run_emits(self):
        s = spec()
        self.assertLessEqual({w["name"] for w in s["workloads"]},
                             set(WORKLOADS))
        self.assertEqual([m["name"] for m in s["end_to_end"]], run.END_TO_END)
        self.assertEqual([m["name"] for m in s["per_layer"]],
                         run.per_layer_names())
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertEqual(m["unit"], run.unit(m["name"]), m["name"])


class Workloads(unittest.TestCase):
    def test_serve_warm_keeps_its_whole_mix(self):
        self.assertEqual(WORKLOADS["serve_warm"]["ops"], SERVE_MIX)
        self.assertEqual(len(set(SERVE_MIX)), 18)


class Percentile(unittest.TestCase):
    def test_refuses_fewer_than_ten_beyond(self):
        with self.assertRaises(ValueError):
            stats.percentile(list(range(99)), 90)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 50)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertEqual(stats.percentile(list(range(100, 0, -1)), 50), 50)


class Verdict(unittest.TestCase):
    M = {"name": "batch_s", "better": "lower", "bound": 0.1}
    PARENT = [10.0 + 0.1 * i for i in range(10)]

    def test_better_needs_nine_tenths_and_a_gap(self):
        change = [p - 2 for p in self.PARENT]
        self.assertEqual(compare.verdict(self.M, self.PARENT, change),
                         ("better", 10))

    def test_worse_beyond_the_bound(self):
        change = [p * 1.2 for p in self.PARENT]
        self.assertEqual(compare.verdict(self.M, self.PARENT, change)[0],
                         "worse")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        parent = [8, 12, 9, 11, 10, 8, 12, 9, 11, 10]
        change = [10.2, 11.5, 8.5, 10.8, 9.5, 8.3, 12.1, 9.6, 10.4, 10.1]
        self.assertEqual(compare.verdict(self.M, parent, change)[0],
                         "unresolved")

    def test_ties_count_for_neither_side(self):
        self.assertEqual(compare.verdict(self.M, self.PARENT, self.PARENT),
                         ("same", 0))

    def test_no_gain_while_failing_more_ops(self):
        change = [p - 2 for p in self.PARENT]
        self.assertEqual(compare.verdict(self.M, self.PARENT, change,
                                         more_failures=True)[0], "unresolved")


class RunOnce(unittest.TestCase):
    """compare.run_once on stand-in commands that exit like run.py does."""

    def outcome(self, body):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "fake.py"), "w") as f:
                f.write("import json, sys\n" + body)
            spec = {"command": [sys.executable, "fake.py"], "run_seconds": 1}
            return compare.run_once(d, spec, "w", 1)

    def test_a_run_with_failed_ops_keeps_its_metrics(self):
        o = self.outcome(
            'print(json.dumps({"correct": False, "attempted": 10, "failed": 2,'
            ' "metrics": {"batch_s": {"value": 1.5, "unit": "s"}}}))\n'
            "sys.exit(1)\n")
        self.assertEqual(o, {"metrics": {"batch_s": 1.5}, "failed": 2,
                             "attempted": 10, "timed_out": False})

    def test_a_timed_out_run_is_marked(self):
        o = self.outcome(f"sys.exit({compare.TIMED_OUT})\n")
        self.assertTrue(o["timed_out"])
        self.assertIsNone(o["metrics"])


def smoke(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny"], cwd=ROOT, capture_output=True, text=True,
        timeout=600)
    return r, r.stdout.strip().splitlines()


class Smoke(unittest.TestCase):
    def check(self, workload, trace, names):
        r, lines = smoke(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(list(out["metrics"]), names)
        for n in names:
            self.assertEqual(out["metrics"][n]["unit"], run.unit(n))
            # the human-readable line: name, value, unit, sample count
            self.assertTrue(any(re.match(rf"{re.escape(n)} \S+ "
                                         rf"{re.escape(run.unit(n))} n=\d+$", l)
                                for l in lines[:-1]), n)

    def test_migrate_end_to_end(self):
        self.check("migrate", 0, run.END_TO_END)

    def test_serve_per_layer(self):
        self.check("serve_warm_subset", 1, run.per_layer_names())


class Standalone(unittest.TestCase):
    def test_fails_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "migrate", "--seed", "1", "--seconds", "1"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
