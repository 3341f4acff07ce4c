"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests

HarnessGates compiles the program (once per source hash) and runs the
harness's own gate checks: corrupted golden rows and fingerprints must be
counted as failures.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_with(metrics, **kw):
    r = {"correct": True, "attempted": 10, "failed": 0,
         "metrics": {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in metrics}}
    r.update(kw)
    return r


class MetricNames(unittest.TestCase):

    def test_declared_end_to_end_metrics_pass(self):
        s = spec()
        self.assertEqual(run.check_result(result_with(s["end_to_end"]), s, trace=False), [])

    def test_declared_per_layer_metrics_pass(self):
        s = spec()
        self.assertEqual(run.check_result(result_with(s["per_layer"]), s, trace=True), [])

    def test_missing_metric_is_refused(self):
        s = spec()
        r = result_with(s["end_to_end"][1:])
        self.assertTrue(any("missing" in p for p in run.check_result(r, s, trace=False)))

    def test_undeclared_metric_is_refused(self):
        s = spec()
        r = result_with(s["end_to_end"])
        r["metrics"]["made_up"] = {"value": 1.0, "unit": "s"}
        self.assertTrue(any("not declared" in p for p in run.check_result(r, s, trace=False)))

    def test_wrong_unit_is_refused(self):
        s = spec()
        r = result_with(s["end_to_end"])
        first = s["end_to_end"][0]["name"]
        r["metrics"][first]["unit"] = "furlongs"
        self.assertTrue(any(first in p for p in run.check_result(r, s, trace=False)))

    def test_every_declared_name_is_emitted_by_the_harness(self):
        # the reverse direction (nothing undeclared is printed) is enforced
        # by run.py on every run, through check_result
        src = os.path.join(BENCH, "src", "main", "scala", "perfbench")
        text = "".join(open(os.path.join(src, f)).read() for f in os.listdir(src))
        s = spec()
        for m in s["end_to_end"] + s["per_layer"]:
            base = m["name"]
            for q in ("html", "dialect_pdf", "real_pdf"):
                base = base.replace("kernel.%s." % q, "kernel.$c.")
            if base.startswith("kernel.$c.us_p") and base != "kernel.$c.us_p50":
                base = "kernel.$c.us_p${q * 100}%.0f"
            if base.startswith("ops."):
                base = "ops.$q." + base.split(".", 2)[2]
            self.assertIn('"%s"' % base, text, m["name"])


class Workloads(unittest.TestCase):

    def test_unknown_workload_is_a_hard_error(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "no_such_workload",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")
        self.assertIn("unknown workload", r.stderr)

    def test_workloads_match_the_harness(self):
        names = [w["name"] for w in spec()["workloads"]]
        main = open(os.path.join(BENCH, "src", "main", "scala", "perfbench", "Main.scala")).read()
        self.assertIn('Seq(%s)' % ", ".join('"%s"' % n for n in names), main)


class HarnessGates(unittest.TestCase):

    def test_selftest(self):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
        self.assertIn("selftest passed", r.stdout)
        self.assertIn("a corrupted text and span count are two failures", r.stdout)
        self.assertIn("a corrupted fingerprint is a failure", r.stdout)


if __name__ == "__main__":
    unittest.main()
