"""Self-tests of the benchmark's own machinery.

    python3 -m unittest discover -s benchmark/tests

The JVM-side checks (the oracle checker flags a one-ulp score change, the
seed fixes the corpus and the query stream) run through `run.py --selftest`,
which builds the engine first; that test is skipped where no Spark
installation is found.
"""

import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import report  # noqa: E402
import run  # noqa: E402


def fake_record(traced):
    """A run record shaped like the JVM's, with small made-up numbers."""
    ops = []
    for i in range(40):
        ops.append({"id": "op%d" % i, "cls": report.CLASSES[i % 7], "k": 10,
                    "plan_ms": 10.0 + i, "exec_ms": 100.0 + 2 * i, "ok": True,
                    "traced": traced and i % 4 != 3,
                    "acc": [50, 25, 3] if traced and i % 4 != 3 else []})
    groups = {}
    if traced:
        for o in ops:
            groups[o["id"] + ".query.exec"] = {"jobs": 2, "stages": 3, "tasks": 9,
                                              "input_bytes": 1000, "input_rows": 10}
        groups["setup0.index.build"] = {"task_ms": 8000, "stages": 12, "task_skew": 1.5}
    return {
        "setups": [{"total_s": 20.0, "build_s": 10.0, "open_ms": 150.0, "first_ms": 500.0,
                    "group": "setup0"}],
        "ops": ops, "window_s": 20.0, "cpus": 4, "heap_live_mb": 80.0,
        "gc_window_ms": 120, "check_s": 4.0,
        "index": {"postings": 1000, "terms": 300, "segments": 500, "content_bytes": 4000,
                  "bytes": {"postings": 1500, "dict": 500, "docs": 400, "dlens": 100}},
        "write": None, "groups": groups,
        "host": {"cores": 4, "external_busy_cores": 0.1, "own_cores": 3.0},
        "attempted": 41, "failed": 0, "failures": [],
    }


class PercentileRule(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {9: None, 19: None, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0,
                 100: 90.0, 199: 90.0, 200: 95.0, 1000: 99.0, 10000: 99.9}
        for n, want in cases.items():
            self.assertEqual(report.supported_percentile(n), want, "n=%d" % n)

    def test_interpolated_percentiles(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(report.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(report.percentile(xs, 75), 75.25)
        self.assertEqual(report.percentile([7.0], 90), 7.0)
        self.assertEqual(report.percentile([], 50), 0.0)

    def test_sample_count_is_reported(self):
        rec = fake_record(traced=True)
        m = report.result(rec, traced=True)["metrics"]
        self.assertEqual(m["query.samples"]["value"], len(rec["ops"]))


class MetricSpec(unittest.TestCase):

    def test_names_follow_the_grammar(self):
        grammar = re.compile(r"^[A-Za-z0-9_.-]+$")
        for name, *_ in report.END_TO_END + report.PER_LAYER:
            self.assertRegex(name, grammar)
            self.assertRegex(name, report.NAME_RE)
        for bad in ("query p50", "p50/ms", "_lead", "", "x" * 65):
            self.assertIsNone(report.NAME_RE.match(bad), bad)

    def test_spec_is_valid_and_within_caps(self):
        self.assertEqual(report.validate_spec(), [])
        self.assertLessEqual(len(report.END_TO_END), 16)
        self.assertLessEqual(len(report.PER_LAYER), 128)

    def test_caps_are_enforced(self):
        saved = report.END_TO_END, report.PER_LAYER
        try:
            report.END_TO_END = [("m%d" % i, "s", "lower") for i in range(17)]
            report.PER_LAYER = [("l%d" % i, "ms") for i in range(129)]
            problems = report.validate_spec()
        finally:
            report.END_TO_END, report.PER_LAYER = saved
        self.assertEqual(len(problems), 2, problems)

    def test_every_metric_printed_with_its_unit(self):
        for traced, spec in ((False, report.END_TO_END), (True, report.PER_LAYER)):
            res = report.result(fake_record(traced), traced)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(list(res["metrics"]), [m[0] for m in spec])
            for (name, unit, *_) in spec:
                got = res["metrics"][name]
                self.assertEqual(got["unit"], unit, name)
                self.assertIsInstance(got["value"], float, name)
            json.dumps(res)

    def test_failures_make_the_run_incorrect(self):
        rec = fake_record(traced=False)
        rec["failed"] = 1
        res = report.result(rec, traced=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)

    def test_benchmark_json_matches_the_spec(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], report.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], run.WORKLOADS)
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25, m["name"])
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class SelfTimes(unittest.TestCase):

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "name": "query", "start_ns": 0, "end_ns": 10_000_000},
                 {"id": 1, "parent": 0, "name": "query.plan", "start_ns": 0, "end_ns": 3_000_000},
                 {"id": 2, "parent": 0, "name": "query.exec", "start_ns": 3_000_000,
                  "end_ns": 9_000_000}]
        self.assertEqual(report.self_times(spans),
                         {"query": 1.0, "query.plan": 3.0, "query.exec": 6.0})


@unittest.skipUnless(os.environ.get("SPARK_HOME") or shutil.which("spark-submit"),
                     "no Spark installation")
class JvmSelfTest(unittest.TestCase):

    def test_checker_and_seeds(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--selftest"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertIn("a 1-ulp change of score 0 is flagged", p.stdout)
        self.assertIn("SELFTEST OK", p.stdout)


if __name__ == "__main__":
    unittest.main()
