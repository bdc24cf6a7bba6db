"""Self-test of the benchmark at sf0.001 (a few minutes; builds first if
needed).

Run from the root of a checkout:
  python3 -m unittest discover -s perfbench/tests -v

It checks that every metric BENCHMARK.json names is printed with its unit,
that an injected failing operation raises failed_frac, that a corrupted
pinned digest is caught, and that in a traced query the spans' self times
sum to the query's wall time within spans.TOLERANCE (and that a misplaced
or overlapping span makes that check fail).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import spans  # noqa: E402

SF = "0.001"
QUERIES = "q20_agg_hash,q50_string_funcs,q62_session_window"


def run(*extra, workload="batch_sf0.1", trace=0):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
           workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--sf", SF, "--setups", "2", *extra]
    if workload != "stream_ingest":
        cmd += ["--queries", QUERIES]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["provenance"]


class SelfTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.pins = os.path.join(cls.tmp.name, "pins.json")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.bench = json.load(f)
        # pin this scale's digests first (the committed pins are sf0.1)
        run("--write-pins", cls.pins)
        run("--write-pins", cls.pins, workload="stream_ingest")

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def assert_metrics(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(result["metrics"]), {s["name"] for s in specs})
        for s in specs:
            m = result["metrics"][s["name"]]
            self.assertEqual(m["unit"], s["unit"], s["name"])
            self.assertIsInstance(m["value"], float, s["name"])

    def test_end_to_end_metrics_printed_with_units(self):
        for workload in ("batch_sf0.1", "stream_ingest"):
            result, prov = run("--pins", self.pins, workload=workload)
            self.assertTrue(result["correct"], workload)
            self.assertEqual(result["failed"], 0)
            self.assertEqual(prov["failed_frac"], 0.0)
            for key in ("k", "master", "jvm", "spark", "git_head", "seed",
                        "fixture_fingerprint"):
                self.assertIn(key, prov)
            self.assert_metrics(result, self.bench["end_to_end"])

    def test_injected_failure_raises_failed_frac(self):
        result, prov = run("--pins", self.pins, "--inject-failure")
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(prov["failed_frac"], 0.0)
        self.assertFalse(prov["cold_pass_valid"])

    def test_corrupted_pin_is_caught(self):
        with open(self.pins) as f:
            pins = json.load(f)
        at_sf = pins["by_sf"][SF]
        rows, digest = at_sf["q50_string_funcs"].split(":")
        at_sf["q50_string_funcs"] = f"{rows}:{int(digest) + 1}"
        bad = os.path.join(self.tmp.name, "bad.json")
        with open(bad, "w") as f:
            json.dump(pins, f)
        result, prov = run("--pins", bad)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)

    def test_traced_run_reports_layers_and_self_times_add_up(self):
        result, prov = run("--pins", self.pins, trace=1)
        self.assertTrue(result["correct"])
        self.assert_metrics(result, self.bench["per_layer"])
        self.assertTrue(prov["span_self_time_within_tolerance"])
        tree = spans.load(os.path.join(ROOT, ".bench_build", "run", "spans.jsonl"))
        roots = [s for s in tree if s["name"] == "query"]
        self.assertGreater(len(roots), 0)
        names = {s["name"] for s in tree}
        for child in ("operators.build", "plans.plan", "exec.action",
                      "checkpoints.sweep", "exec.job", "exec.stage"):
            self.assertIn(child, names)
        selfs = spans.self_times(tree)
        self.assertLessEqual(selfs["check"], spans.TOLERANCE)
        # per query: self times sum to the wall time, up to the clock
        # resolution of the listener spans
        by_parent = {}
        for s in tree:
            by_parent.setdefault(s["parent"], []).append(s)
        for r in roots:
            sub, stack = [], [r]
            while stack:
                s = stack.pop()
                sub.append(s)
                stack.extend(by_parent.get(s["id"], []))
            wall = (r["end_ns"] - r["start_ns"]) / 1e6
            total = sum(spans.self_times(sub)["by_name"].values())
            n_listener = sum(s["name"] in spans.LISTENER for s in sub)
            self.assertLessEqual(abs(total - wall), spans.TOLERANCE * wall
                                 + 2 * spans.CLOCK_MS * n_listener)
        # a job moved out of the span that started it is caught
        job = next(s for s in tree if s["name"] == "exec.job")
        moved = [dict(s) for s in tree]
        for s in moved:
            if s["id"] == job["id"]:
                shift = max(r["end_ns"] for r in roots) - s["start_ns"] + 50_000_000
                s["start_ns"] += shift
                s["end_ns"] += shift
        self.assertFalse(spans.self_times(moved)["within_tolerance"])

    def test_span_check_fails_on_misplaced_or_overlapping_spans(self):
        ms = 1_000_000

        def tree(*jobs):
            base = [{"id": 1, "parent": 0, "name": "query", "start_ns": 0, "end_ns": 100 * ms},
                    {"id": 2, "parent": 1, "name": "exec.action", "start_ns": 10 * ms, "end_ns": 90 * ms}]
            return base + [{"id": 3 + i, "parent": 2, "name": "exec.job",
                            "start_ns": a * ms, "end_ns": b * ms}
                           for i, (a, b) in enumerate(jobs)]

        ok = spans.self_times(tree((20, 40), (45, 80)))
        self.assertTrue(ok["within_tolerance"])
        self.assertAlmostEqual(sum(ok["by_name"].values()), 100.0)
        outside = spans.self_times(tree((20, 40), (70, 130)))
        self.assertFalse(outside["within_tolerance"])
        self.assertAlmostEqual(outside["outside_ms"], 40.0)
        overlap = spans.self_times(tree((20, 60), (40, 80)))
        self.assertFalse(overlap["within_tolerance"])
        self.assertAlmostEqual(overlap["overlap_ms"], 20.0)


if __name__ == "__main__":
    unittest.main()
