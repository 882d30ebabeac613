#!/usr/bin/env python3
"""The benchmark's own test: every workload in tiny mode, untraced and
traced, through the same launcher the benchmark runs.

    python3 perfbench/test_tiny.py

Checks that each run ends with the result line BENCHMARK.json promises,
that every output check holds, and that the only failing operation is the
known ICE check of build_vendor_skew (one per run). Traced runs must fill
the spans each workload calls, and find the steps the traced build restates
unchanged in the engine.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} exited {r.returncode}:\n{r.stdout[-3000:]}\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stdout


class TinyRuns(unittest.TestCase):

    def check(self, workload, trace):
        res, out = run(workload, trace)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], out)
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 1 if workload == "build_vendor_skew" else 0, out)
        want = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
        for m in want:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))
            if not trace:
                self.assertGreater(got["value"], 0)
        return res

    def test_untraced(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0)

    def test_traced(self):
        spans = {"build_vendor_skew": ["run.extract", "run.mentions", "run.canonicalize", "link.entities",
                                       "link.edges", "canon.cc", "canon.map", "graph.commit", "graph.read"],
                 "serve_increment_lookup": ["run.increment", "graph.compact", "graph.lookup", "graph.read"],
                 "analytics_sf001": ["entry.q96_setsim_join", "entry.q198_freq_itemsets"]}
        for w, names in spans.items():
            with self.subTest(workload=w):
                res = self.check(w, 1)
                for n in names + ["fixtures.generate"]:
                    self.assertGreater(res["metrics"][n + "_s"]["value"], 0, n)
                    self.assertGreater(res["metrics"][n + ".jobs"]["value"], 0, n)
                    self.assertGreater(res["metrics"][n + ".rows"]["value"], 0, n)
                self.assertEqual(res["metrics"]["trace.copy_drift"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
