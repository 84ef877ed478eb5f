#!/usr/bin/env python3
"""The benchmark's own tests: tiny-size runs of every workload.

    python3 -m unittest perfbench/test_perfbench.py -v

Each workload runs once at sf 0.001 with a few ops and must print every
end-to-end metric of BENCHMARK.json, in the report and in the JSON line,
with every op correct. A run with one result replaced by a wrong one must
count that op as failed. A traced run must print every per-layer metric.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload, trace=0, inject_wrong=0):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
         "--inject-wrong", str(inject_wrong)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


class TinyRuns(unittest.TestCase):

    def test_every_end_to_end_metric_is_printed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                report, res = run(w)
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                for m in BENCH["end_to_end"]:
                    self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
                    self.assertTrue(any(l.split()[:2] == ["metric", m["name"]] for l in report),
                                    m["name"])
                self.assertEqual(set(res["metrics"]), {m["name"] for m in BENCH["end_to_end"]})

    def test_wrong_result_counts_as_failed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                _, res = run(w, inject_wrong=1)
                self.assertFalse(res["correct"])
                self.assertGreaterEqual(res["failed"], 1)

    def test_traced_run_prints_every_layer_metric(self):
        _, res = run("facade_mixed", trace=1)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in BENCH["per_layer"]})
        self.assertGreater(res["metrics"]["graph.match_ms"]["value"], 0)
        self.assertGreater(res["metrics"]["sql.parse_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
