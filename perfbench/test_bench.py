"""Checks of the benchmark itself (not of graft): the metric names match
BENCHMARK.json, listener counts repeat exactly from pass to pass, and a
directory without the engine's sources fails without printing a result.

    python3 perfbench/test_bench.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout


class BenchTest(unittest.TestCase):
    def result(self, workload, trace):
        rc, out = run(workload, trace)
        self.assertEqual(rc, 0)
        r = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        return r["metrics"]

    def test_end_to_end_names_and_units(self):
        m = self.result("ts_surface", 0)
        self.assertEqual({k: v["unit"] for k, v in m.items()},
                         {e["name"]: e["unit"] for e in SPEC["end_to_end"]})
        self.assertTrue(all(v["value"] > 0 for v in m.values()))

    def test_traced_counts_repeat(self):
        # a traced run has two traced passes; their job and stage counts
        # must agree exactly, and every job must belong to a call
        for workload in ("ts_surface", "stream_replay"):
            m = self.result(workload, 1)
            self.assertEqual({k: v["unit"] for k, v in m.items()},
                             {e["name"]: e["unit"] for e in SPEC["per_layer"]})
            self.assertGreater(m["exec.jobs"]["value"], 0)
            self.assertEqual(m["exec.jobs_pass_spread"]["value"], 0)
            self.assertEqual(m["exec.stages_pass_spread"]["value"], 0)
            self.assertEqual(m["exec.unattributed_jobs"]["value"], 0)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(BENCH, ".work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "ts_surface",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
        shutil.rmtree(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
