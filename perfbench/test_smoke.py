"""Smoke tests of the benchmark itself (sf0.001, a short feed).

    python3 -m unittest perfbench/test_smoke.py     # from the repository root

Each workload runs once in smoke mode; the result line must name every
metric of BENCHMARK.json with its unit, and no operation may fail. Every
end-to-end metric must be above 0 on every workload, and every per-layer
metric must differ from 0 on at least one workload's traced run (`spill.mb`
excepted: nothing spills at these scales). The benchmark must also refuse
to run, without printing a result, from a directory that holds only
BENCHMARK.json and the benchmark's own files.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace=0, cwd=ROOT, timeout=900):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=cwd, capture_output=True, text=True, timeout=timeout)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace, wanted):
        code, out, err = run(workload, trace)
        self.assertEqual(code, 0, err[-3000:])
        result = json.loads(out[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], err[-3000:])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
        return {name: got["value"] for name, got in result["metrics"].items()}

    def test_workloads_end_to_end(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                values = self.check(w["name"], 0, BENCH["end_to_end"])
                for name, v in values.items():
                    self.assertGreater(v, 0, name)

    def test_traced_run_reports_every_layer(self):
        runs = {w["name"]: self.check(w["name"], 1, BENCH["per_layer"])
                for w in BENCH["workloads"]}
        for m in BENCH["per_layer"]:
            name = m["name"]
            values = [v[name] for v in runs.values()]
            if name != "trace.overhead_frac":  # the only one that may be negative
                self.assertTrue(all(v >= 0 for v in values), f"{name}: {values}")
            if name != "spill.mb":
                self.assertTrue(any(v != 0 for v in values), f"{name} is 0 on every workload")

    def test_refuses_to_run_without_the_repository(self):
        bare = os.path.join(ROOT, ".perfbench", "bare-" + uuid.uuid4().hex)
        try:
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            code, out, _ = run(BENCH["workloads"][0]["name"], cwd=bare, timeout=170)
            self.assertNotEqual(code, 0)
            self.assertEqual(out, [])
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
