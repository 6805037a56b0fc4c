"""Smoke run of each workload on sf0.001-sized inputs: the command must
succeed, print every end-to-end metric that applies to the workload by
name and unit, and end with the JSON result holding every per-layer
metric of BENCHMARK.json. Builds the benchmark on first use (slow).

    python3 -m unittest perfbench/tests/test_smoke.py   (from the repo root)
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

COMMON = ["setup_s", "op_p50_ms", "op_p90_ms", "ops_per_s", "cpu_ms_per_op",
          "failed_op_ratio", "live_heap_mb"]
EXTRA = {"scan_analytics": [],
         "table_upsert": ["rows_per_s", "write_amp", "space_amp", "merge_p50_ms",
                          "lookup_p50_ms"],
         "stream_ingest": ["rows_per_s", "write_amp"]}
# input scale multipliers that put every workload on sf0.001-sized data
SCALE = {"scan_analytics": "0.1", "table_upsert": "0.1", "stream_ingest": "0.01"}


class SmokeTest(unittest.TestCase):

    def run_workload(self, workload: str):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", "1",
             "--scale", SCALE[workload]],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        self.assertIn("cores=", lines[0])
        self.assertIn("n_ops=", lines[0])
        printed = {ln.split()[0]: ln.split()[-1] for ln in lines[1:-1] if ln.startswith("  ")}
        for name in COMMON + EXTRA[workload]:
            self.assertIn(name, printed, f"{workload} did not print {name}")
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec["per_layer"]})
        return result["metrics"]

    def test_scan_analytics(self):
        m = self.run_workload("scan_analytics")
        self.assertGreater(m["queries.exec.jobs"]["value"], 0)
        self.assertEqual(m["unattributed_jobs"]["value"], 0)

    def test_table_upsert(self):
        m = self.run_workload("table_upsert")
        self.assertGreater(m["tables.lookup.files_total"]["value"], 0)
        self.assertGreater(m["tables.log.commits"]["value"], 0)
        self.assertGreater(m["tables.log.checkpoints"]["value"], 0)
        self.assertGreater(m["tables.optimize.jobs"]["value"], 0)
        self.assertGreater(m["tables.optimize.files_in"]["value"], 0)
        self.assertGreater(m["queries.exec.jobs"]["value"], 0)
        self.assertEqual(m["unattributed_jobs"]["value"], 0)

    def test_stream_ingest(self):
        m = self.run_workload("stream_ingest")
        self.assertGreater(m["streaming.jobs_per_batch"]["value"], 0)
        self.assertGreater(m["text.dedup_probe.loser_ratio"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
