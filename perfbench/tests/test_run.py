"""Unit tests for run.py.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402

# End-to-end metrics the full report must carry, by workload.
REPORTED_END_TO_END = {
    "ledger_api": ["setup_s", "failed_ratio", "peak_rss_mb", "wallets_per_s",
                   "ingest_p50_ms", "normalize_p50_ms", "read_p50_ms", "read_p95_ms",
                   "reads_per_s"],
    "batch": ["setup_s", "failed_ratio", "peak_rss_mb", "pass_s"],
}


def op(name, phase, ms, ident=None, traced=False):
    return {"id": ident or f"{name}-{ms}", "layer": "api", "name": name, "phase": phase,
            "ms": ms, "ok": True, "bytes": 10, "traced": traced}


def raw_ledger(reads=240):
    ops = [op("ingest", "write", 800.0 + i) for i in range(3)]
    ops += [op("normalize", "write", 1900.0 + i) for i in range(3)]
    ops += [op("read_ledger" if i % 2 else "read_transactions", "read", 300.0 + i % 17)
            for i in range(reads)]
    return {"workload": "ledger_api", "setup_cpu_s": [20.0, 5.0, 4.5],
            "setup_wall_s": [25.0, 6.0, 5.0], "first_ready_s": 31.0,
            "vm_hwm_kb": 1_500_000, "attempted": len(ops), "failed": 0, "ops": ops,
            "extra": {"write_phase_s": 8.5, "read_phase_s": 9.0, "write_cpu_s": 12.0,
                      "read_cpu_s": 24.0}, "layers": {}}


def raw_batch():
    ops = []
    for p in range(3):
        for q in ("a", "b"):
            ops.append(dict(op(q, f"pass-{p}", 400.0 + p, f"p{p}/{q}/construct"), layer="M"))
            ops.append(dict(op(q, f"pass-{p}", 600.0 + p, f"p{p}/{q}/execute"), layer="M"))
    return {"workload": "batch", "setup_cpu_s": [25.0, 7.0, 6.8],
            "setup_wall_s": [30.0, 8.0, 7.5], "first_ready_s": 50.0,
            "vm_hwm_kb": 1_400_000, "attempted": len(ops), "failed": 0, "ops": ops,
            "extra": {"pass_s": [2.1, 2.0, 2.2], "pass_traced": [False] * 3,
                      "pass_cpu_s": [3.0, 2.5, 4.0], "pass_execute_cpu_s": [1.2, 1.0, 1.4]},
            "layers": {"spark.jobs": 10.0, "op.self_ms": 12.5, "spark.cpu_util": 0.1,
                       "IdempotentSink.probe_bytes": 100.0, "q.a_s": 1.0,
                       "store.bytes_per_input_byte": 0.6, "trace.overhead_pct": 1.5}}


class PercentileTest(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(run.tail_percentile(list(range(200)))[0], 95)
        self.assertEqual(run.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(run.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(run.tail_percentile(list(range(10000)))[0], 99.9)
        self.assertEqual(run.tail_percentile(list(range(40)))[0], 75)
        self.assertEqual(run.tail_percentile(list(range(20)))[0], 50)

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(run.tail_percentile(list(range(19))), (None, None))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(run.percentile(xs, 95), 95)
        self.assertEqual(run.percentile(xs, 50), 50)
        self.assertEqual(run.percentile([7.0], 99), 7.0)


class ReportTest(unittest.TestCase):

    def test_ledger_report_has_every_metric_with_its_unit(self):
        m = run.report(raw_ledger())
        for name in REPORTED_END_TO_END["ledger_api"] + list(run.END_TO_END):
            self.assertIn(name, m)
            self.assertTrue(m[name][1])
        self.assertEqual(m["read_p95_ms"][1], "ms")
        self.assertEqual(m["wallets_per_s"][0], 3 / 8.5)
        self.assertEqual(m["cycle_cpu_ms"], (4000.0, "ms"))
        self.assertEqual(m["op_cpu_ms"], (100.0, "ms"))

    def test_p95_needs_two_hundred_reads(self):
        m = run.report(raw_ledger(reads=150))
        self.assertNotIn("read_p95_ms", m)
        self.assertIn("read_p90_ms", m)

    def test_batch_report_has_every_metric_with_its_unit(self):
        m = run.report(raw_batch())
        for name in REPORTED_END_TO_END["batch"] + list(run.END_TO_END):
            self.assertIn(name, m)
        self.assertEqual(m["pass_s"], (2.1, "s"))
        self.assertEqual(m["ops_per_s"][0], 6 / 6.3)
        self.assertEqual(m["cycle_cpu_ms"], (3000.0, "ms"))
        self.assertEqual(m["op_cpu_ms"], (3600.0 / 6, "ms"))
        self.assertEqual(m["setup_s"], (7.0, "s"))
        self.assertEqual(m["setup_wall_s"], (8.0, "s"))

    def test_every_layer_metric_has_its_unit(self):
        expected = {
            "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
            "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
            "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
            "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes", "spark.cpu_util": "ratio",
            "api.ingest.jobs": "count", "api.normalize.tasks": "count",
            "api.ingest.input_bytes": "bytes", "api.response_bytes": "bytes",
            "api.read.self_ms": "ms", "sources.fetch_s": "s", "normalize.normalizeAll_s": "s",
            "IdempotentSink.probe_bytes": "bytes", "store.bronze_files": "count",
            "store.silver_files": "count", "store.bytes_per_input_byte": "ratio",
            "LedgerPipeline.bucketOf_jobs": "count", "GraphQueries.construct_s": "s",
            "GraphQueries.execute_s": "s", "GraphQueries.jobs": "count",
            "GraphQueries.shuffle_bytes": "bytes", "GraphQueries.cpu_s": "s",
            "StreamingReplay.setup_construct_s": "s", "Dedup.jobs": "count",
            "GraphOps.jobs": "count", "q.g4_connected_components_s": "s",
            "trace.overhead_pct": "%",
        }
        for name, unit in expected.items():
            self.assertEqual(run.unit_of(name), unit, name)

    def test_layer_metrics_pass_through_with_units(self):
        m = run.report(raw_batch())
        self.assertEqual(m["spark.jobs"], (10.0, "count"))
        self.assertEqual(m["op.self_ms"][1], "ms")
        self.assertEqual(m["spark.cpu_util"][1], "ratio")
        self.assertEqual(m["IdempotentSink.probe_bytes"][1], "bytes")
        self.assertEqual(m["q.a_s"][1], "s")
        self.assertEqual(m["store.bytes_per_input_byte"][1], "ratio")
        self.assertEqual(m["trace.overhead_pct"][1], "%")


class DeclarationTest(unittest.TestCase):

    def test_script_and_benchmark_json_agree(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.DECLARED_WORKLOADS))


if __name__ == "__main__":
    unittest.main()
