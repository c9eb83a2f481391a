"""Self-tests of the benchmark's own logic (no build, no JVM):

    python3 perfbench/test_metrics.py
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


def raw_record():
    """A small raw record shaped like perfbench.Main's output."""
    spans = [
        [1, 0, 1, "pass", 0, 100_000_000],
        [2, 1, 1, "pipeline.verifyByHash", 5_000_000, 95_000_000],
        [3, 0, 3, "pass", 200_000_000, 300_000_000],
        [4, 3, 3, "table.write", 200_000_000, 220_000_000],
        [5, 3, 3, "table.extractWithCheckpoints", 220_000_000, 280_000_000],
        [6, 3, 3, "pipeline.report", 280_000_000, 295_000_000],
        [7, 3, 3, "table.readCounters", 295_000_000, 296_000_000],
        [8, 0, 8, "stream.run", 400_000_000, 500_000_000],
    ]
    tasks = [[2, 1, 1, 10, 60, 45, 2, 1000, 1000, 0],
             [5, 2, 2, 220, 250, 25, 1, 0, 0, 0]]
    jobs = [[1, 2, 5, 95, 3], [2, 5, 220, 250, 2]]
    kernel = [{"format": "pdfxml", "lines": 10, "error": "",
               "ns": {"expr": 300_000, "extract": 250_000, "sniff": 10_000, "xmltok": 30_000,
                      "layout_classify": 200_000}},
              {"format": "shakespeare", "lines": 5, "error": "",
               "ns": {"expr": 120_000, "extract": 100_000, "sniff": 10_000, "html": 40_000,
                      "shakespeare": 80_000}},
              {"format": "pdf", "lines": 20, "error": "",
               "ns": {"expr": 3_000_000, "extract": 2_900_000, "sniff": 5_000,
                      "pdflex": 2_000_000, "layout_classify": 800_000}}]
    stream = [{"batch": 0, "rows": 30, "batch_ms": 400,
               "duration_ms": {"addBatch": 300, "queryPlanning": 20, "walCommit": 30,
                               "commitOffsets": 30},
               "state": [{"rows_total": 5, "memory_bytes": 1000, "commit_ms": 20,
                          "partitions": 1}]}]
    passes = [{"secs": 1.0 + i / 10, "turns": 100, "attempted": 100, "failed": 0,
               "traced": i >= 4} for i in range(8)]
    return {"passes": passes, "setup_s": 12.5, "peak_rss_mb": 900.0, "spans": spans,
            "tasks": tasks, "jobs": jobs, "kernel": kernel, "stream": stream,
            "outcomes": {"pdfxml": 60, "shakespeare": 40}, "doc_turns": 100,
            "table_files_written": 3, "table_bytes_written": 4096,
            "table_manifest_commits": 16, "labels": {}, "errors": {}}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, pct in ((40, 75.0), (100, 90.0), (1000, 99.0), (20, 50.0)):
            p, value, beyond = metrics.tail(list(range(1, n + 1)))
            self.assertEqual(p, pct, n)
            self.assertGreaterEqual(beyond, 10)
            self.assertEqual(beyond, sum(1 for x in range(1, n + 1) if x > value))

    def test_too_few_samples_fall_back_to_the_median(self):
        p, value, beyond = metrics.tail(list(range(1, 13)))
        self.assertEqual((p, value, beyond), (50.0, 6, 6))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [dict(id=1, parent=0, start=0, end=100),
                 dict(id=2, parent=1, start=10, end=40),
                 dict(id=3, parent=1, start=30, end=60),
                 dict(id=4, parent=1, start=80, end=120),  # runs past its parent
                 dict(id=5, parent=2, start=15, end=20)]   # grandchild: not direct
        self.assertEqual(metrics.self_time(spans[0], spans), 100 - 50 - 20)

    def test_no_children(self):
        s = dict(id=1, parent=0, start=5, end=9)
        self.assertEqual(metrics.self_time(s, [s]), 4)


class Names(unittest.TestCase):
    def test_names_are_well_formed(self):
        for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]:
            self.assertRegex(m["name"], metrics.NAME_RE)
        for w in BENCHMARK["workloads"]:
            self.assertRegex(w["name"], metrics.NAME_RE)

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in BENCHMARK["workloads"]), run.WORKLOADS)

    def test_emitted_metrics_match_benchmark_json(self):
        raw = raw_record()
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            res = metrics.result(raw, trace, 4)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            declared = {m["name"]: m["unit"] for m in BENCHMARK[key]}
            emitted = {k: v["unit"] for k, v in res["metrics"].items()}
            self.assertEqual(emitted, declared, key)
            for k in emitted:
                self.assertRegex(k, metrics.NAME_RE)

    def test_result_line(self):
        res = metrics.result(raw_record(), False, 4)
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (800, 0))
        self.assertAlmostEqual(res["metrics"]["turns_per_s"]["value"], 100 / 1.15)


class PerLayer(unittest.TestCase):
    def test_layers_from_spans_tasks_and_kernel(self):
        m, labels = metrics.per_layer(raw_record(), 4)
        self.assertAlmostEqual(m["verify.wall_s"][0], 0.09)
        self.assertAlmostEqual(m["verify.executor_run_s"][0], 0.045)
        self.assertAlmostEqual(m["emit.ms_per_turn"][0], (0.05 + 0.02 + 0.1) / 3)
        self.assertAlmostEqual(m["shakespeare.self_ms_per_turn"][0], 0.04)
        self.assertAlmostEqual(m["pdflex.ms_per_turn"][0], 2.0)
        self.assertAlmostEqual(m["layout_classify.ms_per_turn"][0], 0.5)
        self.assertEqual(m["kernel.turns_profiled"][0], 3)
        self.assertEqual(m["xmltok.calls"][0], 60)
        self.assertAlmostEqual(m["table.core_idle_frac"][0], 1 - 25 / (60 * 4))
        self.assertAlmostEqual(m["trace.unattributed_frac"][0], (10 + 4) / 200)
        self.assertEqual(m["stream.batches"][0], 1)
        self.assertAlmostEqual(m["stream.batch_s.p50"][0], 0.4)
        self.assertIn("table.bucket_job_s.tail", labels)

    def test_failures_count(self):
        raw = raw_record()
        raw["passes"][0]["failed"] = 3
        raw["kernel"][0]["error"] = "java.lang.IllegalStateException"
        raw["kernel_failed"] = 1
        res = metrics.result(raw, True, 4)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 4)


if __name__ == "__main__":
    unittest.main()
