"""Tests for the benchmark's statistics, result line and input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import contextlib
import hashlib
import io
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


# sha256 of the sf0.1 `documents.parquet` the engine's bench reads
SF01_DOCUMENTS_SHA256 = "d10b0da67e5aceb465e89365781dab5c69d3c62b64a8308398c6fd3fb09bcf82"


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def raw_run(ok=True):
    """A minimal harness record, shaped like Main's output."""
    op = {"kind": "small", "path": "exact", "latency_s": 0.5, "items": 1, "ok": ok, "error": "",
          "gc_ms": 3, "jobs": 4, "tasks": 8, "job_s": 0.3, "planning_s": 0.05, "cpu_s": 0.2,
          "sched_delay_s": 0.01, "shuffle_write_bytes": 1000, "spill_bytes": 0,
          "input_bytes": 5000}
    return {"session_start_s": 4.0, "setups": [{"total_s": 2.0}, {"total_s": 3.0}],
            "loop_s": 1.0, "listener_s": 0.001, "reference_job_samples": [0.1, 0.12, 0.11], "reference_cpu_samples": [0.07], "live_heap_mb": 100.0,
            "ops": [op, dict(op, latency_s=0.7)], "checks": [], "extra": {},
            "layers": {"Knn": {"busy_s": 0.4, "calls": 2, "jobs": 3, "cpu_s": 0.1,
                               "shuffle_write_bytes": 500}}}


class StatsTest(unittest.TestCase):
    def test_median_of_even_count_averages_the_middle_two(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        self.assertEqual(stats.median([1.0, 10.0]), 5.5)

    def test_median_of_odd_count_is_the_middle_value(self):
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)

    def test_tail_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail_percentile(list(range(1, 100)), 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(stats.tail_percentile([1.0] * 5, 50))
        self.assertEqual(stats.tail_percentile(list(range(1, 21)), 50), 10)

    def test_failed_checks_count_as_failures(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}]
        checks = [{"name": "parity", "ok": False}, {"name": "recall", "ok": True}]
        self.assertEqual(stats.fail_frac(ops, checks), (2, 5))

    def test_a_failed_op_misses_every_latency_limit(self):
        lat = stats.op_latencies([{"ok": True, "latency_s": 1.0}, {"ok": False, "latency_s": 0.1}])
        self.assertEqual(lat[0], 1.0)
        self.assertTrue(math.isinf(lat[1]))

    def test_result_line_keeps_every_metric_name_and_unit(self):
        units = {"op_p50_s": "s", "items_per_s": "1/s", "shuffle_mb_per_op": "MB"}
        line = stats.result_line(True, 7, 0, {"op_p50_s": 1.25, "items_per_s": 3.5,
                                              "shuffle_mb_per_op": 0.125, "extra": 1}, units)
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["metrics"], {"op_p50_s": {"value": 1.25, "unit": "s"},
                                          "items_per_s": {"value": 3.5, "unit": "1/s"},
                                          "shuffle_mb_per_op": {"value": 0.125, "unit": "MB"}})

    def test_result_line_refuses_a_missing_metric(self):
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {}, {"op_p50_s": "s"})


class SpecTest(unittest.TestCase):
    def test_runner_measures_every_metric_the_spec_names(self):
        spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        raw = raw_run()
        self.assertLessEqual({m["name"] for m in spec["end_to_end"]}, set(run.end_to_end(raw)))
        self.assertLessEqual({m["name"] for m in spec["per_layer"]}, set(run.per_layer(raw)))

    def test_setup_s_is_the_median_of_the_warm_reps(self):
        raw = raw_run()
        raw["setups"] = [{"total_s": 20.0}, {"total_s": 3.0}, {"total_s": 2.0}]
        self.assertEqual(run.end_to_end(raw)["setup_s"], 2.5)

    def test_corpus_check_is_replayed_for_later_runs_of_a_build(self):
        check = {"name": "pipeline_e2e_rows", "ok": True, "detail": "219 rows"}
        with tempfile.TemporaryDirectory() as d:
            saved = run.CORPUS_CHECK
            run.CORPUS_CHECK = os.path.join(d, "corpus_check.json")
            try:
                first = dict(raw_run(), checks=[check])
                run.corpus_checks("curate_batch", first)
                later = raw_run()
                run.corpus_checks("curate_batch", later)
            finally:
                run.CORPUS_CHECK = saved
        self.assertEqual([(c["name"], c["ok"]) for c in later["checks"]],
                         [("pipeline_e2e_rows", True)])

    def test_failed_op_is_reported_as_incorrect(self):
        spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
        raw = raw_run()
        raw["ops"][1]["ok"] = False
        with contextlib.redirect_stdout(io.StringIO()):
            out = json.loads(run.report("rag_serve", 1, 0, raw, spec))
        self.assertEqual((out["correct"], out["failed"], out["attempted"]), (False, 1, 2))


class GeneratorTest(unittest.TestCase):
    def test_corpus_is_the_sf01_documents_table(self):
        with open(gen.CORPUS, "rb") as f:
            self.assertEqual(hashlib.sha256(f.read()).hexdigest(), SF01_DOCUMENTS_SHA256)
        docs = gen.corpus()
        self.assertEqual(len(docs), 5000)
        self.assertEqual([d[0] for d in docs], list(range(5000)))

    def test_same_seed_gives_byte_identical_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(7, a)
            gen.generate(7, b)
            self.assertEqual(tree_digest(a), tree_digest(b))

    def test_seed_changes_the_workload_inputs_not_the_corpus(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate(7, a)
            gen.generate(8, b)
            self.assertEqual(tree_digest(os.path.join(a, "corpus")),
                             tree_digest(os.path.join(b, "corpus")))
            for sub in ("rag", "curate", "ingest"):
                self.assertNotEqual(tree_digest(os.path.join(a, sub)),
                                    tree_digest(os.path.join(b, sub)))


if __name__ == "__main__":
    unittest.main()
