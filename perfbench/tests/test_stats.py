"""Unit tests of the metric derivation (no JVM needed).

Run from the root of a checkout: `python3 -m unittest discover -s perfbench/tests`.
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def span(i, parent, name, start, end, **counters):
    base = dict(tasks=0, task_busy_ms=0, shuffle_bytes=0, spill_bytes=0, block_bytes=0)
    base.update(counters)
    return dict(id=i, parent=parent, name=name, start_ns=start, end_ns=end, **base)


def record(spans=(), **extra):
    rec = {
        "seed": 1,
        "samples": {"setup_gen_s": [0.5, 0.4, 0.6], "round_s": [10.0], "load_s": [1.0, 3.0, 2.0],
                    "query_ms": [100.0, 300.0, 200.0, 400.0]},
        "counts": {"session_s": 5.0, "setup_once_s": 2.0, "load_rows": 600.0, "load_time_s": 6.0,
                   "nproc": 4.0, "input.rows": 1000.0, "input.bytes": 2e6, "work_dir_bytes": 3e6},
        "checks": [{"name": "a", "ok": True, "detail": ""}],
        "attempted": 7, "failed": 0, "spans": list(spans), "trace_overhead_s": 0.2,
    }
    rec.update(extra)
    return rec


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(range(39)))
        self.assertEqual(stats.tail_percentile(range(40))[0], "p75")
        self.assertEqual(stats.tail_percentile(range(100))[0], "p90")
        self.assertEqual(stats.tail_percentile(range(200))[0], "p95")
        self.assertEqual(stats.tail_percentile(range(1000))[0], "p99")

    def test_nearest_rank_value(self):
        # 100 samples 1..100: p90 is the 90th smallest, ten lie beyond it
        label, value = stats.tail_percentile(list(range(100, 0, -1)))
        self.assertEqual((label, value), ("p90", 90))


class SelfTimeTest(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [
            span(0, -1, "pipeline.gate", 0, 100),
            span(1, 0, "pipeline.load", 10, 30),
            span(2, 0, "pipeline.load", 20, 50),  # overlaps its sibling by 10
            span(3, 1, "queries.read", 12, 18),   # grandchild: only its parent loses it
            span(4, -1, "queries.read", 100, 160),
        ]
        self_ns = stats.self_times(spans)
        self.assertEqual(self_ns[0], 100 - 40)  # children cover 10..50
        self.assertEqual(self_ns[1], 20 - 6)
        self.assertEqual(self_ns[2], 30)
        self.assertEqual(self_ns[3], 6)
        self.assertEqual(self_ns[4], 60)

    def test_sequential_tree_adds_up_to_its_roots(self):
        # spans opened on one thread nest and never overlap: their self
        # times add up to the roots' durations
        spans = [span(0, -1, "pipeline.gate", 0, 100), span(1, 0, "pipeline.load", 10, 30),
                 span(2, 0, "pipeline.load", 40, 90), span(3, 2, "queries.read", 50, 60),
                 span(4, -1, "queries.read", 100, 160)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100 + 60)

    def test_per_layer_sums_spans_per_round(self):
        spans = [span(0, -1, "pipeline.gate", 0, int(4e9), tasks=4, task_busy_ms=2000),
                 span(1, 0, "pipeline.load", int(1e9), int(2e9), tasks=2, shuffle_bytes=int(5e6)),
                 span(2, -1, "queries.pagerank", int(4e9), int(6e9), task_busy_ms=4000,
                      block_bytes=int(3e6))]
        rec = record(spans, samples={**record()["samples"], "round_s": [7.0, 5.0]})
        out = stats.per_layer(rec)
        self.assertAlmostEqual(out["pipeline.gate.self_ms"], 3000 / 2)
        self.assertAlmostEqual(out["pipeline.gate.tasks"], 2)
        self.assertAlmostEqual(out["pipeline.load.shuffle_mb"], 2.5)
        self.assertAlmostEqual(out["queries.pagerank.checkpoint_mb"], 1.5)
        self.assertAlmostEqual(out["queries.pagerank.core_util"], 4.0 / (2.0 * 4))
        # two rounds of 12 s in all, 6 s of it inside root spans
        self.assertAlmostEqual(out["trace.unattributed_ms"], 3000)
        self.assertAlmostEqual(out["trace.overhead_s"], 0.1)
        self.assertEqual(out["streaming.fold.self_ms"], 0.0)


class ResultLineTest(unittest.TestCase):
    def test_end_to_end_values(self):
        e2e = stats.end_to_end(record())
        self.assertAlmostEqual(e2e["setup_s"], 5.0 + 0.5 + 2.0)
        self.assertEqual(e2e["load_p50_s"], 2.0)
        self.assertEqual(e2e["query_p50_ms"], 250.0)
        self.assertEqual(e2e["load_rows_per_s"], 100.0)

    def test_line_round_trips_and_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = stats.result(record(), trace=trace)
            parsed = stats.parse_line("noise\n" + json.dumps(res) + "\n")
            self.assertTrue(parsed["correct"])
            self.assertEqual(list(parsed["metrics"]), [m["name"] for m in bench[key]])
            self.assertEqual([m["unit"] for m in parsed["metrics"].values()],
                             [m["unit"] for m in bench[key]])

    def test_failed_check_or_operation_is_incorrect(self):
        rec = record(checks=[{"name": "a", "ok": False, "detail": "x"}])
        self.assertFalse(stats.result(rec, trace=0)["correct"])
        self.assertFalse(stats.result(record(failed=1), trace=0)["correct"])

    def test_parse_rejects_other_shapes(self):
        with self.assertRaises(ValueError):
            stats.parse_line(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                                         "metrics": {}, "extra": 1}))
        with self.assertRaises(ValueError):
            stats.parse_line(json.dumps({"correct": True, "attempted": 1, "failed": 0,
                                         "metrics": {"x": {"value": "1", "unit": "s"}}}))


if __name__ == "__main__":
    unittest.main()
