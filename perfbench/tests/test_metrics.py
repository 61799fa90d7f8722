"""Self-test of the benchmark's arithmetic: the tail-percentile rule,
span self times and layer attribution, and failure accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(id, parent, name, start, end, req=0, **attrs):
    return {"id": id, "parent": parent, "req": req, "name": name,
            "start_ns": start * 1_000_000, "end_ns": end * 1_000_000,
            "attrs": attrs, "spark": {}}


class TailPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(10))))

    def test_ten_samples_lie_beyond_the_reported_rank(self):
        xs = list(range(100, 0, -1))  # unsorted input
        p, v = metrics.tail_percentile(xs)
        self.assertEqual((p, v), (90.0, 90))
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_eleven_samples_give_the_smallest(self):
        self.assertEqual(metrics.tail_percentile([5.0] + [9.0] * 10), (100 / 11, 5.0))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(0, -1, "q", 0, 100), span(1, 0, "a", 10, 30), span(2, 0, "b", 50, 90)]
        self.assertAlmostEqual(metrics.self_ms(spans[0], metrics.children(spans)), 40.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, "q", 0, 100), span(1, 0, "a", 10, 60), span(2, 0, "b", 40, 70)]
        self.assertAlmostEqual(metrics.self_ms(spans[0], metrics.children(spans)), 40.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, "q", 10, 20), span(1, 0, "a", 5, 15)]
        self.assertAlmostEqual(metrics.self_ms(spans[0], metrics.children(spans)), 5.0)

    def test_grandchildren_do_not_reduce_self_time_twice(self):
        spans = [span(0, -1, "q", 0, 100), span(1, 0, "a", 0, 50), span(2, 1, "b", 0, 50)]
        kids = metrics.children(spans)
        self.assertAlmostEqual(metrics.self_ms(spans[0], kids), 50.0)
        self.assertAlmostEqual(metrics.self_ms(spans[1], kids), 0.0)


class QueryAttribution(unittest.TestCase):
    def spans(self):
        # query 0: termstats 5, pool 60 (bounded, 2 rounds), rescore 10, fusion self 25
        # query 1: termstats 0, pool 30 (dense after a bounded round)
        return [
            span(0, -1, "query", 0, 100, req=0),
            span(1, 0, "termstats", 0, 5, miss_terms=2),
            span(2, 0, "searchTopK", 5, 100),
            span(3, 2, "pool", 10, 70, path="bounded", rounds=2),
            span(4, 2, "rescore", 80, 90),
            span(5, -1, "query", 200, 240, req=1),
            span(6, 5, "termstats", 200, 200, miss_terms=0),
            span(7, 5, "searchTopK", 200, 240),
            span(8, 7, "pool", 200, 230, path="dense", rounds=1),
        ]

    def test_layers(self):
        layer, per = metrics.query_layers(self.spans())
        self.assertEqual([p["fusion_ms"] for p in per], [25.0, 10.0])
        self.assertAlmostEqual(layer["pool.ms"], 45.0)
        self.assertAlmostEqual(layer["pool.bounded_ms"], 60.0)
        self.assertAlmostEqual(layer["pool.dense_ms"], 30.0)
        self.assertEqual(layer["termstats.miss_terms"], 2)
        self.assertEqual((layer["pool.served_bounded"], layer["pool.served_dense"]), (1, 1))
        self.assertAlmostEqual(layer["pool.bounded_rounds"], 1.5)
        self.assertAlmostEqual(layer["pool.fallback_ratio"], 0.5)
        # the named layers partition each query span
        self.assertAlmostEqual(layer["trace.coverage"], 1.0)


class FailureAccounting(unittest.TestCase):
    def test_nothing_failed(self):
        self.assertEqual(metrics.outcome(7, []), {"correct": True, "attempted": 7, "failed": 0})
        self.assertEqual(metrics.fail_ratio(7, 0), 0.0)

    def test_failures_are_counted_not_dropped(self):
        out = metrics.outcome(50, ["oracle q_a: MISMATCH", "check failed: x"])
        self.assertEqual(out, {"correct": False, "attempted": 50, "failed": 2})
        self.assertEqual(metrics.fail_ratio(50, 2), 0.04)

    def test_failed_queries_have_no_latency_sample(self):
        rec = {"ops": [{"ms": 10.0, "ok": True}, {"ms": 1.0, "ok": False}, {"ms": 30.0, "ok": True}],
               "timed_wall_s": 1.0, "n_docs": 1}
        rec.update(setup_s=[3.0, 1.0], heap_live_mb=80.0)
        e2e, counts, report = metrics.end_to_end("serve", rec)
        self.assertEqual(e2e, {"op_mean_ms": 20.0, "setup_s": 2.0, "heap_live_mb": 80.0})
        self.assertEqual(counts, {"op_mean_ms": 2, "setup_s": 2, "heap_live_mb": 1})
        self.assertEqual(report["query_p50_ms"][2], 2)


if __name__ == "__main__":
    unittest.main()


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py reports."""

    def setUp(self):
        import json
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_metric_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, metrics.PER_LAYER)

    def test_workloads(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(metrics.WORKLOADS))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.bench["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
