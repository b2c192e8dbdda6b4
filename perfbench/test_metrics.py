"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_highest_level_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_level(269), 95)   # 13.45 beyond p95
        self.assertEqual(metrics.tail_level(1000), 99)
        self.assertEqual(metrics.tail_level(199), 90)   # 9.95 beyond p95
        self.assertEqual(metrics.tail_level(100), 90)
        self.assertEqual(metrics.tail_level(40), 75)
        self.assertEqual(metrics.tail_level(39), 50)

    def test_pipeline_level_follows_the_rule(self):
        # the level pipeline_live reports is what its smallest run supports
        self.assertEqual(metrics.PIPELINE_TAIL, metrics.tail_level(75000))

    def test_batch_tail_is_the_slowest_query_median(self):
        raw = {"session_s": 1.0, "setup_reps_ms": [10.0], "warm_ms": 0.0, "retained_mb": 1.0,
               "samples": [{"query": "a", "ms": v} for v in (10.0, 12.0, 90.0)] +
                          [{"query": "b", "ms": v} for v in (40.0, 50.0, 45.0)]}
        raw["queries"] = ["a", "b"]
        for i, smp in enumerate(raw["samples"]):
            smp["pass"] = i % 3
        raw["samples"].append({"query": "a", "ms": 10.0, "pass": 3})   # cut off
        e2e = metrics.batch_end_to_end(raw)
        self.assertEqual(e2e["latency_tail_ms"], 45.0)
        self.assertEqual(e2e["work_s"], (11.0 + 45.0) / 1000.0)
        # passes 0-2 ran both queries; pass 3 was cut off after "a"
        self.assertAlmostEqual(e2e["rate_per_s"], 6 * 1000.0 / 247.0)

    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 50), 2)
        self.assertEqual(metrics.percentile([0, 10], 75), 7.5)
        self.assertEqual(metrics.percentile([5], 99), 5)


class OpenLoop(unittest.TestCase):
    def test_timed_from_due_time_and_lateness_reported(self):
        dues = [0.0, 10.0, 20.0]
        sents = [0.0, 35.0, 35.0]     # the generator stalled 25 ms
        dones = [5.0, 40.0, 41.0]
        latency, lateness = metrics.open_loop(dues, sents, dones)
        # the stall counts against the events that waited through it
        self.assertEqual(latency, [5.0, 30.0, 21.0])
        self.assertEqual(lateness, [0.0, 25.0, 15.0])

    def test_ingest_latency_maps_offsets_to_batches(self):
        raw = {
            "progress": [
                {"name": "raw", "batchId": 0, "sources": [{"endOffset": "0"}]},
                {"name": "raw", "batchId": 1, "sources": [{"endOffset": "2"}]},
                {"name": "agg", "batchId": 0, "sources": [{"endOffset": "2"}]},
            ],
            "sinks": {"raw": [{"batch_id": 0, "end_ms": 100.0},
                              {"batch_id": 1, "end_ms": 300.0}]},
            "ticks": [[1, 150.0, 2], [2, 160.0, 1]],
            "dues": [140.0, 145.0, 150.0],
        }
        latency, lateness = metrics.ingest_latencies(raw)
        self.assertEqual(latency, [160.0, 155.0, 150.0])
        self.assertEqual(lateness, [10.0, 5.0, 10.0])

    def test_closed_loop_rate(self):
        self.assertAlmostEqual(metrics.closed_loop_rate([100.0, 300.0], 2), 10.0)

    def test_mix_rate_ignores_how_many_of_each_kind_completed(self):
        mix = ["fast", "slow", "slow"]
        few = [{"endpoint": "fast", "ms": 100.0}, {"endpoint": "slow", "ms": 400.0}]
        many = few + [{"endpoint": "fast", "ms": 100.0}] * 5
        # one cycle takes 100 + 2 * 400 ms; two clients finish 6 requests in it
        for reqs in (few, many):
            self.assertAlmostEqual(metrics.mix_rate(reqs, mix, 2), 2 * 3 / 0.9)


class SelfTime(unittest.TestCase):
    def span(self, s, e):
        return {"start": s, "end": e}

    def test_duration_minus_child_coverage(self):
        parent = self.span(0, 100)
        kids = [self.span(10, 30), self.span(20, 40), self.span(90, 120)]
        # children cover 10..40 and 90..100 (clipped to the parent)
        self.assertEqual(metrics.self_time(parent, kids), 100 - 30 - 10)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(self.span(5, 8), []), 3)

    def test_links_jobs_and_catalyst_by_property_and_containment(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start": 0, "end": 100, "attrs": {}},
            {"id": 2, "parent": 1, "name": "execute", "start": 10, "end": 100, "attrs": {}},
            {"id": 3, "parent": 0, "name": "job", "start": 20, "end": 90,
             "attrs": {"job_id": 7, "span": "2"}},
            {"id": 4, "parent": 0, "name": "stage", "start": 25, "end": 80,
             "attrs": {"job_id": 7}},
            {"id": 5, "parent": 0, "name": "catalyst.planning", "start": 11, "end": 15,
             "attrs": {}},
        ]
        linked = {s["id"]: s["parent"] for s in metrics.link_spans(spans, [])}
        self.assertEqual(linked, {1: 0, 2: 1, 3: 2, 4: 3, 5: 2})
        st = metrics.self_times(spans)
        self.assertEqual(st["execute"], (90 - 70 - 4) / 1000.0)


class Expected(unittest.TestCase):
    def test_checker_flags_a_changed_digest(self):
        """The committed digests pass the checker; one changed digest fails
        it. (Digest stability itself is DigestSpec in perfbench/jvm.)"""
        with open(os.path.join(HERE, "expected.json")) as fh:
            expected = json.load(fh)
        for workload, queries in expected.items():
            raw = {"workload": workload, "queries": list(queries),
                   "digests": {q: dict(d) for q, d in queries.items()}}
            self.assertEqual(metrics.check_digests(raw, expected), [])
            first = next(iter(queries))
            raw["digests"][first]["digest"] = "0:0"
            self.assertEqual(len(metrics.check_digests(raw, expected)), 1)

    def test_benchmark_json_lists_every_metric(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]},
                         {k: v[:2] for k, v in metrics.PER_LAYER.items()})
        self.assertLessEqual({w["name"] for w in bench["workloads"]},
                             {"registry_sf0.01", "ladder_10x", "pipeline_live"})


if __name__ == "__main__":
    unittest.main()
