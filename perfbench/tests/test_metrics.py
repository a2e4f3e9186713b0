"""Tests of the benchmark's pure logic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import run  # noqa: E402

QUERIES_SCALA = os.path.join(HERE, "..", "..", "src", "main", "scala", "graft", "Queries.scala")


def registered_queries():
    """Names registered in the program's query maps: the entries whose
    value is a function, `"name" -> (fn)`, not an oracle SQL string."""
    with open(QUERIES_SCALA) as f:
        return re.findall(r'^\s*"([A-Za-z0-9_]+)"\s*->\s*\(', f.read(), re.M)


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 221 + 1))  # 221 cold queries
        pct, v = metrics.tail(xs)
        self.assertEqual(v, 211)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 100.0 * 211 / 221)
        self.assertGreaterEqual(pct, 95.0)

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 4), metrics.tail(sorted([5, 1, 4, 2, 3] * 4)))

    def test_falls_back_to_max_below_the_median(self):
        self.assertEqual(metrics.tail_or_max([3.0, 1.0, 2.0]), ("max", 3.0))
        label, v = metrics.tail_or_max(list(range(1, 41)))
        self.assertEqual((label, v), ("p75", 30))


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(a, b):
        return {"start_ms": a, "end_ms": b}

    def test_no_children(self):
        self.assertEqual(metrics.self_time(self.span(0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        kids = [self.span(1, 4), self.span(3, 6), self.span(8, 9)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 10 - 5 - 1)

    def test_children_are_clipped_to_the_parent(self):
        kids = [self.span(-5, 2), self.span(9, 20)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 7)

    def test_nested_children_and_empty_intervals(self):
        kids = [self.span(2, 8), self.span(3, 4), self.span(5, 5)]
        self.assertEqual(metrics.self_time(self.span(0, 10), kids), 4)


class GroupTest(unittest.TestCase):
    def test_every_registered_query_is_in_exactly_one_group(self):
        names = registered_queries()
        self.assertGreater(len(names), 200)
        for n in names:
            self.assertEqual(len(metrics.groups_of(n)), 1, n)

    def test_prefix_rules(self):
        cases = {"q1_pricing_summary": "tpch", "q22_idle_balance": "tpch",
                 "q_lake_spj_join": "lake", "q_merge_upsert": "lake",
                 "q_merge_upsert_v2": "relational", "q_anti_join": "relational",
                 "s6_s7_clamped_first_day": "reference", "flagship_daily_gate": "reference",
                 "sim_pca_project": "similarity", "knn_ivf": "similarity",
                 "text_bpe_merges": "text", "dedup_semantic": "dedup",
                 "mm_png_pixels": "multimodal", "pipeline_pdf_ingest": "curation"}
        for name, group in cases.items():
            self.assertEqual(metrics.group_of(name), group, name)

    def test_an_unknown_prefix_is_rejected(self):
        with self.assertRaises(ValueError):
            metrics.group_of("vec_new_operator")


class ContractTest(unittest.TestCase):
    def setUp(self):
        import json
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_metrics_match(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         run.END_TO_END)

    def test_per_layer_metrics_match(self):
        raw = {"counters": {}, "spans": [], "probes": [], "checks": [{"files": 0}],
               "log": {"warn_lines": 0, "fn_reregistrations": 0, "codegen_fallbacks": 0}}
        op = {"id": 1, "kind": "cold", "name": "q1_pricing_summary", "s": 1.0, "jit_ms": 0, "gc_ms": 0,
              "start_ms": 0.0, "end_ms": 1000.0, "ok": True}
        layer = run.per_layer("query_suite", raw, [op], None, 0.0, 1.0)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         [(k, run.unit_of(k)) for k in layer])

    def test_workloads_match(self):
        self.assertEqual(tuple(w["name"] for w in self.bench["workloads"]), run.WORKLOADS)

    def test_sampled_queries_have_expected_rows(self):
        import json
        with open(os.path.join(HERE, "..", "data", "expected_rows.json")) as f:
            self.assertEqual(sorted(json.load(f)), sorted(run.QUERIES))


if __name__ == "__main__":
    unittest.main()
