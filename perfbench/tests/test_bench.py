"""Tests of the benchmark's own code; no Spark needed.

    python3 -m pytest perfbench/tests
"""
import filecmp
import json
import math
import os
import sys
import tempfile
import unittest
from collections import Counter

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class GeneratorTest(unittest.TestCase):
    def generate(self, seed, customers=120, orders=True):
        d = tempfile.TemporaryDirectory()
        self.addCleanup(d.cleanup)
        return d.name, gen.generate(d.name, customers, orders, seed)

    def test_same_seed_gives_byte_identical_files(self):
        a, _ = self.generate(7)
        b, _ = self.generate(7)
        names = sorted(os.listdir(a))
        self.assertEqual(names, ["customer.parquet", "nation.parquet", "orders.parquet", "region.parquet"])
        self.assertEqual(filecmp.cmpfiles(a, b, names, shallow=False)[0], names)

    def test_seed_relabels_keys_but_keeps_counts_and_structure(self):
        _, t1 = self.generate(1)
        _, t2 = self.generate(2)
        for name in t1:
            self.assertEqual({c: len(v) for c, v in t1[name].items()}, {c: len(v) for c, v in t2[name].items()})
        self.assertFalse((t1["customer"]["c_custkey"] == t2["customer"]["c_custkey"]).all())
        # referenced row counts, and the tree shapes under them, do not move
        self.assertEqual(checks.relational_counts(t1), checks.relational_counts(t2))
        fanout = lambda t: sorted(Counter(t["orders"]["o_custkey"].tolist()).values())
        self.assertEqual(fanout(t1), fanout(t2))

    def test_base_is_the_first_customers_and_all_their_orders(self):
        data = lambda name: pq.read_table(os.path.join(gen.DATA, f"{name}.parquet")).to_pydict()
        customers, orders = data("customer"), data("orders")
        base = gen.base_tables(120, True)
        self.assertEqual(base["customer"]["c_custkey"].tolist(), sorted(customers["c_custkey"])[:120])
        kept = set(base["customer"]["c_custkey"].tolist())
        self.assertEqual(sorted(base["orders"]["o_orderkey"].tolist()),
                         sorted(o for o, c in zip(orders["o_orderkey"], orders["o_custkey"]) if c in kept))
        self.assertEqual(len(base["nation"]["n_nationkey"]), len(data("nation")["n_nationkey"]))
        self.assertNotIn("orders", gen.base_tables(120, False))

    def test_relabelling_permutes_each_tables_key_values(self):
        base = gen.base_tables(120, True)
        t = gen.relabel(gen.base_tables(120, True), 5)
        for name, (pk, _) in gen.KEYS.items():
            self.assertEqual(sorted(t[name][pk].tolist()), sorted(base[name][pk].tolist()), name)

    def test_foreign_keys_follow_the_relabelled_keys(self):
        _, t = self.generate(3)
        for name, (_, fks) in gen.KEYS.items():
            for fk, ref in fks.items():
                pk = gen.KEYS[ref][0]
                self.assertTrue(set(t[name][fk].tolist()) <= set(t[ref][pk].tolist()), (name, fk))
        # a customer keeps its base row's content under its new key
        _, base = self.generate(0)
        by_name = lambda tb: dict(zip(tb["customer"]["c_name"].tolist(), tb["customer"]["c_acctbal"].tolist()))
        self.assertEqual(by_name(t), by_name(base))


class SpanTest(unittest.TestCase):
    SPANS = [
        {"id": 0, "name": "pipeline", "parent": -1, "start_ms": 0.0, "end_ms": 100.0},
        {"id": 1, "name": "sources.load", "parent": 0, "start_ms": 10.0, "end_ms": 30.0},
        {"id": 2, "name": "rewrite", "parent": 0, "start_ms": 25.0, "end_ms": 60.0},
        {"id": 3, "name": "inner", "parent": 2, "start_ms": 40.0, "end_ms": 45.0},
    ]

    def test_self_time_is_duration_minus_children(self):
        selfs = spans.self_times(self.SPANS)
        # children of the root overlap on [25, 30]: covered once
        self.assertEqual(selfs, {0: 100.0 - 50.0, 1: 20.0, 2: 35.0 - 5.0, 3: 5.0})

    def test_self_times_of_nested_spans_sum_to_root_duration(self):
        flat = [dict(s) for s in self.SPANS]
        flat[2]["start_ms"] = 30.0  # siblings no longer overlap
        self.assertAlmostEqual(sum(spans.self_times(flat).values()), 100.0)

    def test_jobs_go_to_their_group_or_the_innermost_open_span(self):
        jobs = [{"group": "1:sources.load", "start_ms": 12}, {"group": "1:sources.load", "start_ms": 50},
                {"group": "", "start_ms": 42}, {"group": "", "start_ms": -5}]
        owned = spans.attribute(self.SPANS, jobs)
        self.assertEqual([len(owned[i]) for i in range(4)], [0, 1, 1, 1])


def fake_report():
    job = lambda group, site, a, b: {"group": group, "call_site": site, "start_ms": a, "end_ms": b, "run_ms": 40,
                                     "cpu_ns": 3e7, "serde_ms": 2, "gc_ms": 1, "shuffle_bytes": 10, "spill_bytes": 0,
                                     "output_bytes": 0}
    names = ["pipeline"] + spans.SPANS
    return {
        "pipeline_s": 12.5, "peak_cached_bytes": 4_000_000, "epochs": 6,
        "spans": [{"id": i, "name": n, "parent": -1 if i == 0 else 0, "start_ms": 10.0 * i, "end_ms": 10.0 * i + 9}
                  for i, n in enumerate(names)],
        "jobs": [job("4:rewrite", "reduce at Rewrite.scala:177", 41, 43),
                 job("4:rewrite", "collect at TreeClusterer.scala:9", 44, 45),
                 job("4:rewrite", "localCheckpoint at Spark.scala:31", 46, 48),
                 job("1:sources.load", "count at Main.scala:5", 11, 12)],
    }


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as f:
            self.bench = json.load(f)

    def declared(self, key):
        return {m["name"]: m["unit"] for m in self.bench[key]}

    def test_end_to_end_names_and_units_match_benchmark_json(self):
        it = run.Iteration(setup_s=7.5, report=fake_report())
        printed = run.end_to_end([it], [it])
        self.assertEqual({k: u for k, (_, u) in printed.items()}, self.declared("end_to_end"))

    def test_per_layer_names_and_units_match_benchmark_json(self):
        it = run.Iteration(setup_s=7.5, report=fake_report(), bytes_out=3_000_000)
        printed = run.per_layer([it], [run.Iteration(report=dict(fake_report(), pipeline_s=12.0))])
        self.assertEqual({k: u for k, (_, u) in printed.items()}, self.declared("per_layer"))
        self.assertAlmostEqual(printed["trace.overhead_s"][0], 0.5)
        self.assertAlmostEqual(printed["rewrite.op_trials_s"][0], 0.002)
        self.assertAlmostEqual(printed["similarity.fit_s"][0], 0.001)
        self.assertAlmostEqual(printed["rewrite.checkpoint_s"][0], 0.002)
        self.assertEqual(printed["rewrite.jobs"][0], 3)

    def test_workloads_match_benchmark_json(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]), sorted(run.WORKLOADS))


class OracleTest(unittest.TestCase):
    def scores(self, a, b):
        cells = checks.contingency([(str(i), x) for i, x in enumerate(a)], [(str(i), x) for i, x in enumerate(b)])
        return checks.cluster_scores(cells)

    def test_sklearn_documented_values(self):
        # values from the scikit-learn documentation of the two scores
        for got in self.scores([0, 0, 1, 1], [1, 1, 0, 0]):
            self.assertAlmostEqual(got, 1.0)
        ami, completeness = self.scores([0, 0, 0, 0], [0, 1, 2, 3])
        self.assertAlmostEqual(ami, 0.0)
        self.assertAlmostEqual(completeness, 0.0)
        self.assertAlmostEqual(self.scores([0, 0, 1, 1], [0, 0, 0, 0])[1], 1.0)

    def test_emi_grouped_by_size_equals_the_pairwise_sum(self):
        a, b, n = [3, 1, 1, 5], [2, 2, 6], 10
        pairwise = sum(checks.expected_mutual_info([x], [y], n) for x in a for y in b)
        self.assertTrue(math.isclose(checks.expected_mutual_info(a, b, n), pairwise, rel_tol=1e-12))

    def test_one_sided_entities_are_singletons(self):
        cells = checks.contingency([("x", "A"), ("y", "A")], [("x", "B"), ("z", "B")])
        self.assertEqual(sorted(cells.values()), [1, 1, 1])
        self.assertEqual(cells[("A", "B")], 1)


if __name__ == "__main__":
    unittest.main()
