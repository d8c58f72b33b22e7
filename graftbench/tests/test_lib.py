"""Self-tests of the benchmark's statistics, workloads, correctness gate and
output schema.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import re
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import lib  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(lib.median([3, 1, 2]), 2)
        self.assertEqual(lib.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            lib.median([])

    def test_quartiles_match_statistics(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = lib.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertAlmostEqual(lib.iqr_share(xs), (q3 - q1) / q2)

    def test_end_to_end_uses_per_query_medians(self):
        rows = [{"name": n, "pass": p, "total_s": t}
                for n, ts in (("a", [9.0, 1.0, 2.0, 3.0]), ("b", [9.0, 5.0, 4.0, 50.0]),
                              ("c", [9.0, 7.0, 7.0, 6.0]))
                for p, t in enumerate(ts)]
        rows.append({"name": "c", "pass": 3, "error": "boom"})
        raw = {"setup": {"total_s": 20.0}, "queries": rows}
        m = lib.end_to_end(raw)
        self.assertEqual(m["sweep_s"], 2.0 + 5.0 + 7.0)
        self.assertEqual(m["query_p50_s"], 5.0)
        self.assertEqual(m["setup_s"], 20.0)


class Workloads(unittest.TestCase):
    catalog = lib.load_catalog()

    def test_seed_fixes_the_order(self):
        for w in lib.WORKLOADS:
            self.assertEqual(lib.workload_queries(w, 5), lib.workload_queries(w, 5))
            orders = {tuple(lib.workload_queries(w, s)) for s in range(10)}
            self.assertGreater(len(orders), 1)
            for order in orders:
                self.assertEqual(sorted(order), sorted(lib.WORKLOADS[w]))

    def test_queries_have_goldens(self):
        for names in lib.WORKLOADS.values():
            self.assertEqual(len(names), len(set(names)))
            self.assertTrue(set(names) <= set(self.catalog))

    def test_registry_covers_every_group_and_kernels_are_batch(self):
        self.assertEqual({lib.group(n) for n in lib.WORKLOADS["registry_sf0.01"]},
                         {"batch", "stream", "io"})
        self.assertEqual({lib.group(n) for n in lib.WORKLOADS["kernels_sf0.01"]}, {"batch"})


class Gate(unittest.TestCase):
    def test_check_counts_errors_and_wrong_results(self):
        goldens = {"a": {"rows": 2, "hash": "h", "deterministic": True},
                   "b": {"rows": 2, "hash": "h", "deterministic": False},
                   "c": {"rows": 2, "hash": "h", "deterministic": True},
                   "d": {"rows": 2, "hash": "h", "deterministic": True}}
        raw = {"queries": [{"name": "d", "pass": 1, "error": "boom"}],
               "check": {"a": {"rows": 2, "hash": "x"}, "b": {"rows": 2, "hash": "x"},
                         "c": {"error": "boom"}, "d": {"rows": 2, "hash": "h"}}}
        self.assertEqual(lib.check(raw, goldens), {"a", "c", "d"})
        raw["check"]["b"]["rows"] = 3
        self.assertEqual(lib.check(raw, goldens), {"a", "b", "c", "d"})


class Schema(unittest.TestCase):
    def test_metric_specs(self):
        names = [m[0] for m in lib.END_TO_END + lib.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit, better, *bound in lib.END_TO_END + lib.PER_LAYER:
            self.assertRegex(name, NAME)
            self.assertRegex(unit, UNIT)
            self.assertIn(better, ("lower", "higher"))
        self.assertIn(("setup_s", "s", "lower"), [m[:3] for m in lib.END_TO_END])
        for *_, bound in lib.END_TO_END:
            self.assertTrue(0 < bound <= 0.25)

    def test_benchmark_json_matches_specs(self):
        path = os.path.join(lib.HERE, "..", "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual(
            [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]],
            lib.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         lib.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(lib.WORKLOADS))

    def test_result_line(self):
        metrics = {name: 1.5 for name, *_ in lib.END_TO_END}
        line = json.loads(lib.result_line(metrics, lib.END_TO_END, 10, 0))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])
        for name, unit, *_ in lib.END_TO_END:
            self.assertEqual(line["metrics"][name], {"value": 1.5, "unit": unit})
        self.assertFalse(json.loads(lib.result_line(metrics, lib.END_TO_END, 10, 1))["correct"])


if __name__ == "__main__":
    unittest.main()
