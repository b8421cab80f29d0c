"""Unit tests of the benchmark's own statistics and metric tables.

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import json
import os
import unittest

import run
import stats


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        v, p, n = stats.tail(range(1, 101))
        self.assertEqual((v, n), (90, 100))
        self.assertAlmostEqual(p, 0.90)
        self.assertEqual(sum(1 for x in range(1, 101) if x > v), 10)

    def test_ten_samples_beyond_for_any_large_n(self):
        for n in (21, 37, 250):
            v, _, _ = stats.tail(range(n))
            self.assertEqual(sum(1 for x in range(n) if x > v), 10)

    def test_small_samples_fall_back_to_upper_median(self):
        xs = [5, 1, 4, 2, 3, 6]
        v, p, n = stats.tail(xs)
        self.assertEqual((v, n), (4, 6))
        self.assertGreaterEqual(v, stats.median(xs))
        self.assertEqual(stats.tail([7])[0], 7)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class Recall(unittest.TestCase):
    def test_paths_weigh_equally(self):
        pairs = [("lsh", 1.0)] * 9 + [("grid", 0.5)]
        self.assertAlmostEqual(stats.mean_recall(pairs), 0.75)

    def test_needs_samples(self):
        with self.assertRaises(ValueError):
            stats.mean_recall([])


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [(1, 0, 0, 100, "op"),
                 (2, 1, 10, 40, "call"),
                 (3, 1, 30, 60, "collect"),   # overlaps 2 by 10
                 (4, 2, 15, 20, "inner")]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 100 - 50)
        self.assertEqual(own[2], 30 - 5)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 5)

    def test_children_are_clipped_to_the_parent(self):
        own = stats.self_times([(1, 0, 0, 10, "op"), (2, 1, 5, 50, "late")])
        self.assertEqual(own[1], 5)


class GeoMean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([100, 400]), 200.0)
        self.assertAlmostEqual(stats.geomean([7]), 7.0)


def raw_record(workload):
    ops = [["ingest", 5000.0, True, False], ["build.grid", 9000.0, True, False],
           ["search.flat", 100.0, True, False], ["search.lsh", 300.0, True, True],
           ["search.grid", 200.0, True, False], ["batch", 900.0, True, True],
           ["fresh_search", 150.0, True, True], ["fresh_search", 250.0, True, False],
           ["update", 3000.0, True, True], ["append", 1000.0, True, False],
           ["delete", 2000.0, False, False]]
    return {
        "workload": workload, "attempted": 20, "failed": 1, "errors": ["x"],
        "scalars": {"setup_s": 30.0, "ingest_chunks_per_s": 400.0,
                    "loop_s": 12.0, "check_s": 2.0,
                    "maintenance_s": 4.0, "space_amp": 40.0, "jvm.gc_s": 1.0},
        "ops": ops, "recalls": [["lsh", 0.8], ["grid", 0.6]],
        "call_ms": [["search.lsh", 50.0]], "plans": {"search.lsh": 2, "batch": 1},
        "bytes_written": [["update", 1000.0]],
        "spans": [[1, 0, 1, 0, 100, "search.lsh", "op"],
                  [2, 1, 1, 10, 60, "search.lsh", "VectorLibrary.lsh"],
                  [3, 1, 1, 60, 90, "search.lsh", "spark.collect"]],
        "counters": [["search.lsh", [3, 12, 2000000000, 40, 0]],
                     ["unattributed", [5, 5, 0, 0, 0]]],
    }


class Metrics(unittest.TestCase):
    def test_end_to_end_serve(self):
        m, _ = run.end_to_end(raw_record("serve"))
        self.assertEqual(set(m), {n for n, *_ in run.END_TO_END})
        self.assertAlmostEqual(m["ok_rate"], 0.95)
        self.assertAlmostEqual(m["ingest_chunks_per_s"], 400.0)
        # one sample per path: flat 100, lsh 300, grid 200
        self.assertAlmostEqual(m["search_p50_ms"], (100 * 300 * 200) ** (1 / 3))
        self.assertEqual(m["search_tail_ms"], 200.0)
        self.assertAlmostEqual(m["recall_at_10"], 0.7)
        self.assertAlmostEqual(m["ops_per_s"], 4 / 10.0)

    def test_end_to_end_lifecycle_counts_mutations(self):
        m, _ = run.end_to_end(raw_record("lifecycle"))
        self.assertAlmostEqual(m["search_p50_ms"], 200.0)
        self.assertAlmostEqual(m["ops_per_s"], 2 / 10.0)  # the failed delete is not counted

    def test_per_layer(self):
        m, _ = run.per_layer(raw_record("serve"))
        self.assertEqual(set(m), {n for n, *_ in run.per_layer_specs()})
        self.assertEqual(m["spark.jobs.search.lsh"], 3)
        self.assertAlmostEqual(m["spark.cpu_s.search.lsh"], 2.0)
        self.assertAlmostEqual(m["spark.wait_s.search.lsh"], 0.04)
        self.assertEqual(m["spark.jobs.unattributed"], 5)
        self.assertEqual(m["spark.plan_modes"], 1)
        self.assertAlmostEqual(m["self_s.bench"], 20e-9)
        self.assertAlmostEqual(m["self_s.VectorLibrary"], 50e-9)
        self.assertAlmostEqual(m["self_s.spark_collect"], 30e-9)
        # traced reads 300, 900, 150 vs untraced 100, 200, 250
        self.assertAlmostEqual(m["trace.overhead_pct"], 100.0 * (300 / 200 - 1))


class BenchmarkFile(unittest.TestCase):
    def test_names_match_the_runner(self):
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                            "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]],
                         [tuple(x) for x in run.END_TO_END])
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [tuple(x) for x in run.per_layer_specs()])


if __name__ == "__main__":
    unittest.main()
