"""Tests of the benchmark's own logic: python3 -m unittest discover graftbench"""
import json
import os
import shutil
import tempfile
import unittest

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_fingerprint_other_seed_differs(self):
        root = tempfile.mkdtemp()
        try:
            fps = {}
            for seed, sub in [(5, "a"), (5, "b"), (6, "c")]:
                d = os.path.join(root, sub)
                gen.generate("lake_churn", seed, d)
                fps[sub] = gen.fingerprint(d)
            self.assertEqual(fps["a"], fps["b"])
            self.assertNotEqual(fps["a"], fps["c"])
        finally:
            shutil.rmtree(root)

    def test_cache_is_checked_by_fingerprint(self):
        root = tempfile.mkdtemp()
        try:
            d, fp, made = gen.ensure("lake_churn", 9, root)
            self.assertTrue(made)
            self.assertEqual(gen.ensure("lake_churn", 9, root)[1:], (fp, False))
            with open(os.path.join(d, "events.parquet"), "ab") as f:
                f.write(b"x")  # a damaged cache entry is regenerated
            self.assertEqual(gen.ensure("lake_churn", 9, root)[1:], (fp, True))
        finally:
            shutil.rmtree(root)


class SpecTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_names_units_and_bounds_match(self):
        want = [{"name": n, "unit": u, "better": b, "bound": bd}
                for n, u, b, bd in metrics.END_TO_END]
        self.assertEqual(self.bench["end_to_end"], want)

    def test_per_layer_names_and_units_match(self):
        want = [{"name": n, "unit": u, "better": b} for n, u, b in metrics.per_layer_spec()]
        self.assertEqual(self.bench["per_layer"], want)

    def test_workloads_match_the_generator(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(gen.SIZES))


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))
        v, pct, n = metrics.tail(xs)
        self.assertEqual((v, n), (90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_needs_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        v, pct, n = metrics.tail(list(range(11)))
        self.assertEqual(v, 0)
        self.assertEqual(n, 11)


class AttributionTest(unittest.TestCase):
    def test_union_and_self_time(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(0, 20)], 5, 10), 5)
        span = {"start_ms": 0.0, "end_ms": 10.0}
        kids = [{"start_ms": 1.0, "end_ms": 4.0}, {"start_ms": 3.0, "end_ms": 6.0}]
        self.assertEqual(metrics.self_time(span, kids), 5.0)

    def test_jobs_attach_to_the_op_they_start_in(self):
        spans = [{"id": 1, "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 4, "start_ms": 20.0, "end_ms": 30.0}]
        samples = [{"span": 1, "traced": True, "op": "a"}, {"span": 4, "traced": True, "op": "b"}]
        jobs = [{"start_ms": 2.0}, {"start_ms": 25.0}, {"start_ms": 15.0}]
        got = {s["op"]: [j["start_ms"] for j in js]
               for _, s, js in metrics.attribute_jobs(samples, spans, jobs)}
        self.assertEqual(got, {"a": [2.0], "b": [25.0]})


if __name__ == "__main__":
    unittest.main()
