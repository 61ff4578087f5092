"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import fixtures  # noqa: E402
import metrics  # noqa: E402


def temp_dir():
    d = os.path.join(ROOT, ".bench_build", "tests")
    os.makedirs(d, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=d)


def contents(directory):
    """Every generated file's content, keyed by its relative path."""
    out = {}
    for d, _, names in os.walk(directory):
        for n in sorted(names):
            p = os.path.join(d, n)
            rel = os.path.relpath(p, directory)
            if n.endswith(".parquet"):
                out[rel] = pq.read_table(p).to_pydict()
            else:
                with open(p, "rb") as f:
                    out[rel] = f.read()
    return out


class SeedTest(unittest.TestCase):
    def generate(self, make, seed):
        with temp_dir() as d:
            shape = make(seed, d)
            return shape, contents(d)

    def test_mwas_same_seed_same_inputs(self):
        self.assertEqual(self.generate(fixtures.make_mwas, 7),
                         self.generate(fixtures.make_mwas, 7))

    def test_mwas_different_seed_different_inputs(self):
        _, a = self.generate(fixtures.make_mwas, 7)
        _, b = self.generate(fixtures.make_mwas, 8)
        self.assertEqual(sorted(a), sorted(b))
        for name in ["input.csv", "catalog.parquet", "metadata.parquet"]:
            self.assertNotEqual(a[name], b[name], name)

    def test_mwas_size_does_not_depend_on_seed(self):
        a, _ = self.generate(fixtures.make_mwas, 7)
        b, _ = self.generate(fixtures.make_mwas, 8)
        for k in ["projects", "biosamples", "runs", "metadata_rows"]:
            self.assertEqual(a[k], b[k], k)

    def test_corpus_seeded(self):
        self.assertEqual(self.generate(fixtures.make_corpus, 3),
                         self.generate(fixtures.make_corpus, 3))
        _, a = self.generate(fixtures.make_corpus, 3)
        _, b = self.generate(fixtures.make_corpus, 4)
        self.assertNotEqual(a["documents.parquet"], b["documents.parquet"])

    def test_vocabulary_grows_with_corpus(self):
        self.assertLess(fixtures.vocabulary_size(100),
                        fixtures.vocabulary_size(1000))

    def test_broken_invariant_fails_loudly(self):
        shape = dict(fixtures.MWAS_SHAPE, orphan_runs=0.0)
        with temp_dir() as d:
            with self.assertRaises(fixtures.FixtureError):
                fixtures.make_mwas(1, d, shape)
        flat = dict(fixtures.MWAS_SHAPE, max_project=12)
        with temp_dir() as d:
            with self.assertRaises(fixtures.FixtureError):
                fixtures.make_mwas(1, d, flat)


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.tail_percentile(range(99), 0.9))
        self.assertEqual(metrics.tail_percentile(range(100), 0.9), 89)
        self.assertIsNone(metrics.tail_percentile([], 0.9))

    def test_median_always_allowed_with_enough_samples(self):
        self.assertEqual(metrics.tail_percentile(range(21), 0.5), 10)
        self.assertIsNone(metrics.tail_percentile(range(19), 0.5))

    def test_quartile_spread(self):
        self.assertAlmostEqual(
            metrics.quartile_spread([1.0, 1.0, 1.0, 1.0]), 0.0)
        self.assertGreater(metrics.quartile_spread([1, 2, 3, 4, 5]), 0.5)


class NameTest(unittest.TestCase):
    def test_every_metric_name_is_valid(self):
        names = (list(metrics.END_TO_END) + list(metrics.PER_LAYER) +
                 list(metrics.REPORT_UNITS))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        self.assertFalse(metrics.valid_name("bad name"))
        self.assertFalse(metrics.valid_name("p90/s"))

    def test_benchmark_json_matches_tables(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: (m["unit"], m["better"])
               for m in bench["end_to_end"]}
        layer = {m["name"]: (m["unit"], m["better"])
                 for m in bench["per_layer"]}
        self.assertEqual(e2e, metrics.END_TO_END)
        self.assertEqual(layer, metrics.PER_LAYER)
        for m in bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        s = 10 ** 9
        spans = [
            {"id": 1, "parent": -1, "layer": "cli", "start_ns": 0,
             "end_ns": 10 * s},
            {"id": 2, "parent": 1, "layer": "mwas", "start_ns": 1 * s,
             "end_ns": 4 * s},
            {"id": 3, "parent": 1, "layer": "mwas", "start_ns": 3 * s,
             "end_ns": 6 * s},
            {"id": 4, "parent": 2, "layer": "stats", "start_ns": 2 * s,
             "end_ns": 3 * s},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)  # 0-1 and 6-10
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 1.0)
        layers = metrics.layer_self_times(spans)
        self.assertAlmostEqual(sum(layers.values()), 11.0)
        self.assertAlmostEqual(layers["stats"], 1.0)
        self.assertEqual(sorted(metrics.descendants(spans, 1)), [2, 3, 4])
        self.assertEqual(metrics.descendants(spans, 3), [])


if __name__ == "__main__":
    unittest.main()
