"""The benchmark's own tests: generator determinism, the percentile and
self-time arithmetic, and the CDC reference fold.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
from stats import median, self_times, tail, union_length  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def _digest(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            fn(np.random.default_rng(seed), d)
            return gen.digest(d)

    def test_same_seed_same_bytes(self):
        for fn in (lambda r, d: gen.tpch_tables(r, d, 50, 10, 20, 100, 400),
                   lambda r, d: gen.cdc_batches(r, d, 50, 3, 40),
                   lambda r, d: gen.ingest_stream(r, d, 3, 30, 4)):
            self.assertEqual(self._digest(fn, 7), self._digest(fn, 7))
            self.assertNotEqual(self._digest(fn, 7), self._digest(fn, 8))

    def test_workload_seed_reaches_generator(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            old = gen.SIZES["corpus_ingest"]
            gen.SIZES["corpus_ingest"] = dict(n_batches=2, batch_docs=20, probes=2)
            try:
                fa = gen.generate("corpus_ingest", 3, a)
                fb = gen.generate("corpus_ingest", 3, b)
            finally:
                gen.SIZES["corpus_ingest"] = old
            self.assertEqual(fa, fb)

    def test_planted_duplicates_repeat_an_earlier_clean_doc(self):
        with tempfile.TemporaryDirectory() as d:
            gen.ingest_stream(np.random.default_rng(1), d, 4, 60, 2)
            t = pq.read_table(f"{d}/docs.parquet").to_pydict()
            clean = {}
            for text, plant, b in zip(t["text"], t["plant"], t["batch"]):
                if plant == "clean":
                    clean.setdefault(text, b)
            dups = [(text, b) for text, plant, b in zip(t["text"], t["plant"], t["batch"])
                    if plant == "exact_dup"]
            self.assertTrue(dups)
            for text, b in dups:
                self.assertLess(clean[text], b)


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)

    def test_tail_needs_ten_beyond(self):
        self.assertEqual(tail(list(range(19))), (None, None))
        # 20 samples: the 10th value has exactly 10 above it
        self.assertEqual(tail(list(range(20))), (50.0, 9))
        # 100 samples 0..99: p90 is the value with 10 samples beyond it
        self.assertEqual(tail(list(range(100))), (90.0, 89))

    def test_union_length(self):
        self.assertEqual(union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 10},
            {"id": 2, "parent": 1, "start": 1, "end": 4},
            {"id": 3, "parent": 1, "start": 3, "end": 6},   # overlaps 2
            {"id": 4, "parent": 1, "start": 9, "end": 12},  # runs past the parent
            {"id": 5, "parent": 2, "start": 2, "end": 3},
        ]
        st = self_times(spans)
        self.assertEqual(st[1], 10 - 5 - 1)  # children cover [1,6) and [9,10)
        self.assertEqual(st[2], 3 - 1)
        self.assertEqual(st[3], 3)
        self.assertEqual(st[5], 1)


class ReferenceFoldTest(unittest.TestCase):
    def test_latest_record_wins_and_deletes_remove(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"c_custkey": pa.array([1, 2, 3], pa.int64()),
                                     "c_chk": pa.array([10, 20, 30], pa.int64())}),
                           f"{d}/snapshot.parquet")
            pq.write_table(pa.table({
                "c_custkey": pa.array([2, 2, 3, 4], pa.int64()),
                "c_chk": pa.array([21, 22, 0, 40], pa.int64()),
                "cdc_flag": ["U", "U", "D", "I"],
                "cdc_dsn": pa.array([5, 6, 7, 8], pa.int64()),
            }), f"{d}/batch_000.parquet")
            got = check.reference_fold(d)
            # state after: 1->10, 2->22, 4->40
            self.assertEqual(got, [["batch_000.parquet", 4, 3, 1, 3, 72]])


class RecallTest(unittest.TestCase):
    def test_cosine_topk_and_recall(self):
        ids = [10, 11, 12]
        vecs = np.array([[1.0, 0.0], [0.0, 1.0], [0.7, 0.7]])
        exact = check.cosine_topk(ids, vecs, np.array([[1.0, 0.1]]), 2)
        self.assertEqual(exact, [[10, 12]])
        self.assertEqual(check.recall({0: [10, 11]}, {0: exact[0]}), 0.5)


if __name__ == "__main__":
    unittest.main()
