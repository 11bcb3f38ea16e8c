"""Tests of the benchmark's own parts: generator determinism, the tail
percentile rule and the span arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import os
import tempfile
import unittest

import gen
import metrics


def _files(root):
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = p
    return out


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cache = os.path.join(cls.tmp.name, "cache")
        cls.out = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            out = os.path.join(cls.tmp.name, name)
            cls.out[name] = (out, gen.generate("cdc_trickle", seed, out, cache))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_files(self):
        a, b = _files(self.out["a"][0]), _files(self.out["b"][0])
        self.assertEqual(sorted(a), sorted(b))
        for rel in a:
            if rel == "manifest.tsv":
                continue
            self.assertTrue(filecmp.cmp(a[rel], b[rel], shallow=False), rel)
        with open(a["manifest.tsv"]) as fa, open(b["manifest.tsv"]) as fb:
            self.assertEqual(fa.read().replace(self.out["a"][0], ""),
                             fb.read().replace(self.out["b"][0], ""))

    def test_other_seed_gives_other_epochs(self):
        a, c = _files(self.out["a"][0]), _files(self.out["c"][0])
        rel = os.path.join("staged", "e0001", "bookings_0001.json")
        self.assertFalse(filecmp.cmp(a[rel], c[rel], shallow=False))

    def test_epoch_records_add_up(self):
        _, epochs = self.out["a"]
        kind, warm, meas = gen.WORKLOADS["cdc_trickle"]
        self.assertEqual([e.phase for e in epochs],
                         ["base"] + ["warmup"] * warm + ["measured"] * meas)
        for e in epochs[1:]:
            s = e.stats
            self.assertEqual(s["rows"], s["accepted"] + s["rejects"])
            self.assertGreater(s["rejects"], 0)
            self.assertEqual(s["dim_rows"], gen.DIM_DELTA_ROWS)
            self.assertEqual(s["accepted"], s["inserts"] + s["updates"] + s["dups"])
            landed = sum(os.path.getsize(p) for _, p in e.files)
            self.assertEqual(landed, s["landed_bytes"])

    def test_base_cache_is_named_after_the_generator(self):
        import hashlib
        with open(gen.__file__, "rb") as f:
            want = "base-" + hashlib.sha1(f.read()).hexdigest()[:12]
        self.assertEqual(os.listdir(os.path.join(self.tmp.name, "cache")), [want])

    def test_expected_state_holds_every_accepted_key(self):
        import pyarrow.parquet as pq
        out, epochs = self.out["a"]
        fact = pq.read_table(os.path.join(out, "expected", "fact_final.parquet"))
        inserts = sum(e.stats["inserts"] for e in epochs)
        self.assertEqual(fact.num_rows, inserts)
        self.assertEqual(len(set(fact.column("booking_id").to_pylist())), inserts)


class BulkEpochTest(unittest.TestCase):
    def test_bulk_epochs_come_in_pairs_of_row_counts(self):
        rows = gen.BULK_ROWS
        gen.BULK_ROWS = (600, 1200)
        try:
            with tempfile.TemporaryDirectory() as tmp:
                epochs = gen.generate("cdc_bulk_stream", 3, os.path.join(tmp, "out"),
                                      os.path.join(tmp, "cache"))
        finally:
            gen.BULK_ROWS = rows
        targets = [300, 300, 600, 600, 1200, 1200]
        for e, target in zip(epochs[1:], targets):
            s = e.stats
            self.assertGreaterEqual(s["accepted"], target)
            self.assertLess(s["accepted"], target + 4)
            self.assertEqual(s["rows"], s["accepted"] + s["rejects"])
            self.assertEqual(s["accepted"], s["inserts"] + s["updates"] + s["dups"])
            # most rows are later versions of a key already in the batch
            self.assertGreater(s["dups"], s["accepted"] / 2)
            self.assertGreater(s["inserts"], 0)
            self.assertEqual(s["dim_rows"], 0)


class TailTest(unittest.TestCase):
    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0, 4.0]), (2.5, 50, 2))
        self.assertEqual(metrics.tail(list(range(20)))[1], 50)

    def test_percentile_keeps_ten_samples_beyond(self):
        v, q, beyond = metrics.tail(list(range(1, 101)))
        self.assertEqual((v, q, beyond), (90, 90, 10))
        v, q, beyond = metrics.tail(list(range(1, 31)))
        self.assertEqual((q, beyond), (66, 10))
        self.assertEqual(v, 20)


class SpanArithmeticTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(metrics._union([(0, 4), (2, 6), (8, 20)], 1, 10), 7)
        self.assertEqual(metrics._union([], 0, 5), 0)

    def test_every_layer_span_reports_every_count(self):
        names = set(metrics.per_layer_names())
        self.assertLessEqual(len(names), 128)
        for span in metrics.LAYER_SPANS:
            for v in ("s", "driver_s") + metrics.SPARK_COUNTS:
                self.assertIn("%s.%s" % (span, v), names)

    def test_driver_and_uncovered(self):
        result = {
            "spans": [
                {"id": 1, "name": "epoch", "parent": 0, "epoch": 3, "start": 0, "end": 1000,
                 "attrs": {"landed_feed_rows": 100}},
                {"id": 2, "name": "BookingFlow.loadBookingFactBatch", "parent": 1, "epoch": 3,
                 "start": 0, "end": 900, "attrs": {}},
                {"id": 3, "name": "KeyedTable.merge", "parent": 2, "epoch": 3,
                 "start": 100, "end": 600, "attrs": {"bytes_written": 50}},
            ],
            "spark": {"jobs": [{"span": 3, "start": 200, "end": 500, "feed_rows_scanned": 200,
                                "tasks": 4}], "stream": []},
            "epochs": [{"s": 1.0, "traced": True}, {"s": 0.8, "traced": False}],
            "tables": {t: {s: 1 for s in metrics.TABLE_STATS} for t in metrics.TABLES},
        }
        m = metrics.per_layer(result)
        self.assertAlmostEqual(m["KeyedTable.merge.s"], 0.5)
        self.assertAlmostEqual(m["KeyedTable.merge.driver_s"], 0.2)
        self.assertEqual(m["KeyedTable.merge.tasks"], 4)
        self.assertEqual(m["KeyedTable.merge.feed_scan_ratio"], 2.0)
        self.assertAlmostEqual(m["epoch.uncovered_frac"], 0.5)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.2)
        self.assertEqual(sorted(m), sorted(metrics.per_layer_names()))


if __name__ == "__main__":
    unittest.main()
