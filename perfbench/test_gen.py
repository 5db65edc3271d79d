#!/usr/bin/env python3
"""The input generator is a function of its seed.

    python3 perfbench/test_gen.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SF = 0.002


class GeneratorSeedTest(unittest.TestCase):
    def generate(self, seed, **kw):
        with tempfile.TemporaryDirectory() as d:
            return gen.generate(seed, d, SF, **kw)

    def test_same_seed_same_hashes(self):
        self.assertEqual(self.generate(11), self.generate(11))

    def test_other_seed_other_hashes(self):
        a, b = self.generate(11), self.generate(12)
        # region and nation are fixed dimension tables
        for t in gen.TABLES:
            if t not in ("region", "nation"):
                self.assertNotEqual(a[t][1], b[t][1], t)

    def test_events_batches_differ(self):
        a = self.generate(11, tables=["events"], events_part=1)
        b = self.generate(11, tables=["events"], events_part=2)
        self.assertNotEqual(a["events"][1], b["events"][1])
        self.assertEqual(a["events"][0], b["events"][0])

    def test_properties(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(5, d, 0.01)
            import pyarrow.parquet as pq
            ev = pq.read_table(os.path.join(d, "events.parquet")).to_pandas()
            self.assertEqual(ev.user_id.nunique(), 150)
            self.assertAlmostEqual(len(ev) / 150, gen.EVENTS_PER_USER, delta=0.5)
            docs = pq.read_table(os.path.join(d, "documents.parquet")).to_pandas()
            dup = docs.text.str.endswith(" dup").mean()
            self.assertAlmostEqual(dup, gen.NEAR_DUP_FRACTION, delta=0.02)
            self.assertTrue((docs.n_chars == docs.text.str.len()).all())
            for t in gen.TABLES:
                self.assertEqual(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).num_row_groups, 1)


if __name__ == "__main__":
    unittest.main()
