"""Seeded generation: one seed, one input set; two seeds, two input sets
with the same schemas and sizes."""
import filecmp
import glob
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def files(root):
    return sorted(os.path.relpath(p, root) for p in glob.glob(f"{root}/**/*", recursive=True)
                  if os.path.isfile(p))


class Seeds(unittest.TestCase):
    def check(self, workload):
        with tempfile.TemporaryDirectory() as d:
            a, a2, b = f"{d}/a", f"{d}/a2", f"{d}/b"
            sa = gen.generate(workload, a, 1)
            gen.generate(workload, a2, 1)
            sb = gen.generate(workload, b, 2)
            self.assertEqual(files(a), files(b))
            self.assertEqual(files(a), files(a2))
            same_seed_differs = [f for f in files(a)
                                 if not filecmp.cmp(f"{a}/{f}", f"{a2}/{f}", shallow=False)]
            self.assertEqual(same_seed_differs, [], "same seed must give the same inputs")
            differ = 0
            for f in files(a):
                if f.endswith(".parquet"):
                    ta, tb = pq.read_table(f"{a}/{f}"), pq.read_table(f"{b}/{f}")
                    self.assertEqual(ta.schema, tb.schema, f)
                    self.assertEqual(ta.num_rows, tb.num_rows, f)
                    differ += not ta.equals(tb)
                else:
                    differ += not filecmp.cmp(f"{a}/{f}", f"{b}/{f}", shallow=False)
            self.assertGreater(differ, 0, "two seeds must give different inputs")
            return sa, sb

    def test_dashboard_inputs(self):
        self.check("dashboard_sql")

    def test_web_ingest_inputs(self):
        sa, sb = self.check("web_ingest_stream")
        self.assertEqual(sa["pages"]["pages_per_batch"], sb["pages"]["pages_per_batch"])


if __name__ == "__main__":
    unittest.main()
