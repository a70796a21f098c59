"""One seed always yields byte-identical inputs; another seed yields others."""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def generate(seed, root):
    gen.gen_serve(seed, os.path.join(root, "serve"), 8, 2)
    gen.gen_ingest(seed, os.path.join(root, "ingest"), 6)
    gen.gen_analytics(seed, os.path.join(root, "analytics"), n_lineitem=3000)


def files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate(11, a)
            generate(11, b)
            self.assertEqual(files(a), files(b))
            self.assertGreater(len(files(a)), 10)
            for f in files(a):
                self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False), f)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            generate(11, a)
            generate(12, b)
            differ = [f for f in files(a)
                      if not filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)]
            self.assertIn(os.path.join("ingest", "cycles.jsonl"), differ)
            self.assertIn(os.path.join("serve", "ops.jsonl"), differ)
            self.assertIn(os.path.join("analytics", "lineitem.parquet"), differ)


if __name__ == "__main__":
    unittest.main()
