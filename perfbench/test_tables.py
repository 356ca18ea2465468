"""The registry table generator is deterministic in its seed.

    python3 perfbench/test_tables.py
"""

import filecmp
import os
import tempfile
import unittest

import tables


class TablesTest(unittest.TestCase):

    def test_same_seed_gives_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 1), ("b", 1), ("c", 2)):
                tables.generate(os.path.join(d, name), seed, 0.001)
            files = sorted(os.listdir(os.path.join(d, "a")))
            self.assertEqual(len(files), 5)
            same, diff, _ = filecmp.cmpfiles(
                os.path.join(d, "a"), os.path.join(d, "b"), files,
                shallow=False)
            self.assertEqual((len(same), diff), (5, []))
            _, diff, _ = filecmp.cmpfiles(
                os.path.join(d, "a"), os.path.join(d, "c"), files,
                shallow=False)
            self.assertEqual(len(diff), 5)


if __name__ == "__main__":
    unittest.main()
