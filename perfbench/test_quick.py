"""The benchmark's own tests: generator determinism and quick mode.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Quick mode builds the repo on first use and starts Spark JVMs, so the
second test takes minutes.
"""

import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    # dircmp compares shallowly; confirm byte equality
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for w in ("cdc_ingest", "stream_ingest", "dedup_batch"):
                a, b, c = (os.path.join(t, f"{w}-{x}") for x in "abc")
                gen.generate(w, 5, 0.001, a, 3)
                gen.generate(w, 5, 0.001, b, 3)
                gen.generate(w, 6, 0.001, c, 3)
                self.assertTrue(same_tree(a, b), w)
                self.assertFalse(same_tree(a, c), w)

    def test_planted_pairs_are_near_duplicates(self):
        with tempfile.TemporaryDirectory() as t:
            import pyarrow.parquet as pq
            gen.generate("dedup_batch", 5, 0.001, t, 0)
            docs = pq.read_table(os.path.join(t, "docs.parquet")).to_pydict()
            text = dict(zip(docs["doc_id"], docs["text"]))
            pairs = pq.read_table(os.path.join(t, "planted_docs.parquet")).to_pydict()
            self.assertGreater(len(pairs["id_a"]), 0)
            for a, b in zip(pairs["id_a"], pairs["id_b"]):
                wa, wb = text[a].split(" "), text[b].split(" ")
                self.assertEqual(len(wa), len(wb))
                self.assertLessEqual(sum(x != y for x, y in zip(wa, wb)), 1)


class QuickModeTest(unittest.TestCase):
    def test_every_metric_is_emitted(self):
        root = os.path.dirname(HERE)
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--quick"],
                           cwd=root, capture_output=True, text=True, timeout=1800)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"], r.stdout[-3000:])


if __name__ == "__main__":
    unittest.main()
