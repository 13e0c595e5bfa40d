"""The input generators are deterministic: one seed gives byte-identical
inputs and manifests, another seed gives other inputs.

    python3 perfbench/test_gen.py
"""
import hashlib
import os
import shutil
import unittest

import gen

TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        ".bench_build", "perfbench-test")


def tree_digest(root):
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        shutil.rmtree(TMP_ROOT, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP_ROOT, ignore_errors=True)

    def digest(self, workload, seed, name):
        dest = os.path.join(TMP_ROOT, name)
        manifest = gen.generate(workload, seed, dest)
        return tree_digest(dest), manifest

    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, ma = self.digest(w, 7, f"{w}-a")
                b, mb = self.digest(w, 7, f"{w}-b")
                self.assertEqual(a, b)
                self.assertEqual(ma, mb)

    def test_seed_changes_inputs(self):
        a, _ = self.digest("wordcount", 7, "wordcount-a")
        b, _ = self.digest("wordcount", 8, "wordcount-b")
        self.assertNotEqual(a, b)


if __name__ == "__main__":
    unittest.main()
