"""Tests of the benchmark's own machinery (not of the engine).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import tempfile
import unittest
from pathlib import Path

import gen
import metrics


def digest(root):
    h = hashlib.sha256()
    for f in sorted(Path(root).rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


class TailRule(unittest.TestCase):
    def test_percentile_leaves_ten_samples_above(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(metrics.tail(xs), (90, 90.0, 100))
        self.assertEqual(metrics.tail(range(1, 41)), (30, 75.0, 40))

    def test_smallest_sample_count_with_a_tail(self):
        self.assertEqual(metrics.tail(range(1, 12)), (1, 100.0 / 11, 11))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            for w in gen.GENERATORS:
                a, b, c = (Path(d) / w / x for x in "abc")
                pa, ea = gen.generate(w, a, 11)
                pb, eb = gen.generate(w, b, 11)
                gen.generate(w, c, 12)
                self.assertEqual(digest(a), digest(b), w)
                self.assertEqual((pa, ea), (pb, eb), w)
                self.assertNotEqual(digest(a), digest(c), w)

    def test_gsod_archives_hold_gzipped_and_plain_members(self):
        import tarfile
        with tempfile.TemporaryDirectory() as d:
            props, _ = gen.generate("gsod_etl_gbt", Path(d) / "g", 5)
            names = []
            for t in sorted((Path(d) / "g" / "gsod").glob("*.tar")):
                with tarfile.open(t) as tf:
                    names += tf.getnames()
            self.assertEqual(len(names), props["members"])
            self.assertEqual(sum(n.endswith(".op.gz") for n in names), props["gzip_members"])
            self.assertEqual(props["gzip_members"] * 2, props["members"])

    def test_corpus_plants_a_cluster_over_the_star_path_cap(self):
        with tempfile.TemporaryDirectory() as d:
            props, exp = gen.generate("corpus_dedup", Path(d) / "c", 5)
            self.assertGreater(max(len(g) for g in exp["groups"]), 1024)
            self.assertEqual(props["documents"] - sum(len(g) - 1 for g in exp["groups"]),
                             exp["survivors"])


if __name__ == "__main__":
    unittest.main()
