"""Tests for the benchmark's own logic.

    python3 -m unittest perfbench/test_perfbench.py      # from the checkout root

The season test builds the engine and harness (as run.py does) and runs
the generator self-check in a JVM; the others are pure Python.
"""
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0]), 3.0)
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(stats.percentile(xs, 0), 15)
        self.assertEqual(stats.percentile(xs, 100), 50)
        self.assertEqual(stats.percentile(xs, 50), 35)
        self.assertAlmostEqual(stats.percentile(xs, 40), 29.0)
        self.assertAlmostEqual(stats.percentile(list(range(1, 11)), 90), 9.1)
        with self.assertRaises(ValueError):
            stats.percentile(xs, 101)

    def test_quartile_spread(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual((q1, q3), (2.75, 8.25))
        self.assertAlmostEqual(stats.quartile_spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.quartile_spread([2.0] * 10), 0.0)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


class SelfTime(unittest.TestCase):
    def test_leaf_and_nested(self):
        spans = [span(0, -1, 0, 10, "run"), span(1, 0, 1, 4, "a"),
                 span(2, 1, 2, 3, "b")]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 7)
        self.assertAlmostEqual(st[1], 2)
        self.assertAlmostEqual(st[2], 1)
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 1, 5), span(2, 0, 3, 7),
                 span(3, 0, 6, 8)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 7)  # union of children = [1, 8]

    def test_children_clipped_to_parent(self):
        spans = [span(0, -1, 2, 6), span(1, 0, 0, 3), span(2, 0, 5, 9)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 4 - 1 - 1)

    def test_by_name(self):
        spans = [span(0, -1, 0, 10, "run"), span(1, 0, 0, 2, "q"),
                 span(2, 0, 5, 8, "q")]
        self.assertEqual(stats.self_time_by_name(spans), {"run": 5, "q": 5})


class Generators(unittest.TestCase):
    def test_same_seed_same_documents(self):
        import numpy as np
        a, sa = gen.documents(np.random.default_rng(7), 300)
        b, sb = gen.documents(np.random.default_rng(7), 300)
        self.assertTrue(a.equals(b))
        self.assertEqual(sa, sb)
        self.assertGreater(sa["near_dups"], 0)
        self.assertGreater(sa["exact_dups"], 0)

    def test_stream_split(self):
        d = tempfile.mkdtemp()
        try:
            info = gen.stream_docs(3, 100, 30, d, per_file=20)
            self.assertEqual(info, {"seed_docs": 30, "stream_docs": 70})
            self.assertEqual(len(os.listdir(os.path.join(d, "batches"))), 4)
        finally:
            shutil.rmtree(d)


class Season(unittest.TestCase):
    """The season generator's JSON parses under FplSchemas with zero
    corrupt records and respects the load DDL checks."""

    def test_season_selftest(self):
        import run
        root = os.path.dirname(HERE)
        build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        classes, _ = run.build(root, build_dir)
        work = tempfile.mkdtemp(dir=build_dir)
        try:
            cp = f"{classes}:{os.path.join(run.spark_jars(root), '*')}"
            opens = sum((["--add-opens", f"{p}=ALL-UNNAMED"] for p in run.ADD_OPENS), [])
            for seed in (1, 2):
                r = subprocess.run(
                    ["java", "-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={work}"] + opens +
                    ["-cp", cp, "perfbench.SelfTest", work, str(seed), "120"],
                    stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                    timeout=300)
                lines = [l for l in r.stdout.splitlines() if l[:4] in ("ok  ", "FAIL")]
                self.assertEqual(r.returncode, 0, "\n".join(lines) or r.stdout[-3000:])
                self.assertTrue(lines and all(l.startswith("ok") for l in lines))
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
