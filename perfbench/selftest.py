"""Self-tests of the benchmark's own logic.

    python3 perfbench/selftest.py

``IndexWriteCheck`` starts a small local Spark session; the other tests
need none.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from tracing import self_time, union_length  # noqa: E402


class SelfTime(unittest.TestCase):
    def test_union(self):
        self.assertEqual(union_length([(1, 3), (2, 5), (7, 8)]), 5)
        self.assertEqual(union_length([]), 0)

    def test_overlapping_and_clipped_children(self):
        # parent [0, 10]; children cover [1, 5] and [8, 10] (clipped)
        self.assertEqual(self_time(0, 10, [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children_and_full_cover(self):
        self.assertEqual(self_time(2, 7, []), 5)
        self.assertEqual(self_time(0, 4, [(-1, 2), (2, 9)]), 0)


class InjectedWrongRow(unittest.TestCase):
    def test_wrong_row_counts_as_failure(self):
        from pyspark.sql import Row

        import run
        import workloads
        from tracing import Op

        cols = ["word", "cnt"]
        good = [Row(word="spark", cnt=3), Row(word="scan", cnt=1)]
        wl = workloads.Batch()
        wl.expected = {"q09_wordcount": workloads._digest(
            cols, [("scan", 1), ("spark", 3)])}
        ops = []
        for rows in (good, good[::-1], good + [Row(word="zzz", cnt=1)],
                     [Row(word="spark", cnt=3), Row(word="scan", cnt=2)]):
            op = Op(len(ops) + 1, "q09_wordcount", "query", 1)
            op.output = (rows, cols)
            ops.append(op)
        attempted, failed = run.tally(wl, ops)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertGreater(failed / attempted, 0)

    def test_float_bits_are_compared_exactly(self):
        import workloads

        a = workloads._digest(["x"], [(0.1 + 0.2,)])
        b = workloads._digest(["x"], [(0.3,)])
        self.assertNotEqual(a, b)


class IndexWriteCheck(unittest.TestCase):
    """The write half of the index pass is checked: a pass whose append
    writes nothing is counted as failed."""

    @classmethod
    def setUpClass(cls):
        import datagen
        import run
        import workloads

        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        cls.root = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(cls.root, "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        cls.spark = run.start_spark(cls.root, 2)
        cls.env = workloads.Env(cls.spark, cls.root, seed=5)
        datagen.generate(cls.env.seed, cls.env.data)
        cls.wl = workloads.IndexLifecycle()
        cls.wl.build(cls.env)
        con = workloads.duck_connect(cls.env.data)
        cls.wl.expect(cls.env, con)
        con.close()

    @classmethod
    def tearDownClass(cls):
        import run

        run.stop_spark(cls.spark)
        shutil.rmtree(cls.root, ignore_errors=True)

    def _pass(self):
        import run
        from tracing import Recorder

        rec = Recorder()
        self.wl.step(self.env, rec)
        return run.tally(self.wl, rec.ops)

    def test_clean_pass(self):
        attempted, failed = self._pass()
        self.assertEqual(failed, 0)
        self.assertEqual(attempted, 5)

    def test_noop_append_fails(self):
        from renoir_spark.dedup_index import DedupIndex

        real = DedupIndex.append
        DedupIndex.append = lambda self, batch: None
        try:
            attempted, failed = self._pass()
        finally:
            DedupIndex.append = real
        self.assertGreater(failed / attempted, 0)


class MetricParsing(unittest.TestCase):
    def test_sql_metric_strings(self):
        from tracing import parse_metric

        self.assertEqual(parse_metric(
            "total (min, med, max (stageId: taskId))\n5.3 s (1.3 s, 1.3 s, 1.4 s)"), 5300.0)
        self.assertEqual(parse_metric("81.9 KiB"), 81.9 * 1024)
        self.assertEqual(parse_metric(None), 0.0)


if __name__ == "__main__":
    unittest.main()
