"""Tests of the benchmark's own code: input generation and the metric
helpers. No JVM needed.

    python3 perfbench/test_perfbench.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402


def tiny_fixture(d):
    """A fixture with every table gen.py reads, a few hundred rows each."""
    ints = lambda n: pa.array(range(1, n + 1), pa.int64())  # noqa: E731
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32())},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32())},
        "customer": {"c_custkey": ints(50)},
        "supplier": {"s_suppkey": ints(10)},
        "part": {"p_partkey": ints(40)},
        "orders": {"o_orderkey": ints(400),
                   "o_custkey": pa.array([i % 50 + 1 for i in range(400)],
                                         pa.int64())},
        "lineitem": {"l_orderkey": pa.array([i // 4 + 1 for i in range(1600)],
                                            pa.int64()),
                     "l_linenumber": pa.array([i % 4 for i in range(1600)],
                                              pa.int32())},
        "events": {"event_id": ints(600),
                   "user_id": pa.array([i % 70 for i in range(600)],
                                       pa.int64())},
        "documents": {"doc_id": ints(300),
                      "text": pa.array([f"doc {i}" for i in range(300)])},
        "embeddings": {"vec_id": ints(200)},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def digest(d):
    h = hashlib.sha256()
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GenerateTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.src = os.path.join(cls.tmp.name, "fixture")
        os.makedirs(cls.src)
        tiny_fixture(cls.src)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def gen(self, seed, name):
        dst = os.path.join(self.tmp.name, name)
        stats = gen.generate(self.src, dst, seed, 0.5)
        return dst, stats

    def test_same_seed_gives_identical_inputs(self):
        a, _ = self.gen(7, "a")
        b, _ = self.gen(7, "b")
        self.assertEqual(digest(a), digest(b))

    def test_other_seed_gives_other_inputs(self):
        a, sa = self.gen(7, "c")
        b, sb = self.gen(8, "d")
        self.assertNotEqual(digest(a), digest(b))
        self.assertNotEqual(sa["orders"]["rows"], 0)
        self.assertNotEqual(sb["orders"]["rows"], 0)

    def test_lineitem_follows_orders_and_layout_is_kept(self):
        d, stats = self.gen(3, "e")
        orders = set(pq.read_table(os.path.join(d, "orders.parquet"))
                     .column("o_orderkey").to_pylist())
        items = pq.read_table(os.path.join(d, "lineitem.parquet"))
        self.assertTrue(set(items.column("l_orderkey").to_pylist()) <= orders)
        self.assertEqual(items.num_rows, 4 * len(orders))
        self.assertEqual(sorted(os.listdir(d)),
                         sorted(f"{t}.parquet" for t in gen.TABLES))
        # dimension tables keep every row, and so do documents, whose
        # planted near-dup pairs would not survive sampling by id
        self.assertEqual(stats["part"]["rows"], 40)
        self.assertEqual(stats["documents"]["rows"], 300)


class MetricsTest(unittest.TestCase):
    def test_call_site_maps_to_first_graft_frame(self):
        stack = "\n".join([
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:3462)",
            "graft.ext.Dedup$.jaccardPairs(Dedup.scala:120)",
            "graft.DedupQueries$.$anonfun$all$5(DedupQueries.scala:98)",
            "perfbench.Harness$.main(Harness.scala:80)"])
        self.assertEqual(metrics.module_of(stack), "Dedup")
        # a shared helper called on Dedup's behalf: still Dedup's job
        self.assertEqual(metrics.module_of(
            "graft.ops.RelationalOps$.materialized(RelationalOps.scala:27)\n"
            + stack), "Dedup")
        self.assertEqual(metrics.module_of(
            "graft.ops.RelationalOps$.exactPercentile(RelationalOps.scala:9)\n"
            "graft.CoreQueries$.$anonfun$all$9(CoreQueries.scala:120)"),
            "ops")
        self.assertEqual(metrics.module_of(
            "graft.ml.Recsys$.fitAls(Recsys.scala:33)"), "Recsys")
        self.assertEqual(metrics.module_of(
            "graft.CoreQueries$.$anonfun$all$1(CoreQueries.scala:20)"),
            "QueryRegistry")
        self.assertEqual(metrics.module_of(
            "graft.Staging$.dir(Staging.scala:27)"), "Staging")
        self.assertEqual(metrics.module_of(
            "perfbench.Harness$.main(Harness.scala:80)"), "other")
        self.assertEqual(metrics.module_of(""), "other")

    def test_percentile_needs_ten_samples_beyond(self):
        v, beyond = metrics.percentile(range(19), 0.5)
        self.assertIsNone(v)
        self.assertEqual(beyond, 9)
        v, beyond = metrics.percentile(range(21), 0.5)
        self.assertEqual((v, beyond), (10, 10))
        self.assertIsNone(metrics.percentile(range(99), 0.9)[0])
        v, beyond = metrics.percentile(range(100), 0.9)
        self.assertEqual((v, beyond), (89, 10))
        self.assertEqual(metrics.percentile([], 0.5), (None, 0))

    def test_thrown_query_raises_error_rate(self):
        clean = metrics.error_rate(10, [], [], [])
        self.assertEqual(clean, (0, 10, 0.0))
        failed, attempted, rate = metrics.error_rate(
            10, [["q07/pass0", "boom"]], [], [])
        self.assertEqual((failed, attempted), (1, 10))
        self.assertGreater(rate, clean[2])

    def test_oracle_mismatch_raises_error_rate(self):
        out = "PASS q01: rows=3 hash_match=True\nFAIL q02: value mismatch\n"
        bad = metrics.oracle_verdicts(out, ["q01", "q02"])
        self.assertEqual(bad, ["q02"])
        self.assertEqual(metrics.error_rate(10, [], bad, [])[2], 0.1)

    def test_query_that_threw_is_counted_once(self):
        # the warm-up throw also leaves no output for the oracle to check
        failed, _, _ = metrics.error_rate(
            10, [["q02", "boom"]], ["q02"], ["q02"])
        self.assertEqual(failed, 1)

    def test_union_of_job_intervals(self):
        self.assertEqual(metrics._union_ms([(0, 5), (3, 8), (10, 12)], 1, 11),
                         8)


if __name__ == "__main__":
    unittest.main()
