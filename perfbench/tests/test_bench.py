"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen_bls  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_eleventh_largest_with_its_percentile(self):
        value, pct = metrics.tail(list(range(100)))
        self.assertEqual(pct, 90.0)  # 90..99 lie beyond rank 89: ten samples
        self.assertAlmostEqual(value, 89.5, delta=0.01)

    def test_twenty_samples_give_the_median_rank(self):
        value, pct = metrics.tail([float(x) for x in range(20, 0, -1)])
        self.assertEqual(pct, 50.0)
        self.assertAlmostEqual(value, 10.5, places=6)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))


class QuantileTest(unittest.TestCase):
    def test_beta_cdf_known_values(self):
        self.assertAlmostEqual(metrics.beta_cdf(0.3, 2, 5), 0.579825, places=6)
        self.assertAlmostEqual(metrics.beta_cdf(0.5, 23, 23), 0.5, places=9)

    def test_harrell_davis_median(self):
        self.assertAlmostEqual(metrics.quantile([2.0] * 9, 0.5), 2.0)
        self.assertAlmostEqual(metrics.quantile(list(range(1, 46)), 0.5), 23.0)
        # two clusters: the plain median jumps with one sample, this does not
        a = [1.0] * 22 + [2.0] * 23
        b = [1.0] * 23 + [2.0] * 22
        self.assertLess(metrics.quantile(a, 0.5) - metrics.quantile(b, 0.5), 0.3)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [(0, -1, 0, "op", 0, 100),
                 (1, 0, 0, "a", 10, 50),
                 (2, 0, 0, "b", 30, 70),   # overlaps a over 30..50
                 (3, 0, 0, "c", 90, 120),  # runs past its parent's end
                 (4, 1, 0, "a.x", 20, 30)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - (60 + 10))  # children cover 10..70, 90..100
        self.assertEqual(st[1], 40 - 10)
        self.assertEqual(st[2], 40)
        self.assertEqual(st[4], 10)

    def test_top_self_sums_each_op_and_span(self):
        run = {"ops": [{"id": 0, "name": "q"}, {"id": 1, "name": "q"}],
               "spans": [(0, -1, 0, "op.q", 0, 10**7), (1, 0, 0, "a", 0, 4 * 10**6),
                         (2, -1, 1, "op.q", 0, 10**7), (3, 2, 1, "a", 0, 2 * 10**6),
                         (4, -1, -1, "set-up", 0, 10**9)]}
        self.assertEqual(metrics.top_self(run, 2),
                         [(14.0, 2, "q", "op.q"), (6.0, 2, "q", "a")])


class JobSpanTest(unittest.TestCase):
    def test_union_clipped_to_the_op(self):
        op = {"id": 0, "start_ms": 1000, "wall_s": 0.1}
        # overlapping jobs 990..1030 and 1020..1050, one after the op ends
        span, idle = metrics.job_span_ms(op, [[990, 1030], [1020, 1050], [1090, 1200]])
        self.assertEqual(span, 50 + 10)
        self.assertAlmostEqual(idle, 40.0)

    def test_per_layer_means(self):
        run = {"ops": [{"id": 0, "start_ms": 0, "wall_s": 0.1},
                       {"id": 1, "start_ms": 500, "wall_s": 0.3}],
               "jobs": {"0": [[0, 50]], "1": [[500, 600], [550, 650]]},
               "layers": {"0": {"spark.run_ms": 100.0}, "1": {"spark.run_ms": 300.0}},
               "spans": []}
        out = metrics.per_layer(run)
        self.assertEqual(out["spark.job_span_ms"], (50 + 150) / 2)
        self.assertEqual(out["spark.idle_ms"], (50 + 150) / 2)
        self.assertEqual(out["spark.busy_share"], 400 / (200 * 4))


class ErrorRateTest(unittest.TestCase):
    def test_thrown_and_wrong_both_count(self):
        ops = [{"id": 0, "name": "q_a", "err": None},
               {"id": 1, "name": "q_b", "err": "IllegalStateException: boom"},
               {"id": 2, "name": "q_c", "err": None},
               {"id": 3, "name": "q_a", "err": None},
               {"id": 4, "name": "q_d", "err": None}]
        # q_a's result was wrong (both of its runs fail); op 4 was wrong
        self.assertEqual(metrics.failed_ops(ops, {"q_a": "x", 4: "y"}), {0, 1, 3, 4})
        self.assertEqual(metrics.error_rate(ops, {"q_a": "x", 4: "y"}), 4 / 5)
        self.assertEqual(metrics.error_rate(ops, {}), 1 / 5)

    def test_success_rate_reports_the_failures(self):
        run = {"ops": [{"id": i, "name": "cycle", "err": None, "wall_s": 1.0 + i,
                        "cpu_s": 2.0} for i in range(20)],
               "session_s": 2.0, "prep_s": 0.5,
               "mem_live_mb": 100.0}
        run["ops"][5]["err"] = "boom"
        values, pct = metrics.end_to_end(run, {7: "wrong"})
        self.assertEqual(values["success_rate"], 18 / 20)
        self.assertEqual(values["setup_s"], 2.5)
        self.assertAlmostEqual(values["op_s.tail"], 10.5, places=6)
        self.assertAlmostEqual(values["op_s.p50"], 10.5, places=6)
        self.assertEqual(pct, 50.0)


class OracleCheckTest(unittest.TestCase):
    def test_last_run_is_checked_too(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as t:
            tables, work = os.path.join(t, "tables"), os.path.join(t, "work")
            os.makedirs(tables)
            for name in checks.TABLES:
                pd.DataFrame({"x": [1, 2]}).to_parquet(
                    os.path.join(tables, f"{name}.parquet"), index=False)
            os.makedirs(work)
            with open(os.path.join(work, "oracle.json"), "w") as f:
                json.dump({"q": "SELECT sum(x) AS s FROM region"}, f)
            for capture, value in (("first", 3), ("last", 4)):
                out = os.path.join(work, "results", capture, "q")
                os.makedirs(out)
                pd.DataFrame({"s": [value]}).to_parquet(
                    os.path.join(out, "part-0.parquet"), index=False)
            errors = checks.oracle(tables, work, ["q"])
        self.assertEqual(list(errors), ["q"])
        self.assertTrue(errors["q"].startswith("last run:"), errors["q"])


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


SF01_MD5 = {
    "customer.parquet": "ffd1bdbe4ad26fdb44d8828952721fda",
    "documents.parquet": "dc9fbed08ada35e8c6330d6dc891c6cb",
    "embeddings.parquet": "bbd0e892440de45163b6f5c5e446ff36",
    "events.parquet": "691aa6e990e995f082f4018c30fd420e",
    "lineitem.parquet": "d1e0f893f9bcbaef78535bdf129dabdd",
    "nation.parquet": "eb8bb1a90c994e9ba84ea39fd815de7d",
    "orders.parquet": "cbfc535d571e9421a97fe082e8a6483c",
    "part.parquet": "94341a52dc476b8a1cda3852a93753c9",
    "region.parquet": "08444b66d3716cd4d37e69727f7b9278",
    "supplier.parquet": "19c6bf95395c24996bb9e3ac29aedd59",
}


class GeneratorTest(unittest.TestCase):
    def test_daily_inputs_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, n) for n in "abc")
            log_a = gen_bls.generate(a, 7, 3)
            log_b = gen_bls.generate(b, 7, 3)
            gen_bls.generate(c, 8, 3)
            self.assertTrue(_same_tree(a, b))
            self.assertFalse(_same_tree(a, c))
            self.assertEqual(log_a, log_b)
            self.assertEqual(log_a["0001"], {"insert": 2, "update": 4, "delete": 2})

    def test_default_tables_are_the_sf01_data_set(self):
        # md5 of each file of the sf0.1 data set graft's queries target,
        # as pyarrow 16.1.0 wrote it
        if pyarrow.__version__ != "16.1.0":
            self.skipTest(f"digests hold for pyarrow 16.1.0, not {pyarrow.__version__}")
        with tempfile.TemporaryDirectory() as t:
            gen_tables.write(t)
            got = {}
            for f in sorted(os.listdir(t)):
                with open(os.path.join(t, f), "rb") as fh:
                    got[f] = hashlib.md5(fh.read()).hexdigest()
        self.assertEqual(got, SF01_MD5)

    def test_query_tables_follow_the_seed(self):
        a, b, c = gen_tables.tables(1), gen_tables.tables(1), gen_tables.tables(2)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertEqual(len(a["lineitem"]), 600000)


if __name__ == "__main__":
    unittest.main()
