"""Self-checks of the benchmark's reporting: python3 -m unittest discover perfbench/tests"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import run  # noqa: E402

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")


def op(pass_, s, ok=True, error=None, kind="query", name="q", module="Analytics"):
    return {"pass": pass_, "kind": kind, "name": name, "module": module, "s": s,
            "ok": ok, "error": error}


def result(ops, checks=(), facts=None):
    return {"ops": list(ops), "checks": list(checks), "setup_s": 2.0,
            "rss_peak_mb": 900.0, "facts": facts or {}, "posture": {"nproc": 4}}


class OracleCheck(unittest.TestCase):
    """A thrown query and a wrong result both fail, judged by
    check_oracle.py's canonical hash on a result written as parquet."""

    def setUp(self):
        import pandas as pd
        self.co = run.checker(ROOT)
        self.dir = tempfile.TemporaryDirectory()
        self.oracle = pd.DataFrame({"word": ["a", "b"], "cnt": [2, 1]})
        for name, df in (("same", pd.DataFrame({"cnt": [1, 2], "word": ["b", "a"]})),
                         ("wrong", pd.DataFrame({"word": ["a", "b"], "cnt": [2, 2]})),
                         ("short", pd.DataFrame({"word": ["a"], "cnt": [2]}))):
            os.makedirs(f"{self.dir.name}/{name}")
            df.to_parquet(f"{self.dir.name}/{name}/part-0.parquet")
        self.want = {"q": run.fingerprint(self.co, self.oracle)}

    def tearDown(self):
        self.dir.cleanup()

    def verdict(self, rec):
        run.check(self.co, rec, "q", self.want, self.dir.name)
        return rec["ok"], rec["error"]

    def test_same_rows_in_another_order_pass(self):
        self.assertEqual(self.verdict({"result": "same", "error": None}), (True, None))

    def test_wrong_values_fail(self):
        self.assertEqual(self.verdict({"result": "wrong", "error": None}),
                         (False, "values differ from oracle"))

    def test_wrong_row_count_fails(self):
        self.assertEqual(self.verdict({"result": "short", "error": None}),
                         (False, "rows 1 != oracle 2"))

    def test_thrown_fails(self):
        self.assertEqual(self.verdict({"result": None, "error": "threw X: boom"}),
                         (False, "threw X: boom"))

    def test_oracle_error_fails(self):
        rec = {"result": "same", "error": None}
        run.check(self.co, rec, "q", {"q": {"error": "oracle SQL error: x"}}, self.dir.name)
        self.assertFalse(rec["ok"])


class Verdicts(unittest.TestCase):
    def test_thrown_and_wrong_results_both_fail(self):
        r = result([op("first", 1.0),
                    op("first", 0.5, ok=False, error="threw RuntimeException: boom"),
                    op("repeat", 0.2, ok=False, error="values differ from oracle")],
                   checks=[{"name": "warm stageAll writes nothing", "ok": True, "error": None}])
        sweep = {"q1": {"ok": True, "error": None},
                 "q2": {"ok": False, "error": "rows 3 != oracle 4"}}
        attempted, failed, failures = run.verdicts(r, sweep)
        self.assertEqual(attempted, 6)
        self.assertEqual(failed, 3)
        self.assertTrue(any("boom" in f for f in failures))
        self.assertTrue(any("differ" in f for f in failures))
        self.assertTrue(any(f.startswith("sweep q2") for f in failures))

    def test_failed_check_counts(self):
        r = result([op("first", 1.0)],
                   checks=[{"name": "x", "ok": False, "error": "3 files written"}])
        self.assertEqual(run.verdicts(r, {})[:2], (2, 1))


class Tail(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(run.tail(list(range(100)))[0], 90)
        self.assertEqual(run.tail(list(range(212)))[0], 95)
        self.assertEqual(run.tail(list(range(1000)))[0], 99)
        self.assertEqual(run.tail(list(range(53)))[0], 75)

    def test_at_least_ten_samples_beyond(self):
        for n in (20, 40, 53, 99, 100, 199, 200, 212, 999, 1000, 10000):
            xs = list(range(n))
            p, v = run.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10 - 1, (n, p))
            self.assertGreaterEqual(n * (100 - p) / 100, 10, (n, p))

    def test_too_few_samples(self):
        self.assertIsNone(run.tail(list(range(7))))

    def test_percentile_nearest_rank(self):
        self.assertEqual(run.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(run.percentile(list(range(1, 101)), 90), 90)


class Metrics(unittest.TestCase):
    def sample(self):
        ops = [op("first", 1.0, module="Analytics"), op("first", 3.0, module="Dedup"),
               op("repeat", 0.5), op("repeat", 0.25),
               op("serve", 0.4, kind="ingest", name="ingest", module="AnnStream")]
        return result(ops, facts={"window_s": 5.0, "spark.task_run_s": 10.0})

    def test_end_to_end(self):
        m = run.end_to_end(self.sample())
        self.assertEqual(set(m), {n for n, _ in run.END_TO_END})
        self.assertEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["first_total_s"], 4.0)  # serving ops are a pass of their own
        self.assertEqual(m["first_p50_s"], 2.0)
        self.assertEqual(m["repeat_total_s"], 0.75)

    def test_op_stats(self):
        st = run.op_stats(self.sample())
        self.assertEqual(st["first.query"]["n"], 2)
        self.assertEqual(st["serve.ingest"]["p50_s"], 0.4)
        self.assertIsNone(st["repeat.query"]["tail_p"])

    def test_metric_names(self):
        names = list(run.per_layer(self.sample(), 0.0)) + [n for n, _ in run.END_TO_END]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def test_query_modules_sum_to_first_total(self):
        r = self.sample()
        m = run.per_layer(r, 0.0)
        first_queries = sum(v for k, v in m.items() if k.startswith("query.") and k.endswith(".first_s"))
        self.assertAlmostEqual(first_queries, 4.0)
        self.assertAlmostEqual(m["spark.core_busy_frac"], 0.5)


if __name__ == "__main__":
    unittest.main()
