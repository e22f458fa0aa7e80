"""Self-tests of the benchmark's own arithmetic and checks; no Spark.

    python3 perfbench/test_harness.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import oracle  # noqa: E402


def sample(op, rnd, ms, ok=True, out="a", expected="a", first=False, lat=True):
    return {"op": op, "kind": "next", "round": rnd, "ns": int(ms * 1e6), "ok": ok,
            "out": out, "expected": expected, "template": op, "first": first, "lat": lat}


class PercentileRule(unittest.TestCase):
    def test_median_alone_under_forty(self):
        self.assertEqual(metrics.tail_percentile(1), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)

    def test_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(199), 94)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(10000), 95)
        for n in range(40, 500):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10)

    def test_tail_metric_uses_rule(self):
        ms = list(range(1, 101))  # 100 samples: p90
        res = {"samples": [sample("q", m % 4, m, first=m % 10 == 0) for m in ms],
               "setup_s": 1.0, "heap_retained_mb": 1.0, "tail_rounds": 4}
        e2e = metrics.end_to_end(res, [True] * 100)
        self.assertAlmostEqual(e2e["op_p95_ms"], metrics.quantile(ms, 0.90))
        self.assertAlmostEqual(e2e["op_p50_ms"], 50.5)
        self.assertAlmostEqual(e2e["first_op_p50_ms"], 55.0)
        self.assertAlmostEqual(e2e["round_s"], 1.2625)

    def test_tail_over_fixed_rounds(self):
        # 80 answers in the two fixed rounds: p87, whatever a third adds
        ms = list(range(1, 81))
        two = [sample("q", i // 40, m, first=i % 40 == 0) for i, m in enumerate(ms)]
        three = two + [sample("q", 2, 1000 + m) for m in range(40)]
        for samples in (two, three):
            res = {"samples": samples, "setup_s": 1.0, "heap_retained_mb": 1.0, "tail_rounds": 2}
            e2e = metrics.end_to_end(res, [True] * len(samples))
            self.assertAlmostEqual(e2e["op_p95_ms"], metrics.quantile(ms, 0.87))

    def test_latency_sample_is_marked_ops(self):
        # only `lat` operations enter op_p50/op_p95; `first` sets first_op
        samples = [sample("c7", 0, 3000, first=True, lat=False),
                   sample("k11", 0, 6000, lat=False)] + [sample("k15", 0, m) for m in (700, 800, 900)]
        res = {"samples": samples, "setup_s": 1.0, "heap_retained_mb": 1.0, "tail_rounds": 1}
        e2e = metrics.end_to_end(res, [True] * len(samples))
        self.assertAlmostEqual(e2e["op_p50_ms"], 800.0)
        self.assertAlmostEqual(e2e["op_p95_ms"], 800.0)  # under forty: the median
        self.assertAlmostEqual(e2e["first_op_p50_ms"], 3000.0)
        self.assertAlmostEqual(e2e["round_s"], 11.4)


class FailureAccounting(unittest.TestCase):
    def result(self):
        return {"setup_s": 1.0, "heap_retained_mb": 1.0, "etl_problems": [], "tail_rounds": 2, "samples": [
            sample("q", 0, 10, first=True), sample("q", 0, 1000, ok=False, out="error: boom"),
            sample("q", 1, 20, first=True), sample("q", 1, 5000, out="wrong")]}

    def test_thrown_and_wrong_are_failed(self):
        res = self.result()
        checked = metrics.check_climate(res)
        self.assertEqual(checked["good"], [True, False, True, False])
        self.assertFalse(checked["correct"])  # a wrong answer is not correct
        out = metrics.report("climate_qa", res, checked,
                             {"end_to_end": [{"name": "op_p50_ms", "unit": "ms"}]}, False)
        self.assertEqual((out["attempted"], out["failed"]), (4, 2))
        # failed operations stay out of the latency sample
        self.assertAlmostEqual(out["metrics"]["op_p50_ms"]["value"], 15.0)

    def test_thrown_alone_keeps_correct(self):
        res = self.result()
        res["samples"] = res["samples"][:3]
        checked = metrics.check_climate(res)
        self.assertTrue(checked["correct"])
        self.assertEqual(sum(not g for g in checked["good"]), 1)


class Checkers(unittest.TestCase):
    def test_perturbed_answer_rejected(self):
        exp = "Q: What was the wind speed in Mumbai in June 2021?\nMumbai 2021-06 wind_speed: 5.8125 m/s"
        self.assertTrue(metrics.answers_match(exp, exp))
        for bad in (exp.replace("5.8125", "5.8126"), exp.replace("Mumbai 2021", "Delhi 2021"),
                    exp + "\n", exp.replace("m/s", "K"), None):
            self.assertFalse(metrics.answers_match(bad, exp))

    def test_perturbed_table_rejected(self):
        import pandas as pd
        want = pd.DataFrame({"b": [2.5, 1.0], "a": [1, 2]})
        self.assertIsNone(oracle.compare(want.iloc[::-1], want))  # order-free
        self.assertIsNotNone(oracle.compare(pd.DataFrame({"b": [2.5, 1.0000001], "a": [1, 2]}), want))
        self.assertIsNotNone(oracle.compare(pd.DataFrame({"b": [2.5, 1.0], "a": [1.0, 2.0]}), want))
        self.assertIsNotNone(oracle.compare(want.iloc[:1], want))


if __name__ == "__main__":
    unittest.main()
