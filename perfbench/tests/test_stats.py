"""Tests of the benchmark's own arithmetic: the tail rule, failure
accounting, the digest check, the spread, and that run.py computes every
end-to-end metric BENCHMARK.json declares.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import compare  # noqa: E402
import run  # noqa: E402


def raw_record(samples_by_op, digests, failures=(), pass_s=(3.0, 3.5, 4.0)):
    return {
        "workload": "relational",
        "setup_s": 20.0,
        "pass_s": list(pass_s),
        "ops": [{"name": n, "samples": s, "attempted": len(s) + 1,
                 "digest": digests[n]} for n, s in samples_by_op.items()],
        "failures": list(failures),
        "peak_rss_mb": 2000.0,
    }


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(run.tail([1.0] * 10))

    def test_exactly_ten_samples_beyond(self):
        samples = [float(i) for i in range(1, 31)]  # 1..30
        value, pct, n = run.tail(samples)
        self.assertEqual(n, 30)
        self.assertEqual(value, 20.0)
        self.assertEqual(sum(1 for x in samples if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_order_does_not_matter(self):
        samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
        self.assertEqual(run.tail(samples), run.tail(sorted(samples)))
        self.assertEqual(run.tail(samples)[0], 1.0)


class FailureAccounting(unittest.TestCase):
    expected = {"relational": {"q01": "6:1", "q02": "7:2"}}

    def test_clean_run(self):
        raw = raw_record({"q01": [1.0, 1.1], "q02": [2.0, 2.2]},
                         {"q01": "6:1", "q02": "7:2"})
        e2e, extra, attempted, failed = run.summarize(raw, self.expected)
        self.assertEqual((attempted, failed), (6, 0))
        self.assertEqual(extra["error_rate"], 0.0)
        self.assertEqual(e2e["total_s"], 3.5)

    def test_wrong_output_counts_as_a_failure(self):
        raw = raw_record({"q01": [1.0, 1.1], "q02": [2.0, 2.2]},
                         {"q01": "6:1", "q02": "7:999"})
        _, extra, attempted, failed = run.summarize(raw, self.expected)
        self.assertEqual(failed, 1)
        self.assertEqual(extra["bad_digests"], ["q02"])
        self.assertAlmostEqual(extra["error_rate"], 1 / 6)

    def test_thrown_operation_stays_in_the_totals(self):
        # q02 threw in one timed pass: it is a failure, and its sample (the
        # time until it threw) and its pass time are kept, never dropped
        raw = raw_record({"q01": [1.0, 1.1], "q02": [2.0, 0.3]},
                         {"q01": "6:1", "q02": "7:2"},
                         failures=["q02 (pass 1): SparkException: boom"])
        e2e, extra, attempted, failed = run.summarize(raw, self.expected)
        self.assertEqual((attempted, failed), (6, 1))
        self.assertEqual(extra["samples"], 4)
        self.assertEqual(e2e["total_s"], 3.5)

    def test_warm_up_error_counted_once(self):
        raw = raw_record({"q01": [1.0, 1.1], "q02": [2.0, 2.2]},
                         {"q01": "6:1", "q02": "error"},
                         failures=["q02 (warm-up): AnalysisException: no"])
        _, _, _, failed = run.summarize(raw, self.expected)
        self.assertEqual(failed, 1)

    def test_missing_expected_digest_is_a_failure(self):
        self.assertEqual(run.check_digests("relational", {"q01": "6:1"}, {}), ["q01"])
        self.assertEqual(
            run.check_digests("relational", {"q01": "6:1"}, self.expected), ["q02"])


class Spread(unittest.TestCase):
    def test_matches_quantiles(self):
        v = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        q1, q2, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(compare.spread(v), (q3 - q1) / q2)

    def test_worse_by_respects_direction(self):
        self.assertAlmostEqual(compare.worse_by(10.0, 11.0, "lower"), 0.1)
        self.assertAlmostEqual(compare.worse_by(10.0, 11.0, "higher"), -0.1)


class Contract(unittest.TestCase):
    def test_every_end_to_end_metric_has_a_value(self):
        raw = raw_record({"q01": [1.0, 1.1, 1.2], "q02": [2.0, 2.2, 2.1]},
                         {"q01": "6:1", "q02": "7:2"})
        e2e, _, _, _ = run.summarize(raw, {})
        for m in run.SPEC["end_to_end"]:
            self.assertIsNotNone(e2e.get(m["name"]), m["name"])


if __name__ == "__main__":
    unittest.main()
