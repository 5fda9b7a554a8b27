"""Self-test of the benchmark's percentile and sample-count rule.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class SummarizeTest(unittest.TestCase):
    def test_median_and_count(self):
        s = stats.summarize([3.0, 1.0, 2.0])
        self.assertEqual(s, {"p50": 2.0, "n": 3})

    def test_no_p90_below_100_samples(self):
        self.assertNotIn("p90", stats.summarize([float(i) for i in range(99)]))

    def test_p90_from_100_samples(self):
        s = stats.summarize([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertAlmostEqual(s["p90"], 90.1)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.summarize([])


if __name__ == "__main__":
    unittest.main()
