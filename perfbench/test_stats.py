"""Self-tests of the benchmark's own arithmetic (run by run.py before every
run; also `python3 -m unittest discover perfbench`)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.95), 95)
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile([7], 0.95), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_order_free(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 0.95), 5)

    def test_sample_count_rule(self):
        # 268 queries: rank 255 is the p95, 13 lie beyond it
        self.assertEqual(stats.beyond(268, 0.95), 13)
        # 200 requests leave 10 beyond the p95
        self.assertEqual(stats.beyond(200, 0.95), 10)
        self.assertEqual(stats.beyond(19, 0.95), 0)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class Union(unittest.TestCase):
    def test_overlapping_stages(self):
        # [0,2] and [1,3] overlap into [0,3]; [5,6] stands alone
        self.assertAlmostEqual(
            stats.union_length([(1, 3), (0, 2), (5, 6)]), 4.0)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(stats.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertAlmostEqual(stats.union_length([(0, 1), (1, 2)]), 2.0)
        self.assertAlmostEqual(stats.union_length([]), 0.0)

    def test_driver_gap(self):
        rec = stats.layer_record(
            {"wall": 5.0, "intervals": [(0.5, 2.0), (1.0, 3.0)]})
        self.assertAlmostEqual(rec["stage_wall"], 2.5)
        self.assertAlmostEqual(rec["driver_gap"], 2.5)


class FailShare(unittest.TestCase):
    def ops(self):
        # op a: one cold + two warm reps; op b likewise
        return [{"name": n, "phase": p, "round": r, "s": 0.1}
                for n in ("a", "b") for p, r in
                (("cold", 0), ("warm", 1), ("warm", 2))]

    def test_clean(self):
        self.assertEqual(stats.failures(self.ops(), [], set()), 0)

    def test_planted_wrong_count(self):
        # a wrong cold count (the oracle disagrees) fails every rep of b
        failed = stats.failures(self.ops(), [], {"b"})
        self.assertEqual(failed, 3)
        self.assertAlmostEqual(stats.fail_share(6, failed), 0.5)

    def test_one_rep_counted_once(self):
        # a warm rep whose count differs from its cold count, reported
        # twice, is still one failed execution
        f = {"name": "a", "round": 2}
        self.assertEqual(stats.failures(self.ops(), [f, f], set()), 1)

    def test_no_attempts(self):
        with self.assertRaises(ValueError):
            stats.fail_share(0, 0)


class Metrics(unittest.TestCase):
    def test_end_to_end(self):
        recs = [{"k": "setup", "s": s} for s in (3.0, 1.0, 2.0)]
        recs += [{"k": "op", "phase": "cold", "name": "a", "s": 1.0},
                 {"k": "op", "phase": "warm", "name": "a", "s": 0.1,
                  "round": 1},
                 {"k": "op", "phase": "warm", "name": "a", "s": 0.3,
                  "round": 2},
                 {"k": "op", "phase": "warm", "name": "b", "s": 0.4,
                  "round": 2},
                 # a rep past the rounds every run completes counts only
                 # towards throughput
                 {"k": "op", "phase": "warm", "name": "b", "s": 0.05,
                  "round": 3},
                 {"k": "window", "s": 2.0, "min_rounds": 2}]
        m = stats.end_to_end(recs)
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertAlmostEqual(m["warm_pass_s"][0], 0.5)
        self.assertAlmostEqual(m["cold_pass_s"][0], 1.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 2.0)

    def warm(self, name, traced, s, ipc=False):
        return {"k": "op", "phase": "warm", "name": name, "traced": traced,
                "s": s, "ipc": ipc}

    def test_overhead(self):
        recs = [self.warm("a", False, 1.0), self.warm("a", False, 0.8),
                self.warm("a", True, 0.9), self.warm("b", False, 0.2),
                self.warm("b", True, 0.3),
                # an IPC op is traced in process but timed over the
                # socket, so it is left out
                self.warm("i", False, 5.0, True),
                self.warm("i", True, 0.1, True),
                # a failed rep is not a time
                self.warm("b", True, -1.0)]
        v, unit, n = stats.overhead(recs)
        self.assertAlmostEqual(v, (0.9 + 0.3) / (0.8 + 0.2))
        self.assertEqual((unit, n), ("ratio", 2))

    def test_sources(self):
        recs = [{"k": "stores", "bytes": 600, "files": 7},
                {"k": "input", "bytes": 200}, {"k": "input", "rows": {}}]
        m = stats.sources(recs)
        self.assertEqual(m["cold.sources.store_files"][0], 7)
        self.assertAlmostEqual(m["cold.sources.write_amp"][0], 3.0)
        # no parquet input: no amplification to speak of
        m = stats.sources([{"k": "stores", "bytes": 0, "files": 0}])
        self.assertEqual(m["cold.sources.write_amp"][0], 0.0)


if __name__ == "__main__":
    unittest.main()
