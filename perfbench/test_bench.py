"""Tests of the benchmark's own statistics and generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root; the generator tests of the in-process
(Scala) generators build the harness first.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, beyond, n = stats.tail(xs)
        self.assertEqual((p, v, beyond, n), (90, 90, 10, 100))

    def test_more_samples_reach_higher_percentiles(self):
        p, v, beyond, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual((p, v, beyond), (99, 990, 10))
        p, _, beyond, _ = stats.tail(list(range(1, 10001)))
        self.assertEqual((p, beyond), (99.9, 10))

    def test_few_samples_fall_back_to_the_median_and_say_so(self):
        # with fewer than 20 samples no percentile has ten beyond it
        p, v, beyond, n = stats.tail([5.0, 1.0, 3.0, 2.0, 4.0])
        self.assertEqual((p, v, beyond, n), (50, 3.0, 2, 5))
        p, v, beyond, n = stats.tail([4.0, 1.0])
        self.assertEqual((p, v, beyond, n), (50, stats.median([4.0, 1.0]), 1, 2))
        self.assertEqual(stats.tail([float(x) for x in range(20)])[:3], (50, 9.0, 10))

    def test_grouped_samples_count_once(self):
        # 100 batches of 50 events each: an event-count rule would reach
        # p99.5, but only whole batches are independent samples
        xs = [float(b) + e / 100.0 for b in range(100) for e in range(50)]
        groups = [b for b in range(100) for _ in range(50)]
        p, v, beyond, n = stats.tail(xs, groups=groups)
        self.assertEqual((p, beyond, n), (90, 10, 5000))
        self.assertEqual(stats.tail(xs)[0], 99.5)

    def test_order_free(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class MedianAndQuartiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, 256.0, 512.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual(q2, 24.0)
        self.assertEqual((q1, q3), (3.5, 160.0))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10.0] * 10), 0.0)
        self.assertAlmostEqual(stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 3.0 / 3.0)


class BacklogGrowth(unittest.TestCase):
    def test_flat_backlog_does_not_grow(self):
        ts = [i / 10 for i in range(30)]
        self.assertFalse(stats.backlog_grows(ts, [200 + (i % 3) * 50 for i in range(30)], 2000))

    def test_linear_growth_is_detected(self):
        ts = [i / 10 for i in range(30)]
        backlog = [200 + 500 * t for t in ts]  # 500 events/s queueing up
        self.assertTrue(stats.backlog_grows(ts, backlog, 1000))
        # the same growth is within half a second of arrivals at a high rate
        self.assertFalse(stats.backlog_grows(ts, backlog, 4000))

    def test_too_few_samples_do_not_grow(self):
        self.assertFalse(stats.backlog_grows([0.0, 1.0], [0, 10000], 10))


class TableGenerators(unittest.TestCase):
    def test_deterministic_per_seed_and_different_across_seeds(self):
        def digest(seed):
            with tempfile.TemporaryDirectory() as d:
                gen.write_tables(d, seed, 0.001)
                return {t: open(os.path.join(d, f"{t}.parquet"), "rb").read()
                        for t in gen.TABLES}
        a, b, c = digest(7), digest(7), digest(8)
        self.assertEqual(a, b)
        for t in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertNotEqual(a[t], c[t], t)

    def test_fixture_shapes(self):
        ts = gen.tables(3, 0.001)
        self.assertEqual(ts["lineitem"].num_rows, 6000)
        self.assertEqual(str(ts["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(ts["embeddings"].schema.field("embedding").type), "list<item: float>")
        docs = ts["documents"].column("text").to_pylist()
        self.assertLess(len(set(docs)), len(docs))  # exact repeats exist

    def test_only_writes_the_named_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(d, 1, 0.001, only=["lineitem"])
            self.assertEqual(os.listdir(d), ["lineitem.parquet"])


class InProcessGenerators(unittest.TestCase):
    """The fleet and event generators and the open-loop schedule, which run
    inside the harness JVM."""

    @classmethod
    def setUpClass(cls):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        cwd = os.getcwd()
        os.chdir(root)
        try:
            cp = build.build()
            out = subprocess.run(["java"] + run.JVM_OPTS + ["-cp", cp, "perfbench.Main",
                                                            "--selftest", "generators"],
                                 capture_output=True, text=True, check=True).stdout
        finally:
            os.chdir(cwd)
        cls.d = json.loads(out.strip().splitlines()[-1])

    def test_fleet_deterministic_per_seed(self):
        self.assertEqual(self.d["fleet/1/0"], self.d["fleet/1/1"])
        self.assertNotEqual(self.d["fleet/1/0"], self.d["fleet/2/2"])

    def test_fleet_snapshot_has_rows_the_pipeline_must_drop(self):
        rows, expected = int(self.d["fleet_rows/1/0"]), int(self.d["fleet_expected/1/0"])
        self.assertGreater(expected, 0)
        self.assertLess(expected, rows * 0.8)  # stale, unknown, unprefixed rows

    def test_events_deterministic_per_seed(self):
        self.assertEqual(self.d["events/1/0"], self.d["events/1/1"])
        self.assertNotEqual(self.d["events/1/0"], self.d["events/2/2"])

    def test_open_loop_schedule_is_due_time_not_send_time(self):
        due = {i: int(self.d[f"schedule/2000/{i}"]) for i in (0, 1, 1999, 2000, 10000)}
        self.assertEqual(due[0], 1000)
        self.assertEqual(due[1] - due[0], 500_000)          # 1/2000 s apart
        self.assertEqual(due[2000] - due[0], 1_000_000_000)  # 2000 events = 1 s
        self.assertEqual(due[10000] - due[0], 5_000_000_000)


if __name__ == "__main__":
    unittest.main()
