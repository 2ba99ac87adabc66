"""Self-tests of the benchmark's own logic (no JVM, a few seconds):

    python3 graftbench/test_bench.py
"""
import datetime as dt
import hashlib
import os
import random
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def _tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="graftbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def _slices(self, seed, name):
        out = os.path.join(self.tmp, name)
        gen.write_tick_slices(seed, 6, os.path.join(out, "ticks"))
        gen.write_doc_slices(seed, 300, 7, os.path.join(out, "docs"))
        gen.write_tables(seed, 0.001, os.path.join(out, "tables"))
        return _tree_digest(out)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self._slices(7, "a"), self._slices(7, "b"))

    def test_other_seed_gives_other_bytes(self):
        self.assertNotEqual(self._slices(7, "a"), self._slices(8, "b"))

    def test_slices_partition_the_corpus(self):
        slices = gen.doc_slices(3, 300, 7)
        self.assertEqual(len(slices), 7)
        ids = sorted(i for t in slices for i in t.column("doc_id").to_pylist())
        self.assertEqual(ids, list(range(300)))

    def test_disorder_stays_inside_the_grace(self):
        ticks, _ = gen.tick_plan(5, 10, grace_s=5)
        ts = ticks.column("ts").cast(pa.int64()).to_numpy()
        sl = ticks.column("slice").to_numpy()
        for s in range(1, int(sl.max()) + 1):
            prev_max = ts[sl == s - 1].max(initial=0)
            if (sl == s).any():
                # a tick is never older than the previous slice's newest minus the grace
                self.assertGreater(ts[sl == s].min(), prev_max - 5_000_000)


class PercentileRuleTest(unittest.TestCase):
    def test_median_only_below_twenty(self):
        self.assertEqual(stats.summary([3.0, 1.0, 2.0]), [(0.5, 2.0)])
        self.assertIsNone(stats.tail_quantile(39))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_quantile(40), 0.75)
        self.assertEqual(stats.tail_quantile(99), 0.75)
        self.assertEqual(stats.tail_quantile(100), 0.90)
        self.assertEqual(stats.tail_quantile(200), 0.95)
        self.assertEqual(stats.tail_quantile(1000), 0.99)

    def test_nearest_rank_values(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.summary(xs), [(0.5, 50.5), (0.9, 90)])
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 0.9), 90)


class DigestTest(unittest.TestCase):
    cols = ["b", "a", "c"]
    rows = [(1, 0.1 + 0.2, "x"), (2, None, "y"), (3, 1.0, "z"), (3, 1.0, "z")]

    def test_row_order_does_not_matter(self):
        shuffled = list(self.rows)
        random.Random(2).shuffle(shuffled)
        self.assertEqual(checks.digest(self.cols, self.rows), checks.digest(self.cols, shuffled))

    def test_partition_order_does_not_matter(self):
        parts = [self.rows[:1], self.rows[1:3], self.rows[3:]]
        reordered = [r for p in reversed(parts) for r in p]
        self.assertEqual(checks.digest(self.cols, self.rows), checks.digest(self.cols, reordered))

    def test_column_order_and_rounding(self):
        swapped = [(r[1], r[0], r[2]) for r in self.rows]
        self.assertEqual(checks.digest(self.cols, self.rows), checks.digest(["a", "b", "c"], swapped))
        nudged = [(1, 0.3, "x")] + self.rows[1:]
        self.assertEqual(checks.digest(self.cols, self.rows), checks.digest(self.cols, nudged))

    def test_content_matters(self):
        self.assertNotEqual(checks.digest(self.cols, self.rows), checks.digest(self.cols, self.rows[:3]))


class BarReferenceTest(unittest.TestCase):
    """Hand-built ticks for one key: a session 09:00-09:04, a break, a
    session from 09:06; minute 09:02 has no tick (a gap)."""

    @staticmethod
    def _us(hh, mm, ss):
        return int((dt.datetime(2024, 3, 4, hh, mm, ss) - gen.EPOCH).total_seconds()) * 1_000_000

    def setUp(self):
        rows = [  # (hh, mm, ss, bid)
            (8, 59, 30, 9.0),    # before the open: filtered
            (9, 0, 10, 10.0), (9, 0, 40, 12.0), (9, 0, 20, 8.0),
            (9, 1, 5, 11.0),
            (9, 3, 0, 13.0), (9, 3, 59, 14.0),
            (9, 4, 30, 99.0),    # in the break: filtered
            (9, 5, 10, 98.0),    # in the break: filtered
            (9, 6, 1, 15.0),
        ]
        self.ticks = pa.table({
            "broker": ["B0"] * len(rows), "symbol": ["S00"] * len(rows),
            "ts": pa.array([self._us(h, m, s) for h, m, s, _ in rows], gen.TS_US),
            "bid": [b for *_, b in rows]})
        self.schedule = pa.table({
            "broker": ["B0", "B0"],
            "open_ts": pa.array([self._us(9, 0, 0), self._us(9, 6, 0)], gen.TS_US),
            "close_ts": pa.array([self._us(9, 4, 0), self._us(10, 0, 0)], gen.TS_US)})

    def test_minute_bars(self):
        bars = gen.reference_bars(self.ticks, self.schedule, 60)
        m = lambda mm: ("B0", "S00", self._us(9, mm, 0))  # noqa: E731
        self.assertEqual(bars, {
            m(0): (10.0, 12.0, 8.0, 12.0, 3),   # open/close by event time, not arrival
            m(1): (11.0, 11.0, 11.0, 11.0, 1),
            m(3): (13.0, 14.0, 13.0, 14.0, 2),
            m(6): (15.0, 15.0, 15.0, 15.0, 1),
        })

    def test_five_minute_bars_skip_the_break(self):
        bars = gen.reference_bars(self.ticks, self.schedule, 300)
        self.assertEqual(bars, {
            ("B0", "S00", self._us(9, 0, 0)): (10.0, 14.0, 8.0, 14.0, 6),
            ("B0", "S00", self._us(9, 5, 0)): (15.0, 15.0, 15.0, 15.0, 1),
        })

    def test_fill_holds_the_gap_and_the_break(self):
        bars = gen.reference_bars(self.ticks, self.schedule, 60)
        fill = gen.reference_fill(bars)
        self.assertEqual(fill, {("B0", "S00"): [self._us(9, mm, 0) for mm in (2, 4, 5)]})


class ContractTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def test_metric_lists_match(self):
        import json
        import run
        path = os.path.join(run.ROOT, "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json next to graftbench/")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.LAYER_METRICS)
        self.assertTrue(set(w["name"] for w in bench["workloads"]) <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
