"""Tests of the benchmark's pure parts: the tail rule, span self-time
arithmetic, generator determinism, the bound comparison, and how the
mabna_ingest checks count a mismatch.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import math
import os
import tempfile
import unittest

import gen_tables
import mabna_gen
import run
import stats


class TailRule(unittest.TestCase):
    def test_beyond_counts_samples_past_the_nearest_rank(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(100, 91), 9)
        self.assertEqual(stats.beyond(40, 75), 10)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(10))
        for n in range(11, 500):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(stats.beyond(n, p), 10)
            if p < 99:
                self.assertLess(stats.beyond(n, p + 1), 10)

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start_ms": a, "end_ms": b}

    def test_nested_children_are_subtracted(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40),
                 self.span(3, 1, 50, 90), self.span(4, 2, 20, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 30, 2: 20, 3: 40, 4: 10})
        # self times of a tree add up to its root's wall time
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 60),
                 self.span(3, 1, 40, 80), self.span(4, 1, 45, 50)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 70)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 5, 15)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)


class Generators(unittest.TestCase):
    def digest_dir(self, d):
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
        return h.hexdigest()

    def test_mabna_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            mabna_gen.Feed(7, 5).write(a)
            mabna_gen.Feed(7, 5).write(b)
            self.assertEqual(self.digest_dir(a), self.digest_dir(b))

    def test_mabna_other_seed_other_data_same_shape(self):
        f1, f2 = mabna_gen.Feed(7, 5), mabna_gen.Feed(8, 5)
        self.assertEqual(set(f1.rows), set(f2.rows))
        for t in mabna_gen.FACTS:
            r1, r2 = f1.rows[t], f2.rows[t]
            self.assertEqual([b for b, _, _ in r1], [b for b, _, _ in r2])
            self.assertEqual(set(r1[0][2]), set(r2[0][2]))
            self.assertNotEqual([r for _, _, r in r1], [r for _, _, r in r2])

    def test_mabna_feed_has_its_edge_cases(self):
        feed = mabna_gen.Feed(3, 40)
        trades = [r for t in mabna_gen.TYPES
                  for r in feed.served(f"src_exchange_trades_{t}", 40)]
        self.assertTrue(any(r["close_price"] is None for r in trades))
        prod = mabna_gen.expected_production(feed, 40)
        pcts = [r["pct"] for t in mabna_gen.TYPES for r in prod[f"prd_trades_{t}"]]
        self.assertIn(math.inf, pcts)
        self.assertIn(-math.inf, pcts)
        versions = {}
        for _, v, r in feed.rows["src_exchange_trades_share"]:
            versions.setdefault((r["date_time"], r["instrument"]["id"]), []).append(v)
        self.assertTrue(any(len(vs) > 1 for vs in versions.values()))  # restated keys

    def test_keep_last_prefers_the_highest_version(self):
        rows = [{"k": 1, "meta_version": 5, "x": "old"},
                {"k": 1, "meta_version": 9, "x": "new"},
                {"k": 2, "meta_version": 1, "x": "only"}]
        kept = {r["k"]: r["x"] for r in mabna_gen._keep_last(rows, ("k",))}
        self.assertEqual(kept, {1: "new", 2: "only"})

    def test_fetch_expectation_is_the_batch(self):
        feed = mabna_gen.Feed(5, 3)
        want = mabna_gen.expected_fetch(feed, 2)
        self.assertEqual(want["src_exchange_indexvalues"], mabna_gen.PER_BATCH["indexvalues"])

    def test_tables_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen_tables.write(a, 0.001, 42)
            gen_tables.write(b, 0.001, 42)
            self.assertEqual(self.digest_dir(a), self.digest_dir(b))


class MabnaChecks(unittest.TestCase):
    """`mabna_failed_ops` over a run that matches the generator exactly,
    with one batch's fetch count changed at a time."""

    def setUp(self):
        self.feed = mabna_gen.Feed(4, 4)
        self.dir = tempfile.TemporaryDirectory()
        dump = os.path.join(self.dir.name, "out", "dump")
        os.makedirs(dump)
        prod = mabna_gen.expected_production(self.feed, 3)
        for table, rows in prod.items():
            with open(os.path.join(dump, f"{table}.jsonl"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
        for table in mabna_gen.FACTS:
            with open(os.path.join(dump, f"{table}.keys"), "w") as f:
                f.writelines(f"{r['id']}\t{r['meta']['version']}\n"
                             for r in self.feed.served(table, 3))
        board = mabna_gen.expected_dashboard(prod)
        # batch 1 is the untimed warm-up batch; 2 and 3 are timed ops 11, 12
        self.raw = {
            "batches": [{"batch": b, "timed": b > 1,
                         "counts": {"extract": mabna_gen.expected_fetch(self.feed, b)}}
                        for b in (1, 2, 3)],
            "last_batch": 3,
            "dashboard": [list(k) + list(v) for k, v in board.items()],
            "ops": [{"id": 11, "batch": 2}, {"id": 12, "batch": 3}]}

    def tearDown(self):
        self.dir.cleanup()

    def failed(self):
        return run.mabna_failed_ops(self.raw, self.feed, self.dir.name)

    def miscount(self, batch):
        counts = self.raw["batches"][batch - 1]["counts"]["extract"]
        counts["src_exchange_indexvalues"] += 1

    def test_a_matching_run_fails_nothing(self):
        self.assertEqual(self.failed(), set())

    def test_a_wrong_timed_batch_fails_its_op(self):
        self.miscount(2)
        self.assertEqual(self.failed(), {11})

    def test_a_wrong_warm_up_batch_fails_the_run(self):
        self.miscount(1)
        self.assertEqual(self.failed(), {12})

    def test_a_wrong_end_state_fails_the_run(self):
        self.raw["dashboard"] = self.raw["dashboard"][1:]
        self.assertEqual(self.failed(), {12})


class Bounds(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, _, q3 = (2.75, 5.5, 8.25)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 5.5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_lower_is_better(self):
        first = [1.0, 1.0, 1.0]
        self.assertTrue(stats.within_bound(first, [1.05] * 3, "lower", 0.1))
        self.assertFalse(stats.within_bound(first, [1.2] * 3, "lower", 0.1))
        self.assertTrue(stats.within_bound(first, [0.5] * 3, "lower", 0.1))

    def test_higher_is_better(self):
        first = [10.0, 10.0, 10.0]
        self.assertTrue(stats.within_bound(first, [9.5] * 3, "higher", 0.1))
        self.assertFalse(stats.within_bound(first, [8.0] * 3, "higher", 0.1))
        self.assertAlmostEqual(stats.worse_by(first, [12.0] * 3, "higher"), -0.2)


if __name__ == "__main__":
    unittest.main()
