"""Unit tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from bench import gen, metrics, progress, stats, trace  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..",
                              "BENCHMARK.json")


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        pct, value, beyond = stats.tail(list(range(1, 101)))
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))

    def test_ninety_nine_samples_drop_to_p85(self):
        # p90 sits at rank 90 of 99, leaving only 9 samples beyond it
        pct, value, beyond = stats.tail(list(range(1, 100)))
        self.assertEqual((pct, value, beyond), (85.0, 85, 14))

    def test_thirty_samples_give_p66(self):
        pct, value, beyond = stats.tail(list(range(1, 31)))
        self.assertEqual((pct, value, beyond), (66.0, 20, 10))

    def test_thousand_samples_give_p99(self):
        pct, value, beyond = stats.tail(list(range(1000, 0, -1)))
        self.assertEqual((pct, value, beyond), (99.0, 990, 10))

    def test_few_samples_fall_back_to_the_median(self):
        pct, value, beyond = stats.tail([5, 1, 4, 2, 3])
        self.assertEqual((pct, value, beyond), (50.0, 3, 2))

    def test_no_samples(self):
        self.assertEqual(stats.tail([]), (None, 0.0, 0))


class GrowthTest(unittest.TestCase):
    def test_bases_are_the_first_and_last_tenth_medians(self):
        values = [10.0] * 10 + [15.0] * 80 + [30.0, 20.0] * 5
        ratio, first, last = stats.growth(values)
        self.assertEqual((first, last), (10.0, 25.0))
        self.assertAlmostEqual(ratio, 2.5)

    def test_short_series_use_one_sample_per_tenth(self):
        self.assertEqual(stats.growth([4.0, 9.0, 8.0]), (2.0, 4.0, 8.0))

    def test_single_sample_has_no_ratio(self):
        self.assertEqual(stats.growth([3.0]), (0.0, 0.0, 0.0))


def _event(phase, run, batch, rows, total, add=0, ts="2026-01-01T00:00:00.000Z"):
    return {"phase": phase, "p": {
        "id": "q", "runId": run, "batchId": batch, "numInputRows": rows, "timestamp": ts,
        "durationMs": {"triggerExecution": total, "addBatch": add, "getBatch": 1,
                       "latestOffset": 2, "queryPlanning": 3, "walCommit": 4,
                       "commitOffsets": 5}}}


class ProgressTest(unittest.TestCase):
    def stream(self):
        return [
            _event("setup0", "w", 0, 2, 50),         # another run, not measured
            _event("measure", "r", 0, 2, 40),        # seed file: 2 rows filtered to 0
            _event("measure", "r", 1, 0, 1),         # idle trigger, later replaced
            _event("measure", "r", 1, 198, 120, add=100),
            _event("measure", "r", 2, 0, 3),         # empty batch
            _event("measure", "r", 3, 200, 140, add=110),
        ]

    def test_drops_seed_batch_and_empty_batches(self):
        b = progress.batches(self.stream(), lambda ph: ph == "measure", seed_rows=2)
        self.assertEqual([(x["batch_id"], x["rows"], x["ms"]) for x in b],
                         [(1, 198, 120.0), (3, 200, 140.0)])
        self.assertEqual(sum(x["add_batch_ms"] for x in b), 210.0)
        self.assertEqual(sum(x["wal_commit_ms"] for x in b), 8.0)

    def test_without_seed_every_non_empty_batch_counts(self):
        b = progress.batches(self.stream(), lambda ph: ph == "measure")
        self.assertEqual([x["batch_id"] for x in b], [0, 1, 3])

    def test_first_batch_that_is_not_the_seed_file_is_an_error(self):
        events = [_event("measure", "r", 0, 200, 40)]
        with self.assertRaises(ValueError):
            progress.batches(events, lambda ph: ph == "measure", seed_rows=2)


class TraceTest(unittest.TestCase):
    def test_covered_merges_overlapping_children(self):
        self.assertEqual(trace.covered((0, 100), [(10, 30), (20, 40), (90, 120)]), 40)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "workload", "start_us": 0, "end_us": 10_000},
            {"id": 2, "parent": 1, "layer": "operators", "start_us": 1_000, "end_us": 7_000},
            {"id": 3, "parent": 2, "layer": "spark.job", "start_us": 2_000, "end_us": 6_000},
        ]
        self.assertEqual(trace.self_times_ms(spans),
                         {"workload": 4.0, "operators": 2.0, "spark.job": 4.0})


class GeneratorTest(unittest.TestCase):
    def assertSameTree(self, a, b):
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        for n in names:
            pa, pb = os.path.join(a, n), os.path.join(b, n)
            self.assertTrue(filecmp.cmp(pa, pb, shallow=False), n)
            self.assertEqual(os.stat(pa).st_mtime, os.stat(pb).st_mtime, n)

    def test_backlog_is_byte_identical_for_one_seed(self):
        with tempfile.TemporaryDirectory() as d:
            args = dict(n_files=4, points_per_file=50, clusters=3, sigma=0.4,
                        drift=0.02, malformed_per_file=2)
            info = gen.backlog(os.path.join(d, "a"), 7, **args)
            gen.backlog(os.path.join(d, "b"), 7, **args)
            gen.backlog(os.path.join(d, "c"), 8, **args)
            self.assertSameTree(os.path.join(d, "a"), os.path.join(d, "b"))
            self.assertFalse(filecmp.cmp(os.path.join(d, "a", "b00000.csv"),
                                         os.path.join(d, "c", "b00000.csv"), shallow=False))
            self.assertEqual(info, {"files": 4, "valid_points": 192, "malformed_lines": 8})

    def test_backlog_files_are_in_stream_order(self):
        with tempfile.TemporaryDirectory() as d:
            gen.backlog(d, 1, n_files=3, points_per_file=10, clusters=2, sigma=0.1,
                        drift=0.0, malformed_per_file=1)
            by_mtime = sorted(os.listdir(d), key=lambda n: os.stat(os.path.join(d, n)).st_mtime)
            self.assertEqual(by_mtime, ["nodes2.txt", "b00000.csv", "b00001.csv", "b00002.csv"])

    def test_fold_tables_are_byte_identical_for_one_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.fold_tables(os.path.join(d, "a"), 3, n_events=500, n_docs=50)
            gen.fold_tables(os.path.join(d, "b"), 3, n_events=500, n_docs=50)
            gen.fold_tables(os.path.join(d, "c"), 4, n_events=500, n_docs=50)
            self.assertSameTree(os.path.join(d, "a"), os.path.join(d, "b"))
            self.assertFalse(filecmp.cmp(os.path.join(d, "a", "events.parquet"),
                                         os.path.join(d, "c", "events.parquet"), shallow=False))


class DeclaredMetricsTest(unittest.TestCase):
    def test_printed_metrics_are_the_declared_ones(self):
        import json
        with open(BENCHMARK_JSON) as fh:
            declared = json.load(fh)
        for key, printed in (("end_to_end", metrics.END_TO_END),
                             ("per_layer", metrics.PER_LAYER)):
            self.assertEqual({m["name"]: m["unit"] for m in declared[key]}, printed)


if __name__ == "__main__":
    unittest.main()
