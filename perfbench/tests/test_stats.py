"""Tests for the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 25), 2)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_samples_beyond_it(self):
        with self.assertRaises(ValueError):
            stats.percentile(range(999), 99, min_beyond=10)
        self.assertAlmostEqual(stats.percentile(range(1000), 99, min_beyond=10), 989.01)
        # 100 samples leave 10 beyond p90
        stats.percentile(range(100), 90, min_beyond=10)


class FileLatencyTest(unittest.TestCase):
    def test_files_map_to_batches_in_order(self):
        batches = [(1000, 30), (2500, 20)]
        files = [(100, 10), (200, 10), (300, 10), (900, 10), (1200, 10)]
        self.assertEqual(stats.file_latencies(batches, files),
                         [900, 800, 700, 1600, 1300])

    def test_a_file_belongs_to_the_batch_with_its_last_row(self):
        # a file split over two batches counts from the later one
        self.assertEqual(stats.file_latencies([(10, 5), (20, 5)], [(0, 10)]), [20])

    def test_files_beyond_the_last_batch_are_left_out(self):
        self.assertEqual(stats.file_latencies([(50, 10)], [(0, 10), (10, 10)]), [50])

    def test_empty_batches_are_skipped(self):
        self.assertEqual(stats.file_latencies([(5, 0), (30, 10)], [(10, 10)]), [20])

    def test_source_lag_counts_published_unconsumed_events(self):
        batches = [(100, 10), (200, 30)]
        renamed = [(50, 10), (90, 10), (150, 10), (250, 10)]
        # at 100: 20 published, 10 consumed; at 200: 30 published, 40 consumed
        self.assertEqual(stats.source_lag(batches, renamed), 10)


class RetryLatenessTest(unittest.TestCase):
    def test_lateness_between_consecutive_hops(self):
        rows = [("a", 1, 1000.0), ("a", 0, 1700.0), ("b", 2, 0.0),
                ("b", 1, 600.0), ("b", 0, 1150.0)]
        self.assertEqual(sorted(stats.retry_lateness(rows, 500)), [50.0, 100.0, 200.0])

    def test_requeued_copies_repeat_a_hop_and_are_ignored(self):
        rows = [("a", 1, 1000.0), ("a", 1, 1000.0), ("a", 0, 1600.0), ("a", 1, 1000.0)]
        self.assertEqual(stats.retry_lateness(rows, 500), [100.0])

    def test_a_single_hop_gives_no_sample(self):
        self.assertEqual(stats.retry_lateness([("a", 1, 1000.0)], 500), [])


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, layer, a, b):
        return {"id": i, "parent": parent, "layer": layer, "start_ms": a, "end_ms": b}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(0, None, "query", 0, 100),
                 self.span(1, 0, "exec", 10, 40),
                 self.span(2, 0, "exec", 30, 60),      # overlaps its sibling
                 self.span(3, 1, "stage", 15, 20)]
        self.assertEqual(stats.self_times(spans),
                         {"query": 50.0, "exec": 55.0, "stage": 5.0})

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(0, None, "trigger", 0, 10),
                 self.span(1, 0, "job", 5, 30)]
        self.assertEqual(stats.self_times(spans), {"trigger": 5.0, "job": 25.0})

    def test_same_layer_spans_add_up(self):
        spans = [self.span(0, None, "a", 0, 10), self.span(1, None, "a", 20, 25)]
        self.assertEqual(stats.self_times(spans), {"a": 15.0})


if __name__ == "__main__":
    unittest.main()
