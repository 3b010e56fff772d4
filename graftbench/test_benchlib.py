"""Unit tests of the benchmark's pure logic: python3 -m unittest discover graftbench"""
import json
import os
import tempfile
import unittest

import benchlib


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertFalse(benchlib.supported(199, 0.95))
        self.assertTrue(benchlib.supported(200, 0.95))
        self.assertTrue(benchlib.supported(40, 0.75))
        self.assertFalse(benchlib.supported(39, 0.75))
        self.assertIsNone(benchlib.tail(list(range(100)), 0.95))
        self.assertEqual(benchlib.tail(list(range(41)), 0.75), 30)

    def test_weighted_percentile_counts_each_event(self):
        pairs = [(10.0, 1), (20.0, 98), (1000.0, 1)]
        self.assertEqual(benchlib.weighted_percentile(pairs, 0.5), 20.0)
        self.assertEqual(benchlib.weighted_percentile(pairs, 0.0), 10.0)
        self.assertEqual(benchlib.weighted_percentile(pairs, 1.0), 1000.0)


class StreamLatency(unittest.TestCase):
    files = [{"name": f"f{i}", "due": 1000.0 * i, "published": 1000.0 * i + 5} for i in range(6)]
    rows = {f"f{i}": 10 for i in range(6)}

    def test_latency_runs_from_due_time_not_publish_time(self):
        batch_of = {f"f{i}": i for i in range(6)}
        commits = {i: 1000.0 * i + 300 for i in range(6)}
        pairs, rec, excl, missing = benchlib.stream_timeline(
            self.files, self.rows, batch_of, commits, [])
        self.assertEqual([p[0] for p in pairs], [300.0] * 6)
        self.assertEqual(rec, [])
        self.assertEqual((excl, missing), (0, []))

    def test_crash_interval_is_excluded_and_timed_as_recovery(self):
        # f0, f1 commit before the crash at 2100; f2..f4 wait for the restart
        # (which starts at 3500) and commit at 4200; f5 is due after recovery
        batch_of = {"f0": 0, "f1": 1, "f2": 2, "f3": 2, "f4": 3, "f5": 4}
        commits = {0: 300.0, 1: 1300.0, 2: 4200.0, 3: 4200.0, 4: 5400.0}
        pairs, rec, excl, missing = benchlib.stream_timeline(
            self.files, self.rows, batch_of, commits, [(2100.0, 3500.0)])
        self.assertEqual(len(rec), 1)
        self.assertAlmostEqual(rec[0], 2.1)
        self.assertEqual(excl, 30)
        self.assertEqual(sorted(p[0] for p in pairs), [300.0, 300.0, 400.0])

    def test_each_crash_gets_its_own_recovery(self):
        batch_of = {f"f{i}": i for i in range(6)}
        commits = {0: 300.0, 1: 2500.0, 2: 2500.0, 3: 3300.0, 4: 4800.0, 5: 5300.0}
        pairs, rec, excl, _ = benchlib.stream_timeline(
            self.files, self.rows, batch_of, commits, [(1200.0, 1400.0), (3900.0, 4100.0)])
        self.assertEqual([round(r, 3) for r in rec], [1.3, 0.9])
        self.assertEqual(excl, 30)  # f1 and f2 wait out the first crash, f4 the second
        self.assertEqual(sorted(p[0] for p in pairs), [300.0, 300.0, 300.0])

    def test_uncommitted_files_are_reported(self):
        _, _, _, missing = benchlib.stream_timeline(
            self.files, self.rows, {"f0": 0}, {0: 5.0}, [])
        self.assertEqual(missing, ["f1", "f2", "f3", "f4", "f5"])

    def test_commit_time_is_the_first_call(self):
        calls = [{"batch": 5, "start": 20.0, "end": 21.0},
                 {"batch": 5, "start": 10.0, "end": 12.0}]
        self.assertEqual(benchlib.commit_times(calls), {5: 12.0})

    def test_file_batches_reads_plain_and_compacted_logs(self):
        with tempfile.TemporaryDirectory() as d:
            def entry(name, b):
                return json.dumps({"path": f"file:///x/in/{name}", "timestamp": 1, "batchId": b})
            with open(os.path.join(d, "9.compact"), "w") as f:
                f.write("v1\n" + entry("a", 0) + "\n" + entry("b", 9) + "\n")
            with open(os.path.join(d, "10"), "w") as f:
                f.write("v1\n" + entry("c", 10) + "\n")
            open(os.path.join(d, ".10.crc"), "w").close()
            self.assertEqual(benchlib.file_batches(d), {"a": 0, "b": 9, "c": 10})


class UpdateModeReconcile(unittest.TestCase):
    twin = [{"win_start": 0, "event_type": "a", "cnt": 3},
            {"win_start": 0, "event_type": "b", "cnt": 1}]

    def test_last_committed_row_per_key_wins(self):
        committed = [(2, {"win_start": 0, "event_type": "a", "cnt": 3}),
                     (1, {"win_start": 0, "event_type": "a", "cnt": 2}),
                     (1, {"win_start": 0, "event_type": "b", "cnt": 1})]
        self.assertEqual(benchlib.reconcile(committed, self.twin), ([], [], [], 0))

    def test_lost_extra_stale_and_duplicate_rows_are_found(self):
        committed = [(1, {"win_start": 0, "event_type": "a", "cnt": 2}),
                     (1, {"win_start": 0, "event_type": "a", "cnt": 2}),
                     (1, {"win_start": 9, "event_type": "a", "cnt": 1})]
        missing, extra, bad, dups = benchlib.reconcile(committed, self.twin)
        self.assertEqual(missing, [(0, "b")])
        self.assertEqual(extra, [(9, "a")])
        self.assertEqual(bad, [(0, "a")])
        self.assertEqual(dups, 1)


class Fingerprint(unittest.TestCase):
    expected = {"q1": {"rows": 3, "hash": "h1"},
                "q2": {"rows": 5, "hash": None, "reason": "unstable"}}

    def test_rows_and_hash_must_match(self):
        ok = [{"name": "q1", "rows": 3, "hash": "h1"}, {"name": "q2", "rows": 5, "hash": "zz"}]
        self.assertEqual(benchlib.check_fingerprints(ok, self.expected), [])

    def test_mismatch_error_and_unknown_query_fail(self):
        got = [{"name": "q1", "rows": 3, "hash": "h2"}, {"name": "q2", "rows": 4, "hash": "x"},
               {"name": "q3", "rows": 1, "hash": "x"}, {"name": "q1", "error": "boom"}]
        fails = [n for n, _ in benchlib.check_fingerprints(got, self.expected)]
        self.assertEqual(fails, ["q1", "q2", "q3", "q1"])


class SelfTimes(unittest.TestCase):
    def test_overlapping_children_still_sum_to_the_root(self):
        spans = [{"id": "q", "parent": "", "kind": "query", "start": 0.0, "end": 100.0},
                 {"id": "m", "parent": "q", "kind": "materialize", "start": 10.0, "end": 100.0},
                 {"id": "j", "parent": "m", "kind": "job", "start": 20.0, "end": 90.0},
                 {"id": "s1", "parent": "j", "kind": "stage", "start": 30.0, "end": 60.0},
                 {"id": "s2", "parent": "j", "kind": "stage", "start": 40.0, "end": 95.0}]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(sum(st.values()), 100.0)
        self.assertEqual(st, {"query": 10.0, "materialize": 20.0, "job": 10.0, "stage": 60.0})


class Verdict(unittest.TestCase):
    parent = [100.0, 101.0, 99.0, 100.5, 99.5, 100.0, 101.0, 99.0, 100.0, 100.2]

    def test_improved_needs_nine_tenths_of_pairs_and_a_gap_beyond_the_spread(self):
        better = [x - 10 for x in self.parent]
        self.assertEqual(benchlib.verdict(self.parent, better, "lower", 0.1), ("improved", 1.0))

    def test_worse_beyond_the_bound(self):
        self.assertEqual(benchlib.verdict(self.parent, [x * 1.2 for x in self.parent],
                                          "lower", 0.1)[0], "worse")

    def test_within_bound(self):
        self.assertEqual(benchlib.verdict(self.parent, [x * 1.01 for x in self.parent],
                                          "lower", 0.1)[0], "within bound")

    def test_unresolved_when_the_parent_spreads_wider_than_the_bound(self):
        noisy = [50.0, 150.0, 80.0, 120.0, 60.0, 140.0, 100.0, 90.0, 110.0, 70.0]
        self.assertEqual(benchlib.verdict(noisy, noisy[::-1], "lower", 0.1)[0], "unresolved")

    def test_more_incorrect_runs_or_failed_operations_is_worse(self):
        self.assertEqual(benchlib.correctness_verdict((0, 0), (1, 1)), "worse")
        self.assertEqual(benchlib.correctness_verdict((1, 3), (1, 4)), "worse")
        self.assertEqual(benchlib.correctness_verdict((1, 3), (0, 0)), "within bound")
        self.assertEqual(benchlib.correctness_verdict((0, 0), (0, 0)), "within bound")

    def test_higher_is_better_metrics(self):
        self.assertEqual(benchlib.verdict([1.0] * 10, [0.5] * 10, "higher", 0.001)[0], "worse")


if __name__ == "__main__":
    unittest.main()
