"""Unit tests for the benchmark's pure code.

    python3 -m unittest discover -s perfbench/tests
"""
import random
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import metrics as M  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        for n in (11, 12, 50, 400, 1000):
            xs = list(range(n))
            _, tail, level, count = M.latency_summary(xs)
            self.assertEqual(sum(1 for x in xs if x > tail), 10)
            self.assertEqual(count, n)
            self.assertAlmostEqual(level, (n - 10) / n)

    def test_p99_needs_a_thousand_samples(self):
        # the highest percentile with ten samples beyond reaches 0.99 at n = 1000
        self.assertLess(M.latency_summary(range(999))[2], 0.99)
        self.assertEqual(M.latency_summary(range(1000))[2], 0.99)

    def test_too_few_samples_is_an_error(self):
        self.assertIsNone(M.tail_index(10))
        with self.assertRaises(ValueError):
            M.latency_summary(range(10))

    def test_order_of_samples_does_not_matter(self):
        xs = [random.Random(7).random() for _ in range(200)]
        self.assertEqual(M.latency_summary(xs), M.latency_summary(sorted(xs, reverse=True)))


class AckMatching(unittest.TestCase):
    commits = [(100, 3), (200, 5), (300, 10)]

    def test_first_covering_commit(self):
        acks = M.ack_times(range(11), self.commits)
        self.assertEqual([acks[o] for o in range(11)],
                         [100, 100, 100, 200, 200, 300, 300, 300, 300, 300, None])

    def test_offset_equal_to_up_to_is_not_covered(self):
        # up_to is exclusive: a commit up to 3 acks offsets 0, 1 and 2
        self.assertEqual(M.ack_times([3], [(100, 3)]), {3: None})


class SelfTime(unittest.TestCase):
    def span(self, sid, start, end, parent=None, name="x.y"):
        return {"id": sid, "name": name, "start_us": start, "end_us": end, "parent": parent}

    def test_overlapping_children_count_once(self):
        spans = [self.span("p", 0, 100), self.span("a", 10, 30, "p"),
                 self.span("b", 20, 50, "p"), self.span("c", 90, 120, "p")]
        st = M.self_times(spans)
        self.assertEqual(st["p"], 100 - 40 - 10)
        self.assertEqual(st["a"], 20)

    def test_grandchildren_do_not_reduce_the_grandparent(self):
        spans = [self.span("p", 0, 100), self.span("c", 0, 50, "p"), self.span("g", 0, 50, "c")]
        st = M.self_times(spans)
        self.assertEqual((st["p"], st["c"], st["g"]), (50, 0, 50))

    def test_by_layer_uses_window_and_name_prefix(self):
        spans = [self.span("p", 0, 100, name="streaming.batch"),
                 self.span("c", 10, 30, "p", name="spark.job"),
                 self.span("late", 500, 600, name="spark.job")]
        self.assertEqual(M.self_time_by_layer(spans, 0, 200), {"streaming": 80, "spark": 20})


class QuerySelection(unittest.TestCase):
    def survey(self):
        def runs(h, wall, build, err=None):
            return [{"hash": h, "error": err, "wall_s": wall, "build_s": build}] * 2
        s = {f"q{i:02d}": runs("h", 1.0, i / 20) for i in range(20)}
        s["flaky"] = [{"hash": "a", "error": None, "wall_s": 1.0, "build_s": 0.99},
                      {"hash": "b", "error": None, "wall_s": 1.0, "build_s": 0.99}]
        s["broken"] = runs(None, 1.0, 0.99, err="boom")
        s["fast"] = runs("h", 0.1, 0.099)
        s["tie_b"] = runs("h", 1.0, 0.5)
        s["tie_a"] = runs("h", 1.0, 0.5)
        return s

    def score(self, r):
        return r["build_s"] / r["wall_s"]

    def test_deterministic_and_filtered(self):
        got = M.select_queries(self.survey(), 3, 0.3, self.score)
        self.assertEqual(got, ["q19", "q18", "q17"])

    def test_independent_of_input_order(self):
        items = list(self.survey().items())
        random.Random(3).shuffle(items)
        self.assertEqual(M.select_queries(dict(items), 8, 0.3, self.score),
                         M.select_queries(self.survey(), 8, 0.3, self.score))

    def test_ties_break_by_name(self):
        survey = {k: v for k, v in self.survey().items() if k not in
                  {f"q{i:02d}" for i in range(11, 20)}}
        self.assertEqual(M.select_queries(survey, 2, 0.3, self.score), ["q10", "tie_a"])


class StreamOutcome(unittest.TestCase):
    def record(self, covered_reads, check=None):
        """A stream_backlog run with a 1 s window and twelve pulls of five
        messages, of which only the first `covered_reads` were ever acked;
        the drain wait ended (timed out) 30 s after the window."""
        reads = [(50_000 * k, 5 * (k - 1), 5 * k) for k in range(1, 13)]
        commits = [(t + 100_000, hi) for t, _, hi in reads[:covered_reads]]
        return {"kind": "stream", "workload": "stream_backlog", "window_us": [0, 1_000_000],
                "bus": {"commits": commits, "reads": reads}, "drain_target": 60,
                "acked": 5 * covered_reads, "drain_end_us": 31_000_000,
                "check": dict.fromkeys(("acked_wrong", "unacked_duplicate", "unexpected_output",
                                        "acked_before_published"), 0) | (check or {})}

    def test_drained_run_has_no_failures(self):
        rec = self.record(12)
        self.assertEqual(run.stream_outcome(rec), (60, 0))
        e2e = run.stream_end_to_end(rec)[0]
        self.assertEqual(e2e["latency_p50_ms"], 100.0)
        self.assertEqual(e2e["throughput_per_s"], 60.0)

    def test_stalled_pulls_fail_and_wait_to_the_end_of_the_drain(self):
        rec = self.record(1)
        self.assertEqual(run.stream_outcome(rec), (60, 55))
        # eleven unacked pulls at 0.1..0.6 s each wait until 31 s
        lat = sorted([100.0] + [(31_000_000 - 50_000 * k) / 1000 for k in range(2, 13)])
        self.assertEqual(run.stream_end_to_end(rec)[0]["latency_p50_ms"], statistics.median(lat))

    def test_output_check_findings_are_failures(self):
        rec = self.record(12, {"acked_before_published": 2, "acked_wrong": 1})
        self.assertEqual(run.stream_outcome(rec), (60, 3))


class ValidityGuards(unittest.TestCase):
    def test_dry_backlog_is_invalid(self):
        rec = {"kind": "stream", "workload": "stream_backlog", "window_us": [0, 100],
               "bulk_limit": 20, "backlog": [(t, 10000 if t < 50 else 3) for t in range(100)]}
        with self.assertRaises(run.Invalid):
            run.check_valid(rec)

    def test_full_backlog_is_valid(self):
        rec = {"kind": "stream", "workload": "stream_backlog", "window_us": [0, 100],
               "bulk_limit": 20, "backlog": [(t, 10000) for t in range(100)]}
        run.check_valid(rec)


if __name__ == "__main__":
    unittest.main()
