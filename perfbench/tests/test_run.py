"""Harness tests for perfbench/run.py: python3 -m unittest discover -s perfbench/tests"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402

SPEC = {"pool": ["a", "b", "c", "d", "e"], "zipf_extra": 7, "rounds": 5}


class SequenceTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        self.assertEqual(run.rounds_for(SPEC, 7), run.rounds_for(SPEC, 7))

    def test_different_seeds_differ(self):
        seqs = {str(run.rounds_for(SPEC, s)) for s in range(20)}
        self.assertEqual(len(seqs), 20)

    def test_every_round_holds_the_same_zipf_multiset(self):
        rounds = run.rounds_for(SPEC, 3)
        self.assertEqual(len(rounds), 5)
        counts = run.zipf_counts(5, 7)
        self.assertEqual(sum(counts), 12)
        self.assertEqual(counts, sorted(counts, reverse=True))
        for r in rounds:
            self.assertEqual([r.count(q) for q in SPEC["pool"]], counts)

    def test_without_extra_a_round_is_a_permutation(self):
        rounds = run.rounds_for({"pool": SPEC["pool"], "rounds": 4}, 11)
        for r in rounds:
            self.assertEqual(sorted(r), SPEC["pool"])
        self.assertGreater(len({tuple(r) for r in rounds}), 1)


class TailTest(unittest.TestCase):
    def test_at_least_ten_samples_above_the_reported_percentile(self):
        for n in range(11, 300):
            xs = [float(i) for i in range(n)]
            p, v = run.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            # the next percentile up would leave fewer than ten above it
            rank = -(-(p + 1) * n // 100)
            if p < 99 and rank <= n:
                self.assertLess(sum(x > xs[rank - 1] for x in xs), 10, n)

    def test_order_does_not_matter(self):
        xs = [0.3, 0.1, 0.9, 0.5, 0.7, 0.2, 0.8, 0.4, 0.6, 1.0, 1.1, 1.2, 0.05]
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (100, 3.0))


def rec(query, digest="1:00", error=None, wall=1.0):
    return {"type": "query", "query": query, "digest": digest, "error": error,
            "wall_s": wall, "task_run_s": 0.6, "task_cpu_s": 0.5, "round": 0, "index": 0, "build_s": 0.1}


class FailureTest(unittest.TestCase):
    def test_a_thrown_query_counts_as_failed_and_the_rest_are_checked(self):
        recs = [rec("a"), rec("b", digest=None, error="boom"), rec("c")]
        failed = run.check(recs, {"a": "1:00", "b": "1:00", "c": "1:00"})
        self.assertEqual(failed, 1)
        self.assertEqual([r["ok"] for r in recs], [True, False, True])

    def test_a_wrong_or_missing_digest_counts_as_failed(self):
        recs = [rec("a", digest="2:00"), rec("z")]
        self.assertEqual(run.check(recs, {"a": "1:00"}), 2)

    def test_failures_do_not_drop_samples_from_the_metrics(self):
        recs = [{"type": "setup", "setup_s": 5.0},
                rec("a", wall=1.0), rec("b", digest=None, error="boom", wall=3.0),
                {"type": "round", "round": 0, "wall_s": 4.5},
                {"type": "end", "retained_heap_mb": 100.0, "cores": 4}]
        metrics, details = run.summarize(recs, trace=False)
        self.assertEqual(details["samples"], 2)
        self.assertEqual(metrics["total_s"], 4.5)
        self.assertEqual(metrics["latency_p50_s"], 2.0)


if __name__ == "__main__":
    unittest.main()
