"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(sid, start, end, parent=0):
    return {"id": sid, "parent": parent, "start_ms": float(start),
            "end_ms": float(end), "name": "s", "attrs": {}}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 leaves exactly 10 above
        self.assertEqual(metrics.tail(xs), (90.0, 90))

    def test_one_sample_short_drops_to_the_next_percentile(self):
        xs = list(range(1, 100))  # 99 samples: p90 (rank 90) leaves only 9
        self.assertEqual(metrics.tail(xs), (75.0, 75))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.tail(list(reversed(xs))), (75.0, 30))

    def test_fewer_than_twenty_samples_report_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (50.0, 2.0))
        self.assertEqual(metrics.tail(list(range(19))), (50.0, 9))
        self.assertEqual(metrics.tail(list(range(20))), (50.0, 9))
        self.assertEqual(metrics.tail(list(range(40))), (75.0, 29))

    def test_no_samples(self):
        self.assertEqual(metrics.tail([]), (None, None))


class AccountTest(unittest.TestCase):
    def op(self, name, latency, error=None, known=False):
        return {"op": name, "latency_s": latency, "error": error,
                "known_defect": known}

    def test_throw_and_mismatch_both_fail_without_a_sample(self):
        ops = [self.op("q_a", 1.0),
               self.op("q_b", 2.0, error="java.lang.ArithmeticException"),
               self.op("q_c", 3.0, error="result differs from this run's first")]
        attempted, failed, samples, errors = metrics.account(ops, {})
        self.assertEqual((attempted, failed, samples), (3, 2, [1.0]))
        self.assertEqual([e[0] for e in errors], ["q_b", "q_c"])

    def test_oracle_mismatch_fails_every_run_of_that_query(self):
        ops = [self.op("q_a", 1.0), self.op("q_a", 1.1), self.op("q_b", 2.0)]
        attempted, failed, samples, _ = metrics.account(
            ops, {"q_a": "oracle: rows 3 != 4"})
        self.assertEqual((attempted, failed, samples), (3, 2, [2.0]))

    def test_known_defect_is_reported_but_not_attempted(self):
        ops = [self.op("fetch", 0.1, error="reads back as 1 column", known=True),
               self.op("ingest", 2.0)]
        attempted, failed, samples, errors = metrics.account(ops, {})
        self.assertEqual((attempted, failed, samples), (1, 0, [2.0]))
        self.assertEqual(errors, [("fetch", "reads back as 1 column", True)])


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_seconds(span(1, 0, 1000), []), 1.0)

    def test_overlapping_children_count_once(self):
        kids = [span(2, 100, 400), span(3, 300, 600), span(4, 800, 900)]
        # covered: [100, 600] + [800, 900] = 600 ms of 1000
        self.assertAlmostEqual(metrics.self_seconds(span(1, 0, 1000), kids), 0.4)

    def test_children_are_clipped_to_the_span(self):
        kids = [span(2, -500, 200), span(3, 900, 1500)]
        self.assertAlmostEqual(metrics.self_seconds(span(1, 0, 1000), kids), 0.7)


class PerLayerTest(unittest.TestCase):
    def test_jobs_roll_up_to_the_layer_they_ran_under(self):
        spans = [
            span(1, 0, 10_000), span(2, 0, 5_000, parent=1),
            span(3, 0, 3_000, parent=2), span(4, 3_000, 5_000, parent=2),
            span(5, 500, 1_500, parent=3), span(6, 3_100, 4_900, parent=4)]
        names = {1: "pass", 2: "op:q_a", 3: "operators.construct",
                 4: "fullexec.exec", 5: "spark.job", 6: "spark.job"}
        for s in spans:
            s["name"] = names[s["id"]]
        spans[4]["attrs"] = {"kind": "other", "task_busy_ms": 800}
        spans[5]["attrs"] = {"kind": "other", "task_busy_ms": 4000,
                             "stages": 2, "tasks": 8}
        (m,) = metrics.per_pass_layers(spans, cpus=4, file_bytes=0,
                                       exported_rows=0).values()
        self.assertEqual(m["operators.eager_jobs"], 1.0)
        self.assertAlmostEqual(m["operators.construct_s"], 3.0)
        self.assertAlmostEqual(m["operators.construct_self_s"], 2.0)
        self.assertEqual((m["fullexec.jobs"], m["fullexec.stages"],
                          m["fullexec.tasks"]), (1.0, 2.0, 8.0))
        self.assertAlmostEqual(m["fullexec.core_util"], 4.0 / (2.0 * 4))


if __name__ == "__main__":
    unittest.main()
