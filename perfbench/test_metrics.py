#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic.

    python3 perfbench/test_metrics.py

Set PERFBENCH_SLOW=1 to also run a short planted-failure run through
the JVM (needs the build).
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import pair  # noqa: E402

MS = 1e6


def op(kind, start_ms, end_ms, ok=True, error="", extra=None, due_ms=None):
    return {"id": 0, "kind": kind, "due": (start_ms if due_ms is None else due_ms) * MS,
            "start": start_ms * MS, "end": end_ms * MS, "ok": ok, "error": error,
            "extra": extra or {}}


def raw_run(ops, check_failures=()):
    return {"workload": "bi_sql", "seed": 1, "session_s": 2.0, "setup_s": 2.0,
            "warmup_s": 1.5, "check_failures": list(check_failures),
            "phases": [{"traced": False, "start": 0.0, "end": 10000 * MS, "heap_peak_mb": 100.0,
                        "bytes_written": 0, "ops": ops}]}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in range(1, 101) if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(metrics.tail(xs), (2, 100.0 * 2 / 12, 12))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(metrics.tail([]), (0.0, 0.0, 0))

    def test_a_tail_below_p90_is_not_reported(self):
        # 20 commits: the rule reaches only p50, so no commit tail is
        # printed; 110 requests reach p90.9
        raw = raw_run([op("commit", i * 100, i * 100 + 10 + i) for i in range(20)])
        raw["workload"] = "lake_ingest"
        named, notes = metrics.named_metrics("lake_ingest", raw, raw["phases"][0],
                                             metrics.phase_summary("lake_ingest", raw["phases"][0]))
        self.assertNotIn("commit_tail_ms", named)
        self.assertIn("commit_tail_ms not reported: 20 samples reach p50.0 with 10 beyond it, below p90",
                      notes)
        raw = raw_run([op("commit", i * 100, i * 100 + 10) for i in range(6)])
        named, notes = metrics.named_metrics("lake_ingest", raw, raw["phases"][0],
                                             metrics.phase_summary("lake_ingest", raw["phases"][0]))
        self.assertNotIn("commit_tail_ms", named)
        self.assertIn("commit_tail_ms not reported: 6 samples reach no percentile with 10 beyond it, "
                      "below p90", notes)
        raw = raw_run([op("request.load", i * 100, i * 100 + 10) for i in range(110)])
        named, notes = metrics.named_metrics("catalog_wire", raw, raw["phases"][0],
                                             metrics.phase_summary("catalog_wire", raw["phases"][0]))
        self.assertEqual(named["request_tail_ms"], 10)
        self.assertIn("request_tail_ms is p90.9 of 110", notes)


class SlowestMean(unittest.TestCase):
    def test_mean_of_the_slowest_tenth(self):
        self.assertEqual(metrics.slowest_mean(list(range(1, 101))), sum(range(91, 101)) / 10)

    def test_few_samples_take_the_slowest_three(self):
        # 20 commits, three of them behind maintenance: all three count
        xs = [100] * 17 + [800, 900, 1300]
        self.assertEqual(metrics.slowest_mean(xs), 1000)
        self.assertEqual(metrics.slowest_mean([5, 1]), 3)
        self.assertEqual(metrics.slowest_mean([]), 0.0)


class DriverGap(unittest.TestCase):
    def test_wall_minus_union_of_job_spans(self):
        # overlapping jobs count once; a job past the op's end is clipped
        jobs = [(10, 30), (20, 50), (80, 120)]
        self.assertEqual(metrics.union_length(jobs, 0, 100), 60)
        self.assertEqual(metrics.driver_gap(0, 100, jobs), 40)

    def test_no_jobs_is_all_driver(self):
        self.assertEqual(metrics.driver_gap(5, 25, []), 20)

    def test_jobs_outside_the_op_do_not_count(self):
        self.assertEqual(metrics.driver_gap(100, 200, [(0, 50), (250, 300)]), 100)


class SelfTime(unittest.TestCase):
    def test_duration_minus_children(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "start": 10, "end": 40},
                 {"id": 3, "parent": 1, "start": 30, "end": 60},
                 {"id": 4, "parent": 2, "start": 15, "end": 25}]
        self.assertEqual(metrics.self_times(spans), {1: 50, 2: 20, 3: 30, 4: 10})


class PairDecisions(unittest.TestCase):
    def test_nine_wins_in_ten_pairs_improve(self):
        parent = [100, 102, 98, 101, 99, 103, 97, 100, 101, 99]
        change = [90, 91, 89, 92, 90, 88, 91, 90, 89, 105]  # loses the last pair
        verdict, d = pair.decide(parent, change, "lower", 0.1)
        self.assertEqual(d["wins"], 9)
        self.assertEqual(verdict, "improved")

    def test_overlapping_quartile_ranges_are_unresolved(self):
        # the change's median is 20% worse, beyond the 10% bound, but
        # the two quartile ranges overlap: the runs cannot tell
        parent = [80, 90, 100, 100, 100, 110, 120, 125, 130, 140]
        change = [95, 105, 115, 120, 120, 120, 130, 140, 150, 160]
        p1, p3 = pair.quartiles(parent)
        c1, c3 = pair.quartiles(change)
        self.assertTrue(c1 <= p3 and p1 <= c3)
        self.assertEqual(pair.decide(parent, change, "lower", 0.1)[0], "unresolved")

    def test_same_code_reads_no_worse(self):
        a = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        b = [101, 100, 100, 99, 101, 99, 100, 102, 98, 100]
        self.assertEqual(pair.decide(a, b, "lower", 0.1)[0], "no worse")

    def test_clear_regression_is_worse(self):
        a = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        b = [x * 1.3 for x in a]
        self.assertEqual(pair.decide(a, b, "lower", 0.1)[0], "worse")

    def test_higher_is_better_metrics(self):
        a = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        b = [x * 1.3 for x in a]
        self.assertEqual(pair.decide(a, b, "higher", 0.1)[0], "improved")


class FailureAccounting(unittest.TestCase):
    def test_planted_failure_counts_and_every_metric_prints(self):
        ops = [op("statement_events" if i % 5 == 0 else "statement", i * 100, i * 100 + 50)
               for i in range(20)]
        ops[7] = op("statement", 700, 750, ok=False, error="planted failure")
        e2e, (named, _), attempted, failed = metrics.end_to_end(raw_run(ops))
        self.assertEqual((attempted, failed), (20, 1))
        self.assertAlmostEqual(named["failed_ratio"], 1 / 20)
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        for m in bench["end_to_end"]:
            self.assertIn(m["name"], e2e)
            self.assertGreater(e2e[m["name"]][0], 0)

    def test_failed_output_checks_count_too(self):
        ops = [op("statement", 0, 10)]
        _, (named, _), _, failed = metrics.end_to_end(raw_run(ops, ["final row count"]))
        self.assertEqual(failed, 1)
        self.assertEqual(named["failed_ratio"], 1.0)

    def test_open_loop_latency_counts_from_due_time(self):
        late = op("request.load", 150, 160, due_ms=100)
        self.assertEqual(metrics.latency_ms(late), 60)

    def test_setup_is_session_plus_setup_plus_warmup(self):
        e2e, _, _, _ = metrics.end_to_end(raw_run([op("statement", 0, 10)]))
        self.assertEqual(e2e["setup_s"][0], 2.0 + 2.0 + 1.5)


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "set PERFBENCH_SLOW=1")
class PlantedFailureRun(unittest.TestCase):
    def test_run_prints_every_metric_and_exits_nonzero(self):
        root = os.path.dirname(HERE)
        proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "lake_ingest",
                               "--seed", "3", "--seconds", "3", "--plant-failure"],
                              cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertNotEqual(proc.returncode, 0)
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            names = {m["name"] for m in json.load(f)["end_to_end"]}
        self.assertEqual(set(result["metrics"]), names)


if __name__ == "__main__":
    unittest.main()
