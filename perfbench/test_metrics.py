"""Metric math on synthetic timings: python3 perfbench/test_metrics.py"""
import unittest

import metrics


def raw_run(pass_walls, query_walls, setup=17.5, heap=512.0):
    """A synthetic harness output: untraced passes, each with its queries."""
    passes, samples = [], []
    for p, (pw, qs) in enumerate(zip(pass_walls, query_walls)):
        passes.append({"pass": p, "traced": False, "wall": pw, "staged_bytes": -1})
        samples += [{"pass": p, "q": f"q{i}", "traced": False, "wall": w}
                    for i, w in enumerate(qs)]
    return {"passes": passes, "samples": samples, "setup_s": setup,
            "heap_retained_mb": heap}


class Percentile(unittest.TestCase):
    def test_p90_is_the_median_of_the_passes_p90(self):
        passes = [[float(i) for i in range(1, 21)],       # p90 18
                  [2.0 * i for i in range(1, 21)],        # p90 36
                  [10.0 + i for i in range(1, 21)],       # p90 28
                  [1.0] * 19 + [100.0],                   # p90 1
                  [0.5 * i for i in range(1, 21)]]        # p90 9
        v, n, beyond = metrics.p90_of_passes(passes)
        self.assertEqual((v, n, beyond), (18.0, 100, 10))

    def test_p90_counts_the_samples_beyond_each_pass(self):
        v, n, beyond = metrics.p90_of_passes([list(range(1, 101))])
        self.assertEqual((v, n, beyond), (90, 100, 10))

    def test_p90_refuses_too_few_samples_beyond(self):
        # 13 samples a pass leave one beyond its p90: nine passes give nine
        with self.assertRaises(ValueError):
            metrics.p90_of_passes([list(range(13))] * 9)
        self.assertEqual(metrics.p90_of_passes([list(range(13))] * 10)[2], 10)

    def test_passes_needed_for_ten_beyond(self):
        self.assertEqual(metrics.passes_for_p90(23), 5)
        self.assertEqual(metrics.passes_for_p90(25), 5)
        self.assertEqual(metrics.passes_for_p90(13), 10)
        self.assertEqual(metrics.passes_for_p90(100), 1)
        with self.assertRaises(ValueError):
            metrics.passes_for_p90(9)

    def test_p90_ignores_input_order(self):
        xs = [(i * 37) % 200 for i in range(200)]
        self.assertEqual(metrics.p90_of_passes([xs])[0], sorted(xs)[179])

    def test_one_slow_pass_moves_the_pooled_p90_not_this_one(self):
        fast = [[0.1 * (i + 1) for i in range(20)]] * 4
        slow = [[2 * x for x in fast[0]]]
        self.assertAlmostEqual(metrics.p90_of_passes(fast + slow)[0], 1.8)


class ErrorRate(unittest.TestCase):
    expected = {"a": "1", "b": "count:5"}

    def outcome(self, **s):
        base = {"q": "a", "value": "1", "error": None}
        base.update(s)
        return metrics.outcome(base, self.expected, exempt={"z": "reason"})

    def test_counts_throw_mismatch_and_unrecorded(self):
        runs = [self.outcome(), self.outcome(error="Boom"), self.outcome(value="2"),
                self.outcome(q="b", value="count:5"), self.outcome(q="c", value="1"),
                self.outcome(q="z", value="anything")]
        self.assertEqual([r is None for r in runs], [True, False, False, True, False, True])
        failed = sum(r is not None for r in runs)
        self.assertAlmostEqual(metrics.error_rate(failed, len(runs)), 0.5)

    def test_count_fallback_must_match_recorded_count(self):
        self.assertIsNotNone(self.outcome(q="b", value="count:6"))

    def test_no_attempts_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.error_rate(0, 0)


class EndToEnd(unittest.TestCase):
    def test_warm_pass_median_excludes_first_pass(self):
        queries = [[0.1] * 30] * 5
        e2e, counts = metrics.end_to_end(raw_run([50.0, 9.0, 7.0, 8.0, 100.0], queries))
        self.assertEqual(e2e["first_pass_s"], 50.0)
        self.assertEqual(e2e["wall_s"], 8.5)
        self.assertEqual(counts["warm_passes"], 4)
        self.assertEqual(counts["query_samples"], 120)

    def test_query_percentiles_over_warm_samples_only(self):
        warm = [[0.01 * (i + 1) for i in range(30)]] * 4
        e2e, counts = metrics.end_to_end(raw_run([1.0] * 5, [[9.0] * 30] + warm))
        self.assertAlmostEqual(e2e["query_p50_s"], 0.155)
        self.assertAlmostEqual(e2e["query_p90_s"], 0.27)
        self.assertEqual(counts["p90_beyond"], 12)
        self.assertEqual(counts["query_samples"], 120)

    def test_setup_is_the_jvm_start_figure(self):
        e2e, _ = metrics.end_to_end(raw_run([1.0] * 5, [[0.1] * 30] * 5))
        self.assertEqual(e2e["setup_s"], 17.5)

    def test_traced_passes_do_not_count(self):
        r = raw_run([1.0] * 5, [[0.1] * 30] * 5)
        r["passes"].append({"pass": 5, "traced": True, "wall": 99.0, "staged_bytes": 0})
        r["samples"] += [{"pass": 5, "q": "x", "traced": True, "wall": 99.0}] * 25
        e2e, _ = metrics.end_to_end(r)
        self.assertEqual((e2e["wall_s"], e2e["query_p90_s"]), (1.0, 0.1))


class Spread(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(metrics.spread([10.0] * 9 + [10.0]), 0.0)
        self.assertAlmostEqual(metrics.spread([1, 2, 3, 4, 5, 6, 7]), 4 / 4)


class Steadiness(unittest.TestCase):
    steady = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.0, 10.1, 9.9]

    def test_agreeing_sets_pass(self):
        c = metrics.compare_sets([self.steady, [x * 1.05 for x in self.steady]], 0.1)
        self.assertTrue(c["ok"])
        self.assertAlmostEqual(c["apart"][0], 0.05)

    def test_a_faster_set_fails_as_a_slower_one_does(self):
        slow = metrics.compare_sets([self.steady, [x * 1.3 for x in self.steady]], 0.25)
        fast = metrics.compare_sets([[x * 1.3 for x in self.steady], self.steady], 0.25)
        self.assertFalse(slow["ok"])
        self.assertFalse(fast["ok"])
        self.assertAlmostEqual(slow["apart"][0], fast["apart"][0])

    def test_a_wide_set_fails(self):
        wide = [5.0, 15.0] * 5
        self.assertFalse(metrics.compare_sets([self.steady, wide], 0.25)["ok"])

    def test_every_pair_of_sets_is_compared(self):
        c = metrics.compare_sets([self.steady] * 3, 0.1)
        self.assertEqual(len(c["apart"]), 3)


def traced(wall, **phases):
    ph = {"construct": 0.0, "analysis": 0.0, "optimization": 0.0,
          "planning": 0.0, "execution": 0.0}
    ph.update(phases)
    return {"pass": 2, "q": "a", "wall": wall, "phases": ph}


class Layers(unittest.TestCase):
    def test_phase_sum_gap_and_streaming_lifecycle(self):
        s = traced(1.0, construct=0.7, analysis=0.05, optimization=0.05,
                   planning=0.05, execution=0.1)
        batches = [{"trigger_ms": 300}, {"trigger_ms": 100}]
        ql = metrics.query_layers(s, [], batches)
        self.assertAlmostEqual(ql["gap_s"], 0.05)
        self.assertTrue(ql["self_time_ok"])
        self.assertAlmostEqual(ql["stream_lifecycle_s"], 0.3)

    def test_time_outside_every_phase_fails_the_self_time_check(self):
        ql = metrics.query_layers(traced(1.0, construct=0.5, execution=0.3), [], [])
        self.assertAlmostEqual(ql["gap_s"], 0.2)
        self.assertFalse(ql["self_time_ok"])

    def test_execution_outside_jobs_is_driver_time(self):
        jobs = [{"phase": "execution", "start_ms": 1000, "end_ms": 1300},
                {"phase": "execution", "start_ms": 1200, "end_ms": 1400},
                {"phase": "execution", "start_ms": 1500, "end_ms": 1600},
                {"phase": "construct", "start_ms": 0, "end_ms": 900}]
        ql = metrics.query_layers(traced(1.0, execution=1.0), jobs, [])
        self.assertAlmostEqual(ql["exec_driver_s"], 0.5)

    def test_busy_time_is_the_union_of_spans(self):
        self.assertEqual(metrics.busy_s([]), 0.0)
        self.assertAlmostEqual(metrics.busy_s([(0, 100), (50, 150), (200, 250)]), 0.2)

    def test_core_busy_share(self):
        s = traced(2.0, execution=2.0)
        job = {"qid": "2:a", "phase": "execution", "stages": 2, "tasks": 4,
               "start_ms": 0, "end_ms": 2000,
               "failed_tasks": 0, "run_ms": 2000, "cpu_ns": 1e9, "gc_ms": 0,
               "input_bytes": 10, "output_bytes": 0, "shuffle_write_bytes": 5,
               "shuffle_read_bytes": 5, "spill_bytes": 0}
        out = metrics.pass_layers([s], [job], [], cores=4)
        self.assertAlmostEqual(out["exec.core_busy_share"], 0.25)
        self.assertAlmostEqual(out["exec.tasks_per_stage"], 2.0)
        self.assertEqual(out["construct.jobs"], 0)
        self.assertEqual(out["stream.trigger_s"], 0.0)
        self.assertAlmostEqual(out["exec.driver_s"], 0.0)

    def test_trace_overhead_cancels_the_warm_up_trend(self):
        # pass 0 traced, then untraced and traced passes in turn; walls
        # fall by 0.5 s a pass and tracing adds 0.2 s
        passes = [{"pass": p, "traced": p % 2 == 0, "wall": 10.0 - 0.5 * p + 0.2 * (p % 2 == 0)}
                  for p in range(7)]
        self.assertAlmostEqual(metrics.trace_overhead(passes), 0.2)

    def test_tracker_disagreement_is_flagged(self):
        qs = [dict(traced(1.0, analysis=0.3, optimization=0.1, planning=0.1),
                   tracker={"analysis": 0.1, "optimization": 0.09, "planning": 0.1})]
        c = metrics.tracker_check(qs, tolerance=0.5)
        self.assertTrue(c["analysis"]["flagged"])
        self.assertFalse(c["optimization"]["flagged"])
        self.assertAlmostEqual(c["analysis"]["tracker_s"], 0.1)


if __name__ == "__main__":
    unittest.main()
