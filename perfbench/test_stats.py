"""Tests of the benchmark's arithmetic: the percentile rule, span self
time, and the per-layer aggregation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


def span(id, parent, trace, name, start, end):
    return {"id": id, "parent": parent, "trace": trace, "name": name,
            "start_ms": start, "end_ms": end}


class TailTest(unittest.TestCase):
    def test_fewer_than_twenty_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail(list(range(19))), (18, 100.0, 19))
        self.assertEqual(stats.tail(list(range(20))), (9, 50.0, 20))

    def test_leaves_exactly_ten_samples_beyond(self):
        xs = list(range(100))
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (89, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_follows_the_sample_count(self):
        value, pct, n = stats.tail(list(range(40, 0, -1)))
        self.assertEqual((value, pct, n), (30, 75.0, 40))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(10, 40), (30, 60), (90, 120)], 0, 100), 60)
        self.assertEqual(stats.union_length([], 0, 100), 0)
        self.assertEqual(stats.union_length([(-5, 5), (200, 300)], 0, 100), 5)

    def test_self_time_subtracts_only_direct_children(self):
        spans = [span(1, 0, "t", "root", 0, 100),
                 span(2, 1, "t", "a", 10, 40),
                 span(3, 1, "t", "b", 30, 60),
                 span(4, 2, "t", "a.inner", 15, 20)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 25, 3: 30, 4: 5})

    def test_self_times_sum_to_the_root_duration(self):
        spans = [span(1, 0, "t", "root", 0, 100),
                 span(2, 1, "t", "a", 0, 70),
                 span(3, 2, "t", "b", 10, 30)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)


def record(**over):
    rec = {
        "setup": {"jvm_to_session_s": 5.0, "session_build_s": 4.0,
                  "reps_s": [1.0, 3.0, 2.0], "warmup_s": 10.0},
        "latency_ms": [100.0, 300.0, 200.0, 400.0],
        "traced": [False, True, False, True],
        "series": {"wordpiece_tokens": [600.0], "npy_files": [7, 9]},
        "checks": {"a": True, "b": True},
        "peak_rss_mb": 900.0,
        "trace_data": {
            "spans": [span(1, 0, "iter-1", "bench.iteration", 0, 1000),
                      span(2, 1, "iter-1", "io.read_npy", 100, 400),
                      span(3, 1, "iter-1", "ops.split", 400, 900),
                      span(4, 0, "iter-3", "bench.iteration", 2000, 2800),
                      span(5, 4, "iter-3", "io.read_npy", 2000, 2200),
                      span(6, 0, "setup-0", "bench.setup", 0, 50)],
            "counters": {"2": {"tasks": 4, "executor_cpu_s": 0.2,
                               "stage_task_ms": [[10, 10, 30]]},
                         "3": {"tasks": 2, "shuffle_write_bytes": 2e6, "executor_cpu_s": 0.4},
                         "5": {"tasks": 4, "executor_cpu_s": 0.1}},
            "jobs": [{"span": 2, "start_ms": 150, "end_ms": 350},
                     {"span": 3, "start_ms": 450, "end_ms": 850},
                     {"span": 5, "start_ms": 2050, "end_ms": 2150}],
        },
    }
    rec.update(over)
    return rec


class AggregateTest(unittest.TestCase):
    def test_end_to_end(self):
        m, extra = stats.end_to_end(record())
        self.assertEqual(m["setup_s"], 5.0 + 2.0 + 10.0)
        self.assertEqual(m["latency_p50_ms"], 250.0)
        self.assertEqual(m["peak_rss_mb"], 900.0)
        self.assertEqual(extra, {"tail_ms": 400.0, "tail_percentile": 100.0, "samples": 4})

    def test_per_layer(self):
        names = ["io.read_npy.s", "io.read_npy.files", "ops.split.s", "ops.split.shuffle_mb",
                 "functions.wordpiece.tokens_per_s", "core.plan.s", "core.plan_share",
                 "core.executor_cpu.s",
                 "core.task_skew", "bench.trace_overhead", "bench.step_coverage",
                 "streaming.trigger.s", "core.session_build.s"]
        m = stats.per_layer(record(), names)
        self.assertEqual(list(m), names)
        self.assertAlmostEqual(m["io.read_npy.s"], (0.3 + 0.2) / 2)
        self.assertEqual(m["io.read_npy.files"], 8)
        self.assertAlmostEqual(m["ops.split.s"], 0.5)  # one unit holds it
        self.assertAlmostEqual(m["ops.split.shuffle_mb"], 2.0)
        self.assertEqual(m["functions.wordpiece.tokens_per_s"], 0.0)  # no wordpiece span
        # iter-1: 1000 ms root, jobs busy 200 + 400 ms; iter-3: 800 - 100
        self.assertAlmostEqual(m["core.plan.s"], (0.4 + 0.7) / 2)
        self.assertAlmostEqual(m["core.plan_share"], (0.4 + 0.7 / 0.8) / 2)
        self.assertAlmostEqual(m["core.executor_cpu.s"], (0.6 + 0.1) / 2)
        self.assertAlmostEqual(m["core.task_skew"], 3.0)
        self.assertAlmostEqual(m["bench.trace_overhead"], 350.0 / 150.0)
        # iter-1: children cover 800 of 1000 ms; iter-3: 200 of 800
        self.assertAlmostEqual(m["bench.step_coverage"], (0.8 + 0.25) / 2)
        self.assertEqual(m["streaming.trigger.s"], 0.0)
        self.assertEqual(m["core.session_build.s"], 4.0)

    def test_unknown_per_layer_name_is_an_error(self):
        with self.assertRaises(KeyError):
            stats.per_layer(record(), ["no.such.metric"])


if __name__ == "__main__":
    unittest.main()
