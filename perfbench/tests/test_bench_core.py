"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import bench_core as core  # noqa: E402
import run  # noqa: E402

MODULES = {
    "A": ["a1", "a2", "a3", "a4", "a5"],
    "B": ["b1", "b2"],
    "C": ["c1"],
    "D": ["d1", "d2", "d3"],
}
COSTS = {"a1": 0.1, "a2": 0.50, "a3": 0.51, "a4": 0.9, "a5": 2.0,
         "b1": 0.3, "b2": 0.31, "c1": 1.0, "d1": 0.2, "d2": 0.8, "d3": 1.5}


class SampleTest(unittest.TestCase):
    def test_same_seed_same_sample_and_order(self):
        for seed in range(20):
            self.assertEqual(core.sample(MODULES, COSTS, seed),
                             core.sample(MODULES, COSTS, seed))

    def test_one_query_from_every_module(self):
        for seed in range(20):
            picked = core.sample(MODULES, COSTS, seed)
            owners = sorted(m for q in picked
                            for m, qs in MODULES.items() if q in qs)
            self.assertEqual(owners, sorted(MODULES))

    def test_seed_picks_between_cost_twins_only(self):
        seen = set()
        for seed in range(40):
            picked = core.sample(MODULES, COSTS, seed)
            seen.update(picked)
            # twins differ by <= 5%, so every sample costs the same to 5%
            total = sum(COSTS[q] for q in picked)
            self.assertLess(abs(total - 2.6), 0.05 * 2.6)
        # A and B offer twins, C and D (no twins: median) do not
        self.assertEqual(seen, {"a2", "a3", "b1", "b2", "c1", "d2"})

    def test_seed_changes_order(self):
        orders = {tuple(core.sample(MODULES, COSTS, s)) for s in range(20)}
        self.assertGreater(len(orders), 4)

    def test_cost_record_covers_the_inventory(self):
        with open(os.path.join(os.path.dirname(HERE), "costs.json")) as f:
            costs = json.load(f)
        self.assertEqual(len(costs), 392)


class PercentileTest(unittest.TestCase):
    def test_linear_between_ranks(self):
        values = list(range(1, 102))
        self.assertEqual(core.percentile(values, 50), 51)
        self.assertEqual(core.percentile(values, 90), 91)
        self.assertAlmostEqual(core.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(core.percentile([10, 20], 90), 19)
        self.assertEqual(core.percentile([7], 99), 7)
        import statistics
        for n in (5, 18, 37):
            vals = [(i * 7919) % 101 for i in range(n)]
            self.assertAlmostEqual(
                core.percentile(vals, 90),
                statistics.quantiles(vals, n=10, method="inclusive")[8])

    def test_ten_beyond_rule(self):
        # p90 has ten samples beyond it from 100 samples on, p99 from 1000
        self.assertEqual(core.beyond(100, 90), 10)
        self.assertLess(core.beyond(99, 90), 10)
        self.assertEqual(core.beyond(1000, 99), 10)
        self.assertLess(core.beyond(999, 99), 10)

    def test_median(self):
        self.assertEqual(core.median([3, 1, 2]), 2)
        self.assertEqual(core.median([4, 1, 2, 3]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(core.union_length([(10, 30), (20, 50), (60, 70)]),
                         50)
        self.assertEqual(core.union_length([(5, 5), (8, 2)]), 0)

    def test_self_time_subtracts_covered_part(self):
        spans = [
            {"id": "q", "parent": None, "name": "query", "start": 0,
             "end": 100},
            {"id": "b", "parent": "q", "name": "build", "start": 0,
             "end": 20},
            {"id": "w", "parent": "q", "name": "write", "start": 20,
             "end": 100},
            # two parallel stages under the write, one overrunning it
            {"id": "s1", "parent": "w", "name": "stage", "start": 30,
             "end": 60},
            {"id": "s2", "parent": "w", "name": "stage", "start": 50,
             "end": 110},
        ]
        own = core.self_times(spans)
        self.assertEqual(own, {"q": 0, "b": 20, "w": 10, "s1": 30,
                               "s2": 60})
        self.assertEqual(core.layer_self_times(spans)["stage"], 90)


class TaskLayersTest(unittest.TestCase):
    def test_scheduler_delay_is_wall_not_spent_in_the_task(self):
        def task(wall_ms, run_ms):
            return {"launch_us": 0, "finish_us": wall_ms * 1000,
                    "run_ms": run_ms, "deser_ms": 2, "ser_ms": 1,
                    "getres_ms": 0, "cpu_ns": 1_000_000, "gc_ms": 0,
                    "sw_bytes": 10, "sr_bytes": 5, "sw_records": 1,
                    "spill_bytes": 0}
        out = run.task_layers([task(50, 40), task(20, 30)], n=2)
        # 50 - 40 - 2 - 1 = 7; the second task's negative remainder is 0
        self.assertEqual(out["scheduler.delay_ms"], 3.5)
        self.assertEqual(out["scheduler.tasks"], 1)
        self.assertEqual(out["exec.run_ms"], 35)
        self.assertEqual(out["exec.cpu_ms"], 1)
        self.assertEqual(out["shuffle.write_bytes"], 10)


class FailureAccountingTest(unittest.TestCase):
    def test_wrong_result_is_detected(self):
        cols = ["k", "v"]
        good = [(1, 0.5), (2, 1.5)]
        self.assertIsNone(core.compare_result(cols, good, ["v", "k"],
                                              [(0.5, 1), (1.5, 2)]))
        self.assertIn("row 1", core.compare_result(cols, [(1, 0.5), (2, 1.25)],
                                                   cols, good))
        self.assertIn("row count", core.compare_result(cols, good[:1],
                                                       cols, good))
        self.assertIn("columns", core.compare_result(["k"], [(1,), (2,)],
                                                     cols, good))

    def test_wrong_result_counts_in_failed(self):
        execs = [{"name": "q_a", "error": None},
                 {"name": "q_b", "error": None},
                 {"name": "q_a", "error": None},
                 {"name": "q_c", "error": "boom"}]
        self.assertEqual(core.count_failures(execs, set()), (4, 1))
        self.assertEqual(core.count_failures(execs, {"q_a"}), (4, 3))

    def test_bus_check_counts_missed_and_repeated_events(self):
        cols = ["id", "triggered", "dup", "due_us", "sent_us",
                "stamped_due_us", "first_arrival_us", "arrivals"]

        def raw(arrivals, dropped):
            events = [[i, True, i == 0, 1000 + i, 1000 + i, 1000 + i,
                       5000 + i, a] for i, a in enumerate(arrivals)]
            return {
                "events_columns": cols, "events": events,
                "phase1": {"first_id": 0, "end_id": len(arrivals),
                           "end_us": 10, "cpu_ns": 10 ** 9, "rate": 1000},
                "phase2": {"first_id": 0, "end_id": len(arrivals),
                           "start_us": 0, "last_arrival_us": 10000,
                           "cpu_ns": 10 ** 9},
                "progress": [{"timestamp": "2026-01-01T00:00:00.000Z",
                              "durationMs": {"triggerExecution": 5},
                              "stateOperators": [{"customMetrics": {
                                  "numDroppedDuplicateRows": dropped}}]}],
                "setup_end_us": 0, "jvm_start_us": 0, "setup_cpu_ns": 10 ** 9,
                "phase1_cpu_groups_ns": {"app": 10 ** 9},
                "peak_rss_kb": 1024,
                "bridge_dropped": 0,
                "publishes": [{"start_us": t, "cpu_ns": t * 10 ** 6}
                              for t in (0, 1, 2)],
                "stray_arrivals": 0}

        self.assertEqual(run.bus_metrics(raw([1, 1, 1], 1))[1], 0)
        # event 1 never arrived, event 2 arrived twice
        self.assertEqual(run.bus_metrics(raw([1, 0, 2], 1))[1], 2)
        # the injected duplicate of event 0 was not dropped by dedup
        self.assertEqual(run.bus_metrics(raw([1, 1, 1], 0))[1], 1)


class CpuMetricTest(unittest.TestCase):
    def test_batch_pass_is_sum_of_per_query_median_cpu(self):
        def q(name, p, cpu_ms):
            return {"name": name, "pass": p, "error": None, "start_us": 0,
                    "end_us": 1000, "cpu_ns": cpu_ms * 10 ** 6}
        raw = {"queries": [q("a", 0, 100), q("b", 0, 300), q("a", 1, 200),
                           q("b", 1, 500), q("a", 2, 900)],
               "setup_end_us": 0, "jvm_start_us": 0, "timed_end_us": 10 ** 6,
               "setup_cpu_ns": 2 * 10 ** 9, "peak_rss_kb": 1024,
               "timed_cpu_groups_ns": {"app": 10 ** 9}}
        metrics = run.batch_metrics(raw, set())[2]
        self.assertEqual(metrics["setup_s"], 2.0)
        # a: median of 100, 200, 900; b: median of 300 and 500
        self.assertAlmostEqual(metrics["pass_cpu_s"], 0.2 + 0.4)

    def test_bus_pass_takes_every_interval_at_the_median(self):
        # intervals of 2, 2, 9 and 3 s of CPU: the median is 2.5 s; the
        # phase has 10,000 events at 1000 events/s, so ten intervals
        starts = [0, 2, 4, 13, 16]
        raw = {"events_columns": ["id", "triggered", "dup", "due_us",
                                  "sent_us", "stamped_due_us",
                                  "first_arrival_us", "arrivals"],
               "events": [[0, True, False, 1, 1, 1, 2, 1]],
               "phase1": {"first_id": 0, "end_id": 10000, "end_us": 100,
                          "cpu_ns": 0, "rate": 1000},
               "phase2": {"first_id": 0, "end_id": 1, "start_us": 0,
                          "last_arrival_us": 10, "cpu_ns": 0},
               "publishes": [{"start_us": i, "cpu_ns": t * 10 ** 9}
                             for i, t in enumerate(starts)],
               "progress": [], "setup_end_us": 0, "jvm_start_us": 0,
               "setup_cpu_ns": 0, "phase1_cpu_groups_ns": {},
               "peak_rss_kb": 1024, "bridge_dropped": 0,
               "stray_arrivals": 0}
        self.assertAlmostEqual(run.bus_metrics(raw)[2]["pass_cpu_s"], 25.0)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_py_prints(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                               "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
