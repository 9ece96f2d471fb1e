"""Tests of the benchmark's arithmetic: python3 -m unittest discover perfbench"""
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90, 10))

    def test_thirty_samples_give_p66(self):
        value, p, beyond = stats.tail([float(i) for i in range(30)])
        self.assertEqual((p, beyond), (66, 10))
        self.assertEqual(value, 19.0)

    def test_every_percentile_leaves_at_least_ten_beyond(self):
        for n in range(11, 400):
            value, p, beyond = stats.tail(list(range(n)))
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(sum(1 for x in range(n) if x > value), beyond)
            # one more whole percentile would leave fewer than ten beyond
            self.assertLess(n - -(-(p + 1) * n // 100), 10)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (6, 7), (30, 40)]), 30)

    def test_union_clips_to_window(self):
        self.assertEqual(stats.union_ms([(-5, 5), (8, 50)], 0, 10), 7)

    def test_union_ignores_empty_intervals(self):
        self.assertEqual(stats.union_ms([(3, 3), (9, 4)]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        jobs = [(10, 30), (20, 40), (60, 70)]
        self.assertEqual(stats.driver_gap_ms(0, 100, jobs), 100 - 40)

    def test_driver_gap_counts_only_jobs_inside_the_op(self):
        self.assertEqual(stats.driver_gap_ms(100, 200, [(50, 120), (190, 260)]), 70)

    def test_driver_gap_without_jobs_is_the_wall_time(self):
        self.assertEqual(stats.driver_gap_ms(0, 12.5, []), 12.5)

    def test_self_time_subtracts_covered_part_once(self):
        span = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 20}, {"start": 15, "end": 30}, {"start": 90, "end": 120}]
        self.assertEqual(stats.self_ms(span, kids), 100 - 20 - 10)


class MiscTest(unittest.TestCase):
    def test_modules_by_query_id(self):
        self.assertEqual(stats.module_of("d02_jaccard_neardup"), "dedup")
        self.assertEqual(stats.module_of("qa1_approx_distinct"), "functions")
        self.assertIsNone(stats.module_of("q76_asof_native"))
        self.assertIsNone(stats.module_of("cycle3"))
        self.assertEqual(stats.module_of("r01_hybrid_rrf"), "similarity")
        self.assertEqual(stats.module_of("g01_pagerank"), "ops")
        self.assertEqual(stats.module_of("q58_overlap_join_grid"), "ops")


class OpLatencyTest(unittest.TestCase):
    def test_per_op_medians_and_their_geometric_mean(self):
        def op(i, name, ms):
            return {"id": i, "parent": -1, "name": "op", "start": 0, "end": ms,
                    "attrs": {"op": name}}
        spans = [op(0, "a", 100), op(1, "a", 110), op(2, "a", 900),
                 op(3, "b", 2000), op(4, "b", 2100), op(5, "b", 2200),
                 op(6, "c", 500)]
        r = stats.Record({"spans": spans})
        self.assertEqual(sorted(r.op_medians_s()), [0.11, 0.5, 2.1])
        self.assertAlmostEqual(r.op_gmean_s(), (0.11 * 0.5 * 2.1) ** (1 / 3))


class ProfiledTest(unittest.TestCase):
    def test_profiled_ops_are_kept_apart_from_measured_ops(self):
        spans = [{"id": 0, "parent": -1, "name": "pass", "start": 0, "end": 10, "attrs": {}},
                 {"id": 1, "parent": 0, "name": "op", "start": 0, "end": 10,
                  "attrs": {"op": "q104_lake_merge_cdc"}},
                 {"id": 2, "parent": -1, "name": "profile", "start": 20, "end": 50, "attrs": {}},
                 {"id": 3, "parent": 2, "name": "op", "start": 20, "end": 50,
                  "attrs": {"op": "q106_typed_merge_sql"}}]
        r = stats.Record({"spans": spans})
        self.assertEqual([o["id"] for o in r.ops], [1])
        self.assertEqual([o["id"] for o in r.profiled], [3])
        self.assertEqual(r.op_latencies_s(), [0.01])


class RecordTest(unittest.TestCase):
    def record(self):
        spans = [
            {"id": 0, "parent": -1, "name": "pass", "start": 0, "end": 100, "attrs": {"pass": 1}},
            {"id": 1, "parent": 0, "name": "op", "start": 0, "end": 100,
             "attrs": {"op": "q104_lake_merge_cdc", "pass": 1, "sources.open": 7}},
            {"id": 2, "parent": 1, "name": "build", "start": 0, "end": 40, "attrs": {}},
            {"id": 3, "parent": 1, "name": "action", "start": 40, "end": 100, "attrs": {}},
        ]
        jobs = [{"job": 0, "span": 2, "start": 10, "end": 20},
                {"job": 1, "span": 3, "start": 50, "end": 80}]
        stages = [{"stage": 0, "job": 1, "tasks": 4, "task_ms": 80, "gc_ms": 1,
                   "shuffle_read_bytes": 5, "shuffle_write_bytes": 6, "spill_bytes": 0,
                   "task_durations_ms": [10, 10, 20, 40]}]
        queries = [{"phases": {"analysis": {"start": 5, "end": 45},
                               "planning": {"start": 45, "end": 48}},
                    "exchanges": 2, "custom_nodes": 1,
                    "widest_join_rows": 50, "result_rows": 10}]
        return {"workload": "lake_dml", "spans": spans, "failures": [], "extra": {},
                "trace": {"jobs": jobs, "stages": stages, "queries": queries}}

    def test_op_layers(self):
        r = stats.Record(self.record())
        m = r.op_layers(r.ops[0], cores=4)
        self.assertEqual(m["execution.jobs"], 2)
        self.assertEqual(m["entry.build_jobs"], 1)
        self.assertEqual(m["build_self_ms"], 40 - 10)
        self.assertEqual(m["execution.driver_gap_ms"], 100 - 10 - 30)
        self.assertEqual(m["execution.task_skew"], 40 / 15)
        self.assertEqual(m["execution.core_busy"], 80 / 400)
        # the write's analysis record starts in the build; only the part
        # inside the action span counts
        self.assertEqual(m["planning.analysis_ms"], 5)
        self.assertEqual(m["planning.physical_ms"], 3)
        self.assertEqual(m["planning.exchanges"], 2)
        self.assertEqual(m["sources.open"], 7)


if __name__ == "__main__":
    unittest.main()
