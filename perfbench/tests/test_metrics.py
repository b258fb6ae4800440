"""Metric arithmetic: span self time, the tail rule, failure counting
and the per-layer sums of a traced pass.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(id, kind, start, end, parent=-1, name="q"):
    return {"id": id, "parent": parent, "kind": kind, "name": name, "start": start, "end": end}


def job(start, end, span=None, callsite="toRdd at CacheScope.scala:95", sql=True):
    return {"id": 0, "start": start, "end": end, "span": span, "callsite": callsite,
            "sql": sql, "stages": []}


def stage(span, start, run_ms, task_ms, tasks=None):
    return {"id": 0, "attempt": 0, "span": span, "start": start, "end": start + 1,
            "tasks": tasks or len(task_ms), "failed": False, "failed_tasks": 0,
            "run_ms": run_ms, "gc_ms": 0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "task_ms": task_ms}


class SelfTime(unittest.TestCase):
    def test_no_children_is_whole_span(self):
        self.assertEqual(metrics.self_ms(span(0, "build", 0, 100), []), 100)

    def test_overlapping_children_count_once(self):
        children = [{"start": 10, "end": 30}, {"start": 20, "end": 40}]
        self.assertEqual(metrics.self_ms(span(0, "build", 0, 100), children), 70)

    def test_children_are_clipped_to_the_span(self):
        children = [{"start": -50, "end": 10}, {"start": 90, "end": 150}]
        self.assertEqual(metrics.self_ms(span(0, "exec", 0, 100), children), 80)

    def test_child_covering_span_leaves_zero(self):
        children = [{"start": 0, "end": 100}, {"start": 40, "end": 60}]
        self.assertEqual(metrics.self_ms(span(0, "exec", 0, 100), children), 0)

    def test_unfinished_child_is_ignored(self):
        children = [{"start": 10, "end": None}]
        self.assertEqual(metrics.self_ms(span(0, "exec", 0, 100), children), 100)


class Tail(unittest.TestCase):
    def test_p90_at_100_samples(self):
        value, pct, n = metrics.tail(list(range(1, 101)))
        self.assertEqual((value, pct, n), (90, 90.0, 100))

    def test_ten_samples_stay_above(self):
        xs = [float(x) for x in range(37)]
        value, pct, n = metrics.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(n, 37)
        self.assertAlmostEqual(pct, 100.0 * 27 / 37)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_too_few_samples_give_interpolated_p90(self):
        value, pct, n = metrics.tail([float(x) for x in range(10, 0, -1)])
        self.assertAlmostEqual(value, 9.1)
        self.assertEqual((pct, n), (90.0, 10))
        self.assertAlmostEqual(metrics.tail([3.0, 1.0, 2.0])[0], 2.8)
        self.assertEqual(metrics.tail([4.0])[0], 4.0)


def dump_with(queries_per_pass):
    warm = [{"wall_s": sum(q["wall_s"] for q in qs), "cpu_s": 1.0, "queries": qs}
            for qs in queries_per_pass]
    cold = {"wall_s": 9.0, "cpu_s": 9.0, "queries": []}
    return {"ready_ms": 0, "cpus": 4, "cold": cold, "warm": warm, "traced": [],
            "kernels": {}, "vm_hwm_mb": 900.0}


class FailedQueries(unittest.TestCase):
    def test_query_that_throws_is_failed_and_never_fast(self):
        ok = {"name": "q_a", "wall_s": 1.0, "cpu_s": 1.0, "ok": True, "error": None}
        crash = {"name": "q_b", "wall_s": 0.001, "cpu_s": 0.0, "ok": False, "error": "boom"}
        dump = dump_with([[dict(ok), dict(crash)] for _ in range(3)])
        m, attempted, failed, detail = metrics.end_to_end([dump], [1.0, 2.0, 3.0],
                                                           {"q_a": True, "q_b": True})
        self.assertEqual(attempted, 3 * 2 + 2)
        self.assertEqual(failed, 3)
        self.assertEqual(detail["query_samples"], 3)
        self.assertEqual(m["query_p50_s"], 1.0)
        self.assertEqual(m["query_tail_s"], 1.0)
        self.assertAlmostEqual(detail["failed_frac"], 3 / 8)

    def test_oracle_mismatch_is_failed(self):
        ok = {"name": "q_a", "wall_s": 1.0, "cpu_s": 1.0, "ok": True, "error": None}
        dump = dump_with([[dict(ok)]])
        _, attempted, failed, _ = metrics.end_to_end([dump], [1.0], {"q_a": False})
        self.assertEqual((attempted, failed), (2, 1))

    def test_setup_is_the_median_of_its_samples(self):
        ok = {"name": "q_a", "wall_s": 1.0, "cpu_s": 1.0, "ok": True, "error": None}
        m, _, _, _ = metrics.end_to_end([dump_with([[ok]])], [4.0, 9.0, 5.0], {"q_a": True})
        self.assertEqual(m["setup_s"], 5.0)

    def test_cold_pass_is_the_median_over_forks_and_warm_passes_pool(self):
        ok = {"name": "q_a", "wall_s": 1.0, "cpu_s": 1.0, "ok": True, "error": None}
        slow = dict(ok, wall_s=3.0)
        fork0 = dict(dump_with([[ok]]),
                     cold={"wall_s": 12.0, "cpu_s": 1.0, "queries": [ok]})
        fork1 = dict(dump_with([[slow]]),
                     cold={"wall_s": 10.0, "cpu_s": 1.0, "queries": [ok]})
        m, attempted, _, detail = metrics.end_to_end([fork0, fork1], [4.0, 5.0],
                                                     {"q_a": True})
        self.assertEqual(m["cold_pass_s"], 11.0)
        self.assertEqual(m["setup_s"], 4.5)
        self.assertEqual(m["pass_wall_s"], 2.0)
        # two cold passes, two warm passes, one oracle check
        self.assertEqual((attempted, detail["warm_passes"]), (5, 2))


class TracedPass(unittest.TestCase):
    def setUp(self):
        spans = [
            span(0, "table", 0, 10, name="region"),
            span(1, "query", 20, 200),
            span(2, "build", 20, 100, parent=1),
            span(3, "plan", 100, 110, parent=1),
            span(4, "exec", 110, 200, parent=1),
            span(5, "pass", 15, 210),
        ]
        jobs = [
            job(2, 8, span=0, callsite="parquet at Tables.scala:14", sql=False),
            job(30, 40, span=2, callsite="parquet at Tables.scala:57", sql=False),
            job(50, 90, span=2, callsite="collect at GraphOps.scala:10", sql=True),
            # no span property: placed by time inside the exec span
            job(120, 180, span=None),
        ]
        stages = [stage(2, 50, 100, [10, 10]), stage(4, 120, 400, [10, 20, 60], tasks=3)]
        self.tp = {"spans": spans, "jobs": jobs, "stages": stages, "progress": [],
                   "blocks_written": 2, "peak_storage_bytes": 1024 * 1024,
                   "wall_s": 0.2, "cpu_s": 0.1,
                   "queries": [{"name": "q", "wall_s": 0.18, "cpu_s": 0.1, "ok": True,
                                "plan": {"exchanges": 2, "reused_exchanges": 1}, "rdds_left": 1}]}

    def test_phase_sums(self):
        m = metrics.traced_pass(self.tp, cpus=4)
        self.assertAlmostEqual(m["tables.open_s"], 0.010)
        self.assertEqual(m["tables.open_jobs"], 1)
        self.assertAlmostEqual(m["build_s"], 0.080)
        self.assertAlmostEqual(m["build.self_s"], 0.030)
        self.assertEqual(m["build.jobs"], 2)
        self.assertEqual(m["build.footer_jobs"], 1)
        self.assertAlmostEqual(m["build.footer_job_share"], 0.5)
        self.assertAlmostEqual(m["plan_s"], 0.010)
        self.assertAlmostEqual(m["exec_s"], 0.090)
        self.assertAlmostEqual(m["exec.self_s"], 0.030)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.tasks"], 3)
        self.assertAlmostEqual(m["exec.core_util"], 0.4 / (0.09 * 4))
        self.assertAlmostEqual(m["exec.task_skew"], 3.0)
        self.assertEqual(m["plan.exchanges"], 2)
        self.assertEqual(m["cache.rdds_left"], 1)
        self.assertAlmostEqual(m["cache.peak_storage_mb"], 1.0)

    def test_per_query_breakdown(self):
        row = metrics.per_query(self.tp)["q"]
        self.assertAlmostEqual(row["build_s"], 0.080)
        self.assertEqual(row["build_jobs"], 2)
        self.assertEqual(row["exec_jobs"], 1)


if __name__ == "__main__":
    unittest.main()
