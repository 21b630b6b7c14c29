"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats

MS = 1_000_000  # ns per ms


def query(qid, name, t, ok=True, h="3:00ff", pass_no=1, **kw):
    """A query record with phase boundaries t = (t0, t1, t2, t3) in ms."""
    t0, t1, t2, t3 = (x * MS for x in t)
    q = dict(type="query", id=qid, name=name, ok=ok, hash=h, t0=t0, t1=t1, t2=t2, t3=t3,
             gc_ms=0, compiles=0, compile_ms=0.0)
    q["pass"] = pass_no
    q.update(kw)
    return q


def stage(sid, start, end, tasks=4, run_ms=100, **kw):
    base = dict(type="stage", id=sid, attempt=0, start_ms=start, end_ms=end, ok=True, tasks=tasks,
                task_failures=0, run_ms=run_ms, cpu_ns=run_ms * MS // 2, gc_ms=0,
                shuffle_write_bytes=0, shuffle_read_bytes=0, fetch_wait_ms=0, spill_disk_bytes=0,
                spill_mem_bytes=0, read_bytes=0, read_records=0, write_bytes=0, write_records=0)
    base.update(kw)
    return base


class Percentile(unittest.TestCase):
    def test_median_and_count(self):
        self.assertEqual(stats.p50([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(stats.p50([4, 1, 3, 2]), (2.5, 4))
        self.assertEqual(stats.p50(iter([7])), (7, 1))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.p50([])

    def test_query_median_takes_each_pass_median_first(self):
        passes = [[query(1, "a", (0, 0, 0, 100)), query(5, "b", (0, 0, 0, 300))],
                  [query(9, "a", (0, 0, 0, 120)), query(13, "b", (0, 0, 0, 500))],
                  [query(17, "a", (0, 0, 0, 90)), query(21, "b", (0, 0, 0, 310))]]
        value, n = stats.query_p50(passes)
        self.assertAlmostEqual(value, 0.2)  # pooled, the six samples would give 0.21
        self.assertEqual(n, 3)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(0, 10, []), 10)

    def test_overlapping_children_counted_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (3, 6), (8, 9)]), 10 - 5 - 1)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.self_time(5, 10, [(0, 6), (9, 20)]), 5 - 1 - 1)

    def test_nested_and_empty_children(self):
        self.assertEqual(stats.self_time(0, 10, [(2, 8), (3, 4), (5, 5)]), 4)

    def test_child_outside_parent(self):
        self.assertEqual(stats.self_time(0, 10, [(11, 12)]), 10)


class IdleCores(unittest.TestCase):
    def test_half_idle(self):
        self.assertAlmostEqual(stats.idle_core_frac(400, 200, 4), 0.5)

    def test_fully_busy_and_idle(self):
        self.assertAlmostEqual(stats.idle_core_frac(800, 200, 4), 0.0)
        self.assertAlmostEqual(stats.idle_core_frac(0, 200, 4), 1.0)

    def test_rejects_empty_window(self):
        with self.assertRaises(ValueError):
            stats.idle_core_frac(10, 0, 4)


class OutputCheck(unittest.TestCase):
    expected = {"q_a": "3:00ff", "q_b": "1:0001"}

    def test_match_is_no_failure(self):
        qs = [query(1, "q_a", (0, 1, 2, 3)), query(5, "q_b", (3, 4, 5, 6), h="1:0001")]
        fails = stats.execution_failures(qs, self.expected)
        self.assertEqual(fails, [])
        self.assertEqual(stats.failed_frac(fails, len(qs)), 0.0)

    def test_mismatch_throw_and_unknown_each_count_once(self):
        qs = [query(1, "q_a", (0, 1, 2, 3), h="3:00fe"),
              query(5, "q_b", (3, 4, 4, 4), ok=False, h="", phase="plan",
                    error_class="org.apache.spark.sql.AnalysisException", error="cannot resolve x"),
              query(9, "q_c", (4, 5, 6, 7)),
              query(13, "q_a", (7, 8, 9, 10), pass_no=2)]
        fails = stats.execution_failures(qs, self.expected)
        self.assertEqual([(f["name"], f["error_class"]) for f in fails],
                         [("q_a", "HashMismatch"),
                          ("q_b", "org.apache.spark.sql.AnalysisException"),
                          ("q_c", "NoExpectedHash")])
        self.assertEqual(fails[1]["phase"], "plan")
        self.assertEqual(fails[1]["error"], "cannot resolve x")
        self.assertEqual(fails[0]["pass"], 1)
        self.assertAlmostEqual(stats.failed_frac(fails, len(qs)), 3 / 4)

    def test_no_attempts(self):
        with self.assertRaises(ValueError):
            stats.failed_frac([], 0)


class Layers(unittest.TestCase):
    epoch = 1_000_000  # epoch ms of the run's nanosecond clock origin

    def setUp(self):
        # q1: build 0-10 ms (one eager job 2-6), plan 10-12, exec 12-30 (job 14-28)
        # q2: build 30-31, plan 31-35, exec 35-50 (job 36-48, no span property)
        self.q1 = query(1, "q_a", (0, 10, 12, 30), compiles=2, compile_ms=1.5, gc_ms=3)
        self.q2 = query(5, "q_b", (30, 31, 35, 50), gc_ms=1)
        e = self.epoch
        self.jobs = [dict(id=0, span="2", start_ms=e + 2, end_ms=e + 6, stages=[0]),
                     dict(id=1, span="4", start_ms=e + 14, end_ms=e + 28, stages=[1, 2]),
                     dict(id=2, span="", start_ms=e + 36, end_ms=e + 48, stages=[2, 3])]
        self.stages = [stage(0, e + 3, e + 5, tasks=1, run_ms=2),
                       stage(1, e + 15, e + 20, tasks=4, run_ms=16, shuffle_write_bytes=100),
                       stage(2, e + 21, e + 27, tasks=4, run_ms=20, shuffle_read_bytes=100),
                       stage(3, e + 37, e + 47, tasks=2, run_ms=18, read_bytes=1000)]
        self.qes = [dict(start_ms=e + 1, analysis_ms=1, optimization_ms=2, planning_ms=3),
                    dict(start_ms=e + 11, analysis_ms=0, optimization_ms=1, planning_ms=1),
                    dict(start_ms=e + 60, analysis_ms=9, optimization_ms=9, planning_ms=9)]

    def test_jobs_attach_by_property_then_time(self):
        outside = dict(id=3, span="", start_ms=self.epoch + 99, end_ms=self.epoch + 120, stages=[])
        attached, by_time = stats.attach_jobs([self.q1, self.q2], self.jobs + [outside], self.epoch)
        owners = [(q["name"], phase, j["id"]) for (q, phase), j in attached]
        self.assertEqual(owners, [("q_a", "build", 0), ("q_a", "exec", 1), ("q_b", "exec", 2)])
        self.assertEqual(by_time, 1)

    def test_pass_sums(self):
        qs = [self.q1, self.q2]
        attached, _ = stats.attach_jobs(qs, self.jobs, self.epoch)
        s = stats.layer_sums(qs, attached, self.stages, self.qes, 4, self.epoch)
        self.assertAlmostEqual(s["build.ms"], 11)
        self.assertAlmostEqual(s["plan.ms"], 6)
        self.assertAlmostEqual(s["exec.ms"], 33)
        self.assertEqual(s["build.jobs"], 1)
        self.assertEqual(s["sched.jobs"], 3)
        self.assertEqual(s["sched.stages"], 4)  # stage 2 belongs to two jobs, counted once
        self.assertEqual(s["sched.tasks"], 11)
        self.assertAlmostEqual(s["exec.task_run_ms"], 56)
        self.assertAlmostEqual(s["exec.task_cpu_ms"], 28)
        self.assertAlmostEqual(s["exec.cpu_frac"], 0.5)
        self.assertAlmostEqual(s["sched.idle_core_frac"], 1 - 56 / (50 * 4))
        self.assertEqual(s["shuffle.write_bytes"], 100)
        self.assertEqual(s["shuffle.read_bytes"], 100)
        self.assertEqual(s["io.read_bytes"], 1000)
        self.assertEqual(s["plan.analysis_ms"], 1)
        self.assertEqual(s["plan.optimizer_ms"], 3)
        self.assertEqual(s["plan.physical_ms"], 4)
        self.assertEqual(s["codegen.compiles"], 2)
        self.assertAlmostEqual(s["codegen.compile_ms"], 1.5)
        self.assertEqual(s["exec.gc_ms"], 4)
        # build 11 ms minus its 4 ms job; exec 33 ms minus jobs of 14 and 12 ms
        self.assertAlmostEqual(s["build.self_ms"], 7)
        self.assertAlmostEqual(s["exec.self_ms"], 7)
        # job gaps: job0 4-2, job1 14-(5+6), job2 12-10 (stage 2 ran outside it)
        self.assertAlmostEqual(s["sched.gap_ms"], 2 + 3 + 2)

    def test_phase_spans_tile_the_query(self):
        qs = [self.q1, self.q2]
        attached, _ = stats.attach_jobs(qs, self.jobs, self.epoch)
        s = stats.layer_sums(qs, attached, self.stages, self.qes, 4, self.epoch)
        self.assertEqual(s["trace.span_residual_ms"], 0)
        self.assertAlmostEqual(s["build.ms"] + s["plan.ms"] + s["exec.ms"],
                               stats.pass_seconds(qs) * 1000)

    def test_sums_only_count_the_given_pass(self):
        attached, _ = stats.attach_jobs([self.q1, self.q2], self.jobs, self.epoch)
        s = stats.layer_sums([self.q2], attached, self.stages, self.qes, 4, self.epoch)
        self.assertEqual(s["sched.jobs"], 1)
        self.assertEqual(s["sched.stages"], 2)
        self.assertEqual(s["plan.analysis_ms"], 0)


if __name__ == "__main__":
    unittest.main()
