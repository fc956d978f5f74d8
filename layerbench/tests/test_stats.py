"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s layerbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import check  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_median(self):
        self.assertIsNone(stats.tail(list(range(19))))
        v, p, n = stats.tail(list(range(1, 21)))
        self.assertEqual((v, p, n), (10, 0.5, 20))

    def test_picks_the_highest_qualifying_ladder_step(self):
        xs = list(range(1, 101))
        # p90 leaves exactly 10 beyond; p95 would leave 5
        self.assertEqual(stats.tail(xs), (90, 0.9, 100))
        self.assertEqual(stats.tail(xs[:99])[1], 0.75)
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 0.99, 1000))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class GeomeanTest(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.3]), 0.3)

    def test_rejects_empty_and_nonpositive(self):
        for xs in ([], [1.0, 0.0], [-1.0]):
            with self.assertRaises(ValueError):
                stats.geomean(xs)


class RollupTest(unittest.TestCase):
    def test_sums_and_scheduling_delay(self):
        stages = [
            dict(tasks=4, run_ms=900, cpu_ns=700_000_000, gc_ms=20, shuffle_read_b=0,
                 shuffle_write_b=1 << 20, spill_b=0, max_task_ms=250,
                 submit_ms=1000, complete_ms=1400),
            dict(tasks=2, run_ms=100, cpu_ns=50_000_000, gc_ms=0, shuffle_read_b=1 << 20,
                 shuffle_write_b=0, spill_b=2 << 20, max_task_ms=40,
                 submit_ms=1400, complete_ms=1450),
            # a stage whose longest task outlasts the stage's recorded wall
            # (clock skew between the two timestamps) adds no delay
            dict(tasks=1, max_task_ms=30, submit_ms=2000, complete_ms=2020),
        ]
        r = stats.rollup(stages)
        self.assertEqual(r["stages"], 3)
        self.assertEqual(r["tasks"], 7)
        self.assertAlmostEqual(r["run_s"], 1.0)
        self.assertAlmostEqual(r["cpu_s"], 0.75)
        self.assertAlmostEqual(r["shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(r["shuffle_read_mb"], 1.0)
        self.assertAlmostEqual(r["spill_mb"], 2.0)
        self.assertAlmostEqual(r["sched_s"], (400 - 250 + 50 - 40) / 1e3)

    def test_empty(self):
        self.assertEqual(stats.rollup([])["sched_s"], 0.0)


class StealTest(unittest.TestCase):
    L0 = "cpu  1000 10 500 8000 100 0 50 40 300 0"
    L1 = "cpu  1600 10 700 8500 100 0 50 140 400 0"

    def test_parse(self):
        total, steal = stats.parse_cpu_line(self.L0)
        self.assertEqual((total, steal), (1000 + 10 + 500 + 8000 + 100 + 0 + 50 + 40, 40))

    def test_pct(self):
        # deltas: user 600, system 200, idle 500, steal 100 -> 100 / 1400
        self.assertAlmostEqual(stats.steal_pct(self.L0, self.L1), 100 * 100 / 1400)

    def test_old_kernels_without_steal_column(self):
        self.assertEqual(stats.parse_cpu_line("cpu 1 2 3 4"), (10, 0))

    def test_rejects_per_cpu_lines(self):
        with self.assertRaises(ValueError):
            stats.parse_cpu_line("cpu0 1 2 3 4 5 6 7 8")


class SpanTest(unittest.TestCase):
    def span(self, i, parent, name, s, e, op="0/q"):
        return dict(id=i, parent=parent, name=name, op=op, start_ms=float(s), end_ms=float(e))

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(1, 0, "op", 0, 1000),
                 self.span(2, 1, "exec", 100, 900),
                 self.span(3, 2, "spark.job", 200, 500),
                 self.span(4, 2, "spark.job", 400, 600),   # overlaps the first job
                 self.span(5, 2, "spark.job", 850, 950)]   # runs past its parent
        st = stats.self_times(spans)
        self.assertAlmostEqual(st["op"], 0.2)
        self.assertAlmostEqual(st["exec"], (800 - 400 - 50) / 1e3)
        self.assertAlmostEqual(st["spark.job"], 0.6)

    def test_jobs_and_stages_hang_under_the_open_span(self):
        spans = [self.span(1, 0, "op", 0, 1000),
                 self.span(2, 1, "queries.build", 0, 300),
                 self.span(3, 1, "exec", 300, 1000)]
        passes = [dict(traced=True,
                       jobs=[dict(id=7, tag="0/q/build", start_ms=100, end_ms=200),
                             dict(id=8, tag="0/q/exec", start_ms=400, end_ms=900)],
                       stages=[dict(tag="0/q/exec", submit_ms=410, complete_ms=880)])]
        extra = stats.spark_spans(spans, passes)
        self.assertEqual([(s["name"], s["parent"]) for s in extra],
                         [("spark.job", 2), ("spark.job", 3), ("spark.stage", extra[1]["id"])])


class MetricsTest(unittest.TestCase):
    @staticmethod
    def pass_(kind, wall, lats, cpu_ns):
        return dict(kind=kind, traced=False, wall_s=wall,
                    ops=[dict(op=o, s=s, error=None) for o, s in lats],
                    stages=[dict(cpu_ns=cpu_ns)])

    def test_end_to_end(self):
        raw = dict(setup_s=0.3, retained_b=3 << 20, passes=[
            self.pass_("cold", 9.0, [("a", 5.0), ("b", 4.0)], 1),
            self.pass_("timed", 2.0, [("a", 1.0), ("b", 4.0)], 2_000_000_000),
            self.pass_("timed", 3.0, [("a", 1.0), ("b", 4.0)], 1_000_000_000),
            self.pass_("timed", 2.5, [("a", 1.0), ("b", 4.0)], 3_000_000_000)])
        m, extra = stats.end_to_end(raw)
        self.assertEqual(m["pass_s"], 2.5)
        self.assertAlmostEqual(m["op_geomean_s"], 2.0)
        self.assertEqual(m["task_cpu_s"], 2.0)
        self.assertEqual(m["setup_s"], 0.3)
        self.assertEqual(m["retained_mb"], 3.0)
        self.assertIsNone(extra["op_tail"])

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


class CheckTest(unittest.TestCase):
    def test_compare(self):
        a = [{"k": 1, "v": 0.1 + 0.2}]
        self.assertIsNone(check.compare(a, [{"v": 0.3, "k": 1}]))
        self.assertIn("rows", check.compare(a, []))
        self.assertIn("column v", check.compare(a, [{"k": 1, "v": 0.31}]))


class ContractTest(unittest.TestCase):
    """BENCHMARK.json names exactly what run.py measures."""

    def test_benchmark_json_matches_run(self):
        spec = json.load(open(os.path.join(HERE, "..", "..", "BENCHMARK.json")))
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
