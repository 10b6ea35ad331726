"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import math
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 52))  # 51 samples
        v, q, beyond = metrics.tail(xs)
        self.assertEqual((q, beyond), (80, 10))
        self.assertEqual(v, metrics.quantile(xs, 0.80))
        # the estimate sits at the nearest-rank position, ten samples below the top
        self.assertTrue(41 <= v < 42, v)

    def test_percentile_rises_with_samples(self):
        for n in (11, 20, 57, 100, 1000, 5000):
            xs = [float(i) for i in range(n)]
            v, q, beyond = metrics.tail(xs)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(n - math.ceil(q * n / 100), beyond)
            # one percent higher would leave fewer than ten beyond
            if q < 99:
                k = -(-(q + 1) * n // 100)
                self.assertLess(n - k, 10, n)
        self.assertEqual(metrics.tail(range(1000))[1], 99)

    def test_unsorted_input_and_small_samples(self):
        v, q, beyond = metrics.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 11, 10])
        self.assertEqual((q, beyond), (9, 10))
        self.assertTrue(1 <= v < 2, v)
        self.assertEqual(metrics.tail([3, 1, 2]), (2.0, 50, 1))
        self.assertEqual(metrics.tail([]), (0.0, 0, 0))


class QuantileTest(unittest.TestCase):
    def test_incomplete_beta_closed_forms(self):
        for x in (0.0, 0.1, 0.37, 0.5, 0.9, 1.0):
            self.assertAlmostEqual(metrics.betainc(1, 1, x), x)
            self.assertAlmostEqual(metrics.betainc(2, 2, x), 3 * x ** 2 - 2 * x ** 3)
            self.assertAlmostEqual(metrics.betainc(3.5, 1, x), x ** 3.5)

    def test_weights_by_hand(self):
        # Beta(2, 2) weights over thirds: 7/27, 13/27, 7/27
        self.assertAlmostEqual(metrics.quantile([0, 0, 1], 0.5), 7 / 27)
        self.assertAlmostEqual(metrics.quantile([1, 0, 0], 0.5), 7 / 27)

    def test_bounds_symmetry_and_order(self):
        self.assertAlmostEqual(metrics.quantile([4.0] * 9, 0.5), 4.0)
        self.assertAlmostEqual(metrics.quantile(range(1, 10), 0.5), 5.0)
        self.assertEqual(metrics.quantile([], 0.5), 0.0)
        xs = [1.2, 3.0, 3.3, 3.4, 3.5, 3.7, 4.0, 4.1, 6.5]
        qs = [metrics.quantile(xs, q / 100) for q in range(5, 100, 5)]
        self.assertEqual(qs, sorted(qs))
        self.assertTrue(min(xs) < qs[0] and qs[-1] < max(xs))

    def test_moves_less_than_the_sample_median(self):
        # two middle steps trade places: the fifth of nine jumps by the whole
        # gap, the estimate by a fraction of it
        a = [1.0, 3.0, 3.1, 3.2, 3.3, 4.0, 4.1, 4.2, 6.0]
        b = [1.0, 3.0, 3.1, 3.2, 4.0, 4.0, 4.1, 4.2, 6.0]
        jump = metrics.median(b) - metrics.median(a)
        moved = metrics.quantile(b, 0.5) - metrics.quantile(a, 0.5)
        self.assertAlmostEqual(jump, 0.7)
        self.assertLess(moved, jump / 3)


class SpanTest(unittest.TestCase):
    def test_self_time_without_children(self):
        self.assertEqual(metrics.self_time((0, 10), []), 10)

    def test_self_time_nested_children(self):
        # a child inside another child counts once
        self.assertEqual(metrics.self_time((0, 10), [(1, 6), (2, 3)]), 5)

    def test_self_time_overlapping_children(self):
        self.assertEqual(metrics.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_self_time_clips_children_to_parent(self):
        self.assertEqual(metrics.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(metrics.self_time((0, 10), [(11, 12)]), 10)

    def test_driver_gap_is_wall_minus_job_union(self):
        jobs = [(100, 300), (250, 400), (600, 700)]
        self.assertEqual(metrics.driver_gap((0, 1000), jobs), 1000 - 300 - 100)
        self.assertEqual(metrics.driver_gap((0, 1000), []), 1000)
        self.assertEqual(metrics.union_length([(0, 5), (5, 7), (1, 2)]), 7)


def _pass(pid, traced, steps, start=0.0):
    out, t = [], start
    for name, build, exe in steps:
        out.append({"name": name, "tag": f"{pid}:{len(out)}" if traced else None,
                    "start_ms": t, "build_end_ms": t + build,
                    "exec_end_ms": t + build + exe, "end_ms": t + build + exe + 1,
                    "phases": {"analysis": 2, "optimization": 3, "planning": 1},
                    "error": None})
        t += build + exe + 1
    return {"id": pid, "traced": traced, "start_ms": start, "end_ms": t,
            "heap_mb": 100.0 + pid, "tmp_files": 3, "steps": out}


class MetricsTest(unittest.TestCase):
    def raw(self):
        steps = [("q01_gold_attrition_monthly", 100, 200), ("q02_x", 50, 50)]
        p0, p1 = _pass(0, False, steps), _pass(1, True, steps, start=1000.0)
        job = {"id": 0, "tag": "1:0", "streaming": False, "start_ms": 1100.0,
               "end_ms": 1250.0, "stages": 2, "tasks": 8, "tasks_failed": 0,
               "run_ms": 600.0, "cpu_ns": 5e8, "gc_ms": 10.0, "shuffle_write_b": 0,
               "shuffle_read_b": 0, "spill_b": 0, "input_b": 1 << 20,
               "input_rows": 1000, "output_b": 0, "output_rows": 0}
        return {"steps": [s[0] for s in steps], "passes": [p0, p1], "jobs": [job],
                "actions": [{"at_ms": 1010.0, "analysis_ms": 5, "optimization_ms": 7,
                             "planning_ms": 3}],
                "batches": [], "kernels": {},
                "setups": [{"total_s": t, "session_s": 1.0, "gen_s": 1.0,
                            "warmup_s": 0.5} for t in (9.0, 3.0, 4.0)]}

    def test_end_to_end(self):
        gated, rep = metrics.end_to_end(self.raw())
        self.assertEqual(gated["setup_s"], (4.0, "s"))
        self.assertAlmostEqual(gated["pass_s"][0], 0.402)
        self.assertEqual(gated["heap_peak_mb"][0], 101.0)
        self.assertAlmostEqual(rep["gold_s"][0], 0.301)
        self.assertNotIn("microbatch_p50_s", rep)

    def test_per_layer_uses_traced_passes(self):
        m = metrics.per_layer(self.raw())
        self.assertEqual(m["spark.jobs"][0], 1)
        self.assertEqual(m["queries.actions"][0], 1)
        # two steps' own frames (3 ms each) plus one eager action (7 ms)
        self.assertAlmostEqual(m["catalyst.optimization_s"][0], 0.013)
        self.assertAlmostEqual(m["driver.gap_s"][0], 0.402 - 0.150)
        self.assertAlmostEqual(m["spark.busy_cores"][0], 0.6 / 0.402)
        self.assertAlmostEqual(m["span.build_self_s"][0], 0.150 - 0.0)
        self.assertEqual(m["stream.batches"][0], 0)
        self.assertEqual(m["trace.overhead"][0], 1.0)


    def test_trace_overhead_leaves_out_the_cold_pass(self):
        raw = self.raw()
        raw["passes"] = [_pass(0, True, [("q02_x", 500, 500)]),
                         _pass(1, False, [("q02_x", 40, 40)], start=2000.0),
                         _pass(2, False, [("q02_x", 40, 40)], start=3000.0),
                         _pass(3, True, [("q02_x", 50, 50)], start=4000.0)]
        self.assertAlmostEqual(metrics.overhead(raw), 0.101 / 0.081)
        # a cold pass that is alone in its group still counts
        raw["passes"] = raw["passes"][:2]
        self.assertAlmostEqual(metrics.overhead(raw), 1.001 / 0.081)


class GeneratorTest(unittest.TestCase):
    """Same seed, same files; another seed, same row counts, other keys."""

    FOREIGN_KEYS = [("orders", "o_custkey"), ("lineitem", "l_orderkey"),
                    ("events", "user_id"), ("documents", "text")]

    def gen(self, out, seed):
        counts = gen.generate(out, seed, 0.02, 2)
        hashes = {}
        for f in sorted(os.listdir(out)):
            with open(os.path.join(out, f), "rb") as fh:
                hashes[f] = hashlib.sha256(fh.read()).hexdigest()
        keys = {c: pq.read_table(os.path.join(out, f"{t}.parquet"), columns=[c])
                .column(c).to_pylist() for t, c in self.FOREIGN_KEYS}
        return counts, hashes, keys

    def test_determinism(self):
        with tempfile.TemporaryDirectory() as root:
            c1, h1, k1 = self.gen(os.path.join(root, "a"), 7)
            c2, h2, _ = self.gen(os.path.join(root, "b"), 7)
            c3, h3, k3 = self.gen(os.path.join(root, "c"), 8)
        self.assertEqual(len(h1), 11)  # ten tables and the row counts
        self.assertEqual(h1, h2)
        self.assertEqual(c1, c3)
        self.assertEqual(c1["lineitem"], 2 * 12000)
        for _, c in self.FOREIGN_KEYS:
            self.assertEqual(len(k1[c]), len(k3[c]))
            self.assertNotEqual(k1[c], k3[c], c)
        # only the fixed dimensions are seed-free
        self.assertEqual({f for f in h1 if h1[f] == h3[f]},
                         {"region.parquet", "nation.parquet", "_rows.txt"})


if __name__ == "__main__":
    unittest.main()
