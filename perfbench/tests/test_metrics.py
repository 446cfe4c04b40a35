"""Metric arithmetic: the tail rule, span self time, end-to-end definitions."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(i, parent, kind, start, end, **attrs):
    return dict(id=i, parent=parent, kind=kind, name=kind, start_us=start, end_us=end,
                **attrs)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))              # 100 samples
        value, pct, n = metrics.tail(xs)
        self.assertEqual((pct, n), (90, 100))
        self.assertEqual(value, 90)           # 10 samples (91..100) lie beyond
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_is_floored_so_at_least_ten_stay_beyond(self):
        xs = [float(i) for i in range(36)]
        value, pct, n = metrics.tail(xs)
        self.assertEqual((pct, n), (72, 36))
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_too_few_samples_report_the_slowest_as_p100(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(metrics.tail([1.0] * 10)[1:], (100, 10))
        self.assertEqual(metrics.tail([]), (0.0, 0, 0))


class SelfTime(unittest.TestCase):
    def test_nested_children_are_subtracted_once(self):
        spans = [span(1, 0, "op", 0, 10_000_000),
                 span(2, 1, "build", 0, 2_000_000),
                 span(3, 1, "exec", 3_000_000, 9_000_000),
                 span(4, 3, "job", 4_000_000, 8_000_000)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[1], 2.0)    # 10 - 2 - 6
        self.assertAlmostEqual(st[3], 2.0)    # 6 - 4
        self.assertAlmostEqual(st[4], 4.0)    # a leaf keeps its duration

    def test_overlapping_children_count_as_their_union(self):
        spans = [span(1, 0, "job", 0, 10_000_000),
                 span(2, 1, "stage", 1_000_000, 5_000_000),
                 span(3, 1, "stage", 3_000_000, 7_000_000)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 4.0)  # 10 - |[1,7]|

    def test_children_are_clipped_to_the_parent(self):
        # listener times are in ms and may straddle the parent's µs bounds
        spans = [span(1, 0, "exec", 1_000_000, 3_000_000),
                 span(2, 1, "job", 500_000, 2_000_000)]
        self.assertAlmostEqual(metrics.self_times(spans)[1], 1.0)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(0, 2)], 3, 4), 0)


class TraceOverhead(unittest.TestCase):
    def test_first_pass_is_left_out(self):
        walls = {1: 10.0, 2: 5.5, 3: 5.0, 4: 5.0, 5: 5.5}
        passes = [{"pass": p, "wall_s": w, "traced_pass": p in (2, 5), "probe_ms": 1.0,
                   "pprobe_ms": 1.0, "cache_peak_mb": 0.0} for p, w in walls.items()]
        r = {"workload": "catalog", "cpus": 4, "ops": [], "passes": passes}
        value, unit = metrics.per_layer(r, [])["trace.overhead"]
        self.assertAlmostEqual(value, 0.1)
        self.assertEqual(unit, "ratio")


class EndToEnd(unittest.TestCase):
    def catalog_result(self):
        ops = []
        for p in (1, 2, 3):
            for q, t in (("qa", 1.0), ("qb", 2.0)):
                ops.append({"name": q, "pass": p, "wall_s": t * p, "rows": 5, "ok": True})
        passes = [{"pass": p, "wall_s": 3.0 * p, "heap_after_gc_mb": 100.0 + p}
                  for p in (1, 2, 3)]
        return {"workload": "catalog", "ops": ops, "passes": passes,
                "setup_end_ms": 11_000}

    def test_catalog_definitions(self):
        m, notes = metrics.end_to_end(self.catalog_result(), setup_start_ms=1_000)
        self.assertEqual(m["setup_s"], (10.0, "s"))
        self.assertEqual(m["wall_s"], (6.0, "s"))         # median pass
        self.assertEqual(m["p50_s"], (3.0, "s"))          # median of per-query medians 2, 4
        self.assertEqual(m["rows_per_s"], (10 / 6.0, "1/s"))
        self.assertEqual(m["mem_peak_mb"], (103.0, "MB"))
        self.assertEqual(notes["p50_s"], {"n": 2})
        self.assertEqual(notes["tail_s"], {"percentile": "p100", "n": 6})
        self.assertEqual(m["tail_s"], (6.0, "s"))

    def test_medallion_definitions(self):
        ops = [{"batch": b, "wall_s": w, "landed": 100} for b, w in ((3, 2.0), (4, 4.0))]
        r = {"workload": "medallion_incremental", "ops": ops, "setup_end_ms": 5_000,
             "heap_after_gc_mb": 50.0}
        m, _ = metrics.end_to_end(r, setup_start_ms=0)
        self.assertEqual(m["wall_s"], (6.0, "s"))
        self.assertEqual(m["p50_s"], (3.0, "s"))
        self.assertEqual(m["rows_per_s"], (200 / 6.0, "1/s"))


if __name__ == "__main__":
    unittest.main()
