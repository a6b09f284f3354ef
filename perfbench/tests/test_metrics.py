"""Rate, percentile and span math of the benchmark.
Run: python3 -m unittest discover -s perfbench/tests"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(id_, name, parent, start, end, op=1, attrs=None, **counters):
    c = dict(jobs=0, stages=0, tasks=0, task_run_ms=0, task_cpu_ns=0, gc_ms=0,
             sched_delay_ms=0, shuffle_write_bytes=0, shuffle_read_bytes=0,
             spill_disk_bytes=0, spill_mem_bytes=0, task_intervals_ms=[])
    c.update(counters)
    return dict(id=id_, name=name, parent=parent, op=op, start_ms=start, end_ms=end,
                attrs=attrs or {}, counters=c)


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(metrics.tail(range(10)))
        self.assertEqual(metrics.tail(range(11)), (0, 100.0 / 11))

    def test_exactly_ten_samples_beyond(self):
        for n in (11, 20, 37, 100, 1000):
            xs = list(range(n))[::-1]
            value, pct = metrics.tail(xs)
            self.assertEqual(sum(x > value for x in xs), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_hundred_samples_is_p90(self):
        self.assertEqual(metrics.tail([float(i) for i in range(1, 101)]), (90.0, 90.0))


class MathTest(unittest.TestCase):
    def test_rate(self):
        self.assertEqual(metrics.rate_mb(50_000_000, 2.0), 25.0)
        self.assertEqual(metrics.rate_mb(1, 0.0), 0.0)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(metrics.median([]), 0.0)

    def test_covered_merges_overlaps(self):
        self.assertEqual(metrics.covered([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(metrics.covered([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(0, "op", -1, 0, 10), span(1, "a", 0, 1, 4),
                 span(2, "b", 0, 3, 6), span(3, "c", 1, 2, 3)]
        self.assertEqual(metrics.self_times(spans), {0: 5, 1: 2, 2: 3, 3: 1})


class DerivedMetricsTest(unittest.TestCase):
    def raw(self):
        ops = [dict(id=i, traced=i % 2 == 1, ok=True, seconds=s, bytes=10_000_000,
                    parts=dict(ingest_s=s), steal=0.0)
               for i, s in enumerate([2.0, 2.2, 1.0, 1.1, 4.0, 4.4])]
        spans = [span(0, "op", -1, 0, 2200, op=1),
                 span(1, "dedup", 0, 100, 1100, op=1, attrs=dict(probes=10, hits=4),
                      jobs=3, task_intervals_ms=[[100, 600]]),
                 span(2, "wave", -1, 0, 1000, op=3, attrs=dict(probes=10, hits=1),
                      task_intervals_ms=[[100, 300], [200, 400]]),
                 span(3, "query.q04_revenue_by_nation", -1, 0, 500, op=1, stages=4,
                      shuffle_write_bytes=2_000_000),
                 span(4, "query.q04_revenue_by_nation", -1, 0, 700, op=3, stages=6,
                      shuffle_write_bytes=4_000_000)]
        return dict(ops=ops, spans=spans, traffic_pct=42.0, setup=dict(seconds=9.0, steal=0.0),
                    vmhwm_kb=1000, jvm_gc_s=0.5, jvm_heap_peak_mb=10.0)

    def test_end_to_end(self):
        m = metrics.end_to_end(self.raw())
        self.assertEqual(set(m), set(metrics.END_TO_END))
        self.assertEqual(m["op_s_min"], 1.0)          # untraced ops 2.0, 1.0, 4.0
        self.assertEqual(m["ingest_mbps"], 10.0)
        self.assertEqual(m["setup_s"], 9.0)
        self.assertEqual(m["traffic_pct"], 42.0)

    def test_best_of_each_part(self):
        raw = self.raw()
        raw["ops"] = [dict(id=i, traced=False, ok=True, seconds=a + b, bytes=10_000_000,
                           parts=dict(ingest_s=a, restore_s=b), steal=0.0)
                      for i, (a, b) in enumerate([(2.0, 1.0), (1.0, 3.0), (1.5, 0.5)])]
        m = metrics.end_to_end(raw)
        self.assertEqual(m["op_s_min"], 1.5)          # ingest 1.0 + restore 0.5
        self.assertEqual(m["ingest_mbps"], 10.0)      # restore is not ingest

    def test_stolen_time_is_not_counted(self):
        raw = self.raw()
        for o in raw["ops"]:
            o["steal"] = 0.5       # the hypervisor ran others half the time
            o["seconds"] *= 2
            o["parts"]["ingest_s"] *= 2
        raw["setup"] = dict(seconds=18.0, steal=0.5)
        m = metrics.end_to_end(raw)
        self.assertAlmostEqual(m["setup_s"], 9.0)
        self.assertAlmostEqual(m["op_s_min"], 1.0)
        self.assertAlmostEqual(m["ingest_mbps"], 10.0)

    def test_per_layer(self):
        m = metrics.per_layer(self.raw())
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertEqual(m["dedup.hit_ratio"], 0.4)
        self.assertEqual(m["wave.hit_ratio"], 0.1)
        self.assertEqual(m["dedup.jobs"], 3)
        self.assertAlmostEqual(m["wave.driver_s"], 0.7)
        self.assertAlmostEqual(m["op.self_s"], 1.2)
        self.assertAlmostEqual(m["trace.overhead_pct"], 10.0)
        # medians over the traced operations 1 and 3
        self.assertAlmostEqual(m["query.q04_revenue_by_nation.s"], 0.6)
        self.assertEqual(m["query.q04_revenue_by_nation.stages"], 5)
        self.assertAlmostEqual(m["query.q04_revenue_by_nation.shuffle_mb"], 3.0)
        self.assertEqual(m["query.d11_tfidf_terms.s"], 0.0)


if __name__ == "__main__":
    unittest.main()
