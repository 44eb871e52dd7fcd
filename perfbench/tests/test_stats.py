"""Unit tests for the benchmark's metric math.

Run: python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


def span(id_, name, parent, start, end, op=0):
    return {"id": id_, "op": op, "name": name, "parent": parent,
            "start_s": start, "end_s": end,
            "start_ms": int(start * 1000), "end_ms": int(end * 1000)}


def job(start_ms, span_id=-1, op=0, **kw):
    j = {"id": 0, "start_ms": start_ms, "end_ms": start_ms + 1, "op": op,
         "span": span_id, "stages": 1, "tasks": 4, "task_s": 0.4,
         "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
         "peak_exec_mem_bytes": 0, "input_bytes": 0, "input_rows": 0,
         "output_bytes": 0}
    j.update(kw)
    return j


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([4, 1, 3, 2, 5], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 75), 4)

    def test_failed_op_is_infinite(self):
        # one failure among five: the median is still a real latency ...
        self.assertEqual(stats.percentile([1, 2, None, 3, 4], 50), 3)
        # ... but any percentile that reaches it is +inf, never a fast time
        self.assertTrue(math.isinf(stats.percentile([1, 2, None, 3, 4], 100)))
        self.assertTrue(math.isinf(stats.percentile([1, None], 50)))
        self.assertTrue(math.isinf(stats.percentile([None, None, 1], 50)))

    def test_failures_never_lower_a_percentile(self):
        base = [0.5, 0.7, 0.9, 1.1]
        for q in (50, 75):
            self.assertGreaterEqual(stats.percentile(base + [None], q),
                                    stats.percentile(base, q))

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class RatioTest(unittest.TestCase):
    def test_every_ratio_reported_with_its_base(self):
        m = stats.with_ratios({"construct.s": 3.0, "op.s": 6.0, "exec.task_s": 8.0,
                               "exec.core_s": 16.0, "scdengine.bytes_written": 10,
                               "scdengine.batch_bytes": 0, "jobs.total": 9,
                               "op.count": 3})
        for name, (num, base) in stats.RATIOS.items():
            self.assertIn(name, m)
            self.assertIn(num, m)
            self.assertIn(base, m)
            self.assertIn(name, stats.LAYER_UNITS)
            self.assertIn(num, stats.LAYER_UNITS)
            self.assertIn(base, stats.LAYER_UNITS)
        self.assertEqual(m["construct.share"], 0.5)
        self.assertEqual(m["exec.core_util"], 0.5)
        self.assertEqual(m["jobs.per_op"], 3)
        self.assertEqual(m["scdengine.write_amp"], 0.0)  # no base, no ratio

    def test_failed_ratio_comes_with_attempted(self):
        res = {"ops": [{"s": 1.0, "ok": True, "rows": 10},
                       {"s": 2.0, "ok": False, "rows": 10}],
               "jobs": [], "window_s": 3.0, "session_s": 1.0,
               "setup_reps_s": [1.0, 3.0, 2.0], "warmup_s": 0.5,
               "retained_heap_mb": 100.0}
        m, aux = stats.end_to_end(res, gen_s=0.25)
        self.assertEqual(set(m), {"setup_s", "ops_per_s"})
        self.assertEqual(aux["failed_ratio"], 0.5)
        self.assertEqual(aux["attempted"], 2)
        self.assertTrue(math.isinf(aux["op_s_p50"]))
        self.assertEqual(m["ops_per_s"], 1 / 3.0)
        self.assertEqual(aux["rows_per_s"], 10 / 3.0)  # failed op's rows excluded
        self.assertEqual(m["setup_s"], 0.25 + 1.0 + 2.0 + 0.5)  # median rep


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [span(0, "op", -1, 0.0, 10.0),
                 span(1, "construct", 0, 1.0, 4.0),
                 span(2, "exec", 0, 5.0, 9.0),
                 span(3, "inner", 2, 6.0, 7.0)]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s[0], 10.0 - 3.0 - 4.0)
        self.assertAlmostEqual(s[1], 3.0)
        self.assertAlmostEqual(s[2], 4.0 - 1.0)
        self.assertAlmostEqual(s[3], 1.0)

    def test_self_time_counts_overlapping_children_once(self):
        spans = [span(0, "op", -1, 0.0, 10.0),
                 span(1, "a", 0, 1.0, 5.0),
                 span(2, "b", 0, 3.0, 6.0)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 10.0 - 5.0)

    def test_job_charged_to_its_tagged_span(self):
        spans = [span(0, "op", -1, 0.0, 10.0), span(1, "construct", 0, 1.0, 4.0)]
        charged = stats.charge_jobs(spans, [job(2000, span_id=1), job(6000, span_id=0)])
        self.assertEqual(len(charged[1]), 1)
        self.assertEqual(len(charged[0]), 1)

    def test_untagged_job_charged_to_innermost_open_span(self):
        spans = [span(0, "op", -1, 0.0, 10.0),
                 span(1, "exec", 0, 5.0, 9.0),
                 span(2, "inner", 1, 6.0, 7.0),
                 span(3, "op", -1, 11.0, 12.0, op=1)]
        charged = stats.charge_jobs(spans, [job(6500), job(8000), job(2000),
                                            job(10500), job(11500)])
        self.assertEqual([j["start_ms"] for j in charged[2]], [6500])
        self.assertEqual([j["start_ms"] for j in charged[1]], [8000])
        self.assertEqual([j["start_ms"] for j in charged[0]], [2000])
        self.assertEqual([j["start_ms"] for j in charged[3]], [11500])
        # a job outside every span is charged nowhere
        self.assertEqual(sum(len(v) for v in charged.values()), 4)

    def test_per_layer_rolls_jobs_up_by_span(self):
        spans = [span(0, "op", -1, 0.0, 10.0),
                 span(1, "construct", 0, 0.0, 4.0),
                 span(2, "exec", 0, 4.0, 10.0)]
        jobs = [job(1000, span_id=1, input_rows=5),
                job(5000, span_id=2, input_rows=7, shuffle_read_bytes=3),
                job(6000, span_id=2)]
        res = {"spans": spans, "jobs": jobs, "gc_s": 0.1, "retained_heap_mb": 90.0,
               "ops": [{"s": 10.0, "ok": True, "rows": 1, "rdds_persisted": 2,
                        "held_bytes": 64, "cache_entries_written": 1,
                        "cache_read": False,
                        "catalyst_ms": {"analysis": 1.0, "planning": 2.0}}]}
        m = stats.per_layer(res)
        self.assertEqual(m["construct.jobs"], 1)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["jobs.total"], 3)
        self.assertEqual(m["sources.input_rows"], 12)
        self.assertEqual(m["exec.shuffle_read_bytes"], 3)
        self.assertEqual(m["construct.share"], 0.4)
        self.assertAlmostEqual(m["exec.core_util"], 0.8 / (6.0 * 4))
        self.assertEqual(m["catalyst.planning_ms"], 2.0)
        self.assertEqual(m["materialize.held_bytes"], 64)
        layer_only = set(stats.LAYER_UNITS) - {k for k in stats.LAYER_UNITS
                                               if k.startswith("e2e.")}
        self.assertEqual(set(m), layer_only)


class SpreadTest(unittest.TestCase):
    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10] * 10), 0.0)
        vals = [9, 10, 10, 10, 11, 10, 10, 9, 11, 10]
        self.assertLess(stats.quartile_spread(vals), 0.11)


if __name__ == "__main__":
    unittest.main()
