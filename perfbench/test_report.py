"""Self-tests of the benchmark's metric helpers (report.py):

    cd perfbench && python3 -m unittest test_report
"""

import unittest

import report


def raw_run(samples, **kw):
    raw = {"workload": "curate_dedup", "samples": samples, "setup_s": [9.0, 3.0, 2.0],
           "warmup_s": 4.0, "wall_s": 10.0, "attempted": len(samples), "failed": 0,
           "fs": {"bytes_written.data": 300, "bytes_written.log": 50,
                  "bytes_written.sidecar": 25, "bytes_written.index": 25, "opens.data": 7},
           "user_bytes_written": 200, "disk_bytes": 900, "live_user_bytes": 600,
           "heap_peak_mb": 512.5, "info": {"data_digest": 17}}
    raw.update(kw)
    return raw


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        self.assertEqual(report.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(report.percentile([1, 2, 3, 4], 90), 3.7)
        self.assertEqual(report.percentile([5], 90), 5)
        self.assertEqual(report.median([1, 9, 2]), 2)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            report.percentile([], 50)


class TailRuleTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        got, note = report.latency(list(range(99)), "fetch")
        self.assertEqual(set(got), {"fetch_p50_ms"})
        self.assertIn("fetch_p90_ms left out: 99 samples < 100", note)
        got, note = report.latency(list(range(100)), "fetch")
        self.assertEqual(got["fetch_p90_ms"], report.percentile(list(range(100)), 90))
        self.assertIsNone(note)
        # exactly ten samples lie above the p90 of a hundred
        self.assertEqual(sum(1 for x in range(100) if x > got["fetch_p90_ms"]), 10)

    def test_no_samples_no_metric(self):
        self.assertEqual(report.latency([], "batch"), ({}, None))


class BasesTest(unittest.TestCase):
    def setUp(self):
        samples = [["write", "curate_batch", 100.0, 1000], ["read", "fetch_one", 10.0, 200],
                   ["read", "fetch_list", 30.0, 600], ["read", "fetch_one", 20.0, 200],
                   ["introspect", "loader_probe", 5.0, 0]]
        self.metrics, self.details = report.end_to_end(raw_run(samples))

    def value(self, name):
        return self.metrics[name]["value"]

    def test_ratio_bases(self):
        # every category of bytes written over the user bytes submitted
        self.assertEqual(self.value("write_amp"), 400 / 200)
        self.assertEqual(self.value("space_amp"), 900 / 600)
        # rows written plus rows returned, over the timed wall
        self.assertEqual(self.value("rows_per_s"), 2000 / 10.0)
        self.assertEqual(self.details["bases"]["bytes_written"], 400)

    def test_latencies_pool_by_class(self):
        self.assertEqual(self.value("write_p50_ms"), 100.0)
        self.assertEqual(self.value("read_p50_ms"), 20.0)
        self.assertEqual(self.details["named_metrics_ms"]["fetch_p50_ms"], 20.0)

    def test_setup_is_median_setup_plus_warmup(self):
        self.assertEqual(self.value("setup_s"), 3.0 + 4.0)

    def test_schedule_digest_ignores_timings_and_rows(self):
        a = [["read", "x", 1.0, 5], ["write", "y", 2.0, 6]]
        b = [["read", "x", 9.0, 7], ["write", "y", 8.0, 1]]
        self.assertEqual(report.schedule_digest(a), report.schedule_digest(b))
        self.assertNotEqual(report.schedule_digest(a), report.schedule_digest(a[::-1]))

    def test_zero_base_reads_zero(self):
        self.assertEqual(report.ratio(5, 0), 0.0)
        self.assertEqual(self.details["named_metrics_ms"]["fail_ratio"], 0.0)


class ModeTest(unittest.TestCase):
    def test_median_between_two_modes_is_flagged(self):
        fast = [["write", "append", 10.0 + i, 1] for i in range(4)]
        slow = [["write", "merge", 100.0 + i, 1] for i in range(4)]
        got = report.median_modes(fast + slow, "write")
        self.assertEqual(got, {"kinds_at_median": ["append", "merge"], "between_modes": True})
        got = report.median_modes(fast + slow + slow[:1], "write")
        self.assertEqual(got, {"kinds_at_median": ["merge"], "between_modes": False})

    def test_histograms(self):
        h = report.histograms([["read", "a", 1.0, 0], ["read", "a", 3.0, 0], ["read", "b", 2.0, 0]])
        self.assertEqual(h["a"]["n"], 2)
        self.assertEqual(h["a"]["median"], 2.0)
        self.assertEqual(h["b"]["max"], 2.0)


class SpanTest(unittest.TestCase):
    def test_union_of_intervals(self):
        self.assertEqual(report.covered_ms([(0, 4), (2, 6), (8, 9)], 1, 10), 6)
        self.assertEqual(report.covered_ms([], 0, 5), 0)

    def test_self_time_and_gap(self):
        fs = {k: 0 for k in ["list", "status", "open", "create", "rename", "delete"]}
        spark = {"jobs": 0}
        ms = 1000000
        spans = [
            {"id": 0, "parent": -1, "op": 1, "name": "op.fetch_one", "t0_ns": 0, "t1_ns": 100 * ms,
             "fs": fs, "spark": spark, "jobs": []},
            {"id": 1, "parent": 0, "op": 1, "name": "Fetch.fetch", "t0_ns": 10 * ms,
             "t1_ns": 40 * ms, "fs": fs, "spark": spark, "jobs": [[20, 30]]},
            {"id": 2, "parent": 0, "op": 1, "name": "Fetch.fetch#exec", "t0_ns": 40 * ms,
             "t1_ns": 90 * ms, "fs": fs, "spark": spark, "jobs": [[45, 85]]},
        ]
        sp = report.Spans({"spans": spans, "wall_s": 0.2, "epoch_offset_ns": 0})
        op, plan, run = sp.spans
        self.assertAlmostEqual(op["self_ms"], 20)
        self.assertAlmostEqual(plan["self_ms"], 30)
        self.assertAlmostEqual(plan["gap_ms"], 20)
        # the op's gap counts its children's jobs
        self.assertAlmostEqual(op["gap_ms"], 100 - 10 - 40)
        self.assertAlmostEqual(sp.pct({"Fetch.fetch", "Fetch.fetch#exec"}), 100 * 80 / 200)


if __name__ == "__main__":
    unittest.main()
