#!/usr/bin/env python3
"""Tests of the benchmark itself: percentile and self-time arithmetic, the
metric catalog against BENCHMARK.json, and (through the JVM) that the
delegating model wrappers leave losses and estimates bit-identical.

Usage: python3 perfbench/test_bench.py
"""

import json
import statistics
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402
import stats  # noqa: E402


def span(i, name, start, end, parent=-1, query=-1, n=0):
    return {"id": i, "name": name, "start": start, "end": end,
            "parent": parent, "query": query, "n": n}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_count(self):
        xs = list(range(200, 0, -1))
        self.assertEqual(stats.percentile(xs, 95), (190, 200, 10))
        self.assertEqual(stats.percentile(xs, 50), (100, 200, 100))
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), (90, 100, 10))
        self.assertEqual(stats.percentile([7], 99), (7, 1, 0))
        self.assertEqual(stats.percentile([3, 1, 2], 0), (1, 3, 2))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartile_spread_matches_statistics(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartile_spread(xs), (q1, q2, q3, (q3 - q1) / q2))

    def test_qerror_conventions(self):
        self.assertEqual(stats.qerror(10, 5), 2.0)
        self.assertEqual(stats.qerror(5, 10), 2.0)
        self.assertEqual(stats.qerror(0, 0), 1.0)
        self.assertEqual(stats.qerror(7, 0), 7.0)
        self.assertEqual(stats.qerror(0, 4), 4.0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        spans = [span(1, "p", 0, 100), span(2, "a", 10, 30, 1),
                 span(3, "b", 20, 50, 1), span(4, "c", 60, 70, 1),
                 span(5, "d", 90, 120, 1), span(6, "g", 12, 18, 2)]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 100 - 40 - 10 - 10)
        self.assertEqual(own[2], 20 - 6)
        self.assertEqual(own[6], 6)
        self.assertEqual([s["id"] for s in stats.overruns(spans)], [5])

    def test_per_layer_arithmetic(self):
        # One query: its 50-ns est.query span holds two 10-ns forwards and
        # a 5-ns encode, so its self time is 25 ns.
        spans = [
            span(1, "setup", 0, 1000), span(2, "core.table_meta", 0, 100, 1),
            span(3, "core.encode_collect", 100, 200, 1),
            span(4, "nn.train", 200, 900, 1, n=50),
            span(5, "nn.train_fwd", 200, 300, 4, n=50),
            span(6, "nn.train_loss", 300, 350, 4, n=50),
            span(7, "nn.train_bwd", 350, 850, 4, n=50),
            span(10, "plans.parse_probe", 2000, 2002, query=0),
            span(11, "query", 2010, 2100, query=0),
            span(12, "plans.sql", 2010, 2015, 11, query=0),
            span(13, "plans.optimize", 2015, 2080, 11, query=0),
            span(14, "est.query", 2020, 2070, 13, query=0),
            span(15, "nn.fwd", 2020, 2030, 14, query=0, n=2000),
            span(16, "nn.encode", 2030, 2035, 14, query=0, n=2000),
            span(17, "nn.fwd", 2040, 2050, 14, query=0, n=2000),
            span(18, "plans.planning", 2080, 2085, 11, query=0),
            span(19, "plans.collect", 2085, 2100, 11, query=0),
        ]
        window = {"lat_ns": [4e6, 6e6], "traced_lat_ns": [5e6, 7e6],
                  "attempted": 4, "failed": 0, "rewritten": 4, "errors": [],
                  "gc_ms": 20, "heap_peak_bytes": 2**30,
                  "allocated_bytes": 2**23}
        r = {"windows": {"measured": window}, "rows_encoded": 1000,
             "param_count": 10, "nin": 5, "cpus": 4,
             "estimates": [10, 30], "truths": [20, 30],
             "setup": {"table_meta_s": 1.0, "encode_collect_s": 1.0,
                       "spark": [3, 4, 4000, 900, 0, 0, 0]}}
        m = {k: v["value"] for k, v in run.per_layer(r, spans).items()}
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertAlmostEqual(m["nn.train_self_s"], 50e-9)
        self.assertAlmostEqual(m["est.self_ms_p50"], 25e-6)
        self.assertAlmostEqual(m["plans.optimize_self_ms_p50"], 15e-6)
        self.assertAlmostEqual(m["plans.analysis_ms_p50"], 3e-6)
        self.assertEqual(m["nn.fwd_calls_per_query"], 2)
        self.assertAlmostEqual(m["est.fwd_skip_ratio"], 1 - 2 / 5)
        self.assertAlmostEqual(m["nn.fwd_rows_per_s"], 4000 / 20e-9)
        self.assertAlmostEqual(m["spark.slot_busy_ratio"], 4.0 / (2.0 * 4))
        self.assertEqual(m["est.qerr_max"], 2.0)
        self.assertEqual(m["trace.overhead_ms_p50"], 1.0)
        self.assertEqual(m["trace.child_overruns"], 0)

    def test_end_to_end_arithmetic(self):
        lat = [float(i) * 1e6 for i in range(1, 101)]
        r = {"windows": {"measured": {"lat_ns": lat}},
             "estimates": [10] * 9 + [40], "truths": [10] * 10,
             "train_rows": 100, "epochs": 2, "final_nll_bits": 5.5,
             "table_bits": 5.0,
             "setup": {"total_s": 3.0, "train_s": 2.0}}
        m = {k: v["value"] for k, v in run.end_to_end(r).items()}
        self.assertEqual(set(m), set(run.END_TO_END))
        self.assertEqual((m["est_ms_p50"], m["est_ms_p90"]), (50, 90))
        self.assertEqual((m["qerr_p50"], m["qerr_p90"]), (1.0, 1.0))
        self.assertEqual(m["train_tuples_per_s"], 100.0)
        self.assertEqual(m["bits_gap"], 0.5)


class CatalogTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_printed(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]],
                         list(run.WORKLOADS))
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))


class WrapperTest(unittest.TestCase):
    def test_wrappers_are_bit_identical(self):
        p = subprocess.run([sys.executable, str(run.BENCH / "run.py"),
                            "--selfcheck"], capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        self.assertEqual(len(lines), 7, p.stdout)
        self.assertTrue(all(ln.endswith(": ok") for ln in lines), p.stdout)


if __name__ == "__main__":
    unittest.main()
