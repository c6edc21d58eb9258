"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke tests run each workload end to end at seconds-long input sizes
(about a minute each, most of it JVM and Spark start-up) and need the
engine's sources beside the benchmark, as run.py does.
"""

import json
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def span(id_, name, parent, start, end, **counters):
    return {"id": id_, "name": name, "parent": parent, "op": "",
            "start_ns": start, "end_ns": end, "failed": False,
            "counters": counters}


class SelfTime(unittest.TestCase):
    def test_children_and_overlaps_are_subtracted_once(self):
        # root [0,100] has children A [10,40] and B [30,60], which overlap;
        # A has a grandchild [15,20] that must not count against root.
        spans = [span(1, "root", 0, 0, 100), span(2, "a", 1, 10, 40),
                 span(3, "b", 1, 30, 60), span(4, "c", 2, 15, 20)]
        got = metrics.self_times(spans)
        self.assertAlmostEqual(got[1] * 1e9, 50)   # 100 - |[10,60]|
        self.assertAlmostEqual(got[2] * 1e9, 25)   # 30 - 5
        self.assertAlmostEqual(got[3] * 1e9, 30)
        self.assertAlmostEqual(got[4] * 1e9, 5)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, "p", 0, 0, 10), span(2, "c", 1, 5, 30)]
        self.assertAlmostEqual(metrics.self_times(spans)[1] * 1e9, 5)

    def test_per_layer_busy_is_self_time_and_counters_sum(self):
        spans = [span(1, "lakehouse.cycle", 0, 0, 100),
                 span(2, "table.append", 1, 10, 30, actions=2.0, jobs=3.0),
                 span(3, "table.append", 1, 50, 60, actions=1.0)]
        raw = {"ratios": {}, "engine_floor_ms": 1.0, "jvm_gc_s": 1.0,
               "jvm_peak_heap_mb": 1.0}
        got = metrics.per_layer(raw, spans)
        self.assertAlmostEqual(got["table.append.busy_s"] * 1e9, 30)
        self.assertEqual(got["table.append.actions"], 3.0)
        self.assertEqual(got["table.append.calls"], 2.0)
        self.assertAlmostEqual(got["table.append.p50_ms"] * 1e6, 15)


class Percentile(unittest.TestCase):
    def test_harrell_davis(self):
        self.assertEqual(metrics.percentile([], 50), 0.0)
        self.assertEqual(metrics.percentile([4], 50), 4.0)
        # symmetric samples: the median estimate is the centre
        self.assertAlmostEqual(metrics.percentile([3, 1, 2], 50), 2.0)
        self.assertAlmostEqual(metrics.percentile(range(11), 50), 5.0)
        # a high percentile sits between the top order statistics
        self.assertTrue(8.0 < metrics.percentile(range(11), 90) < 10.0)

    def test_median_moves_smoothly_across_a_gap(self):
        # two clusters of eight: one sample crossing the gap moves the
        # estimate by a fraction of the gap, not all of it
        base = [100] * 8 + [200] * 8
        moved = [100] * 7 + [200] * 9
        jump = metrics.percentile(moved, 50) - metrics.percentile(base, 50)
        self.assertTrue(0 < jump < 50)


class Spec(unittest.TestCase):
    def test_names_units_and_bounds(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        self.assertLessEqual(len(SPEC["per_layer"]), 128)
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual([w["name"] for w in SPEC["workloads"]], run.WORKLOADS)

    def test_every_metric_is_produced(self):
        raw = {"serve_ms": {"op": [1.0, 2.0]}, "bulk": {"op": [10, 2.0]},
               "bulk_s": {"op": [2.0]}, "session_start_s": 1.0, "warmup_s": 1.0,
               "standing_s": [1.0], "generate_s": 1.0, "finish_s": 1.0,
               "peak_rss_mb": 1.0, "heap_retained_mb": 1.0,
               "disk_bytes": 2, "live_bytes": 1,
               "failed": 0, "attempted": 3, "ratios": {},
               "engine_floor_ms": 1.0, "jvm_gc_s": 1.0, "jvm_peak_heap_mb": 1.0}
        e2e, _ = metrics.end_to_end(raw)
        self.assertEqual({m["name"] for m in SPEC["end_to_end"]}, set(e2e))
        for m in SPEC["end_to_end"]:
            self.assertEqual(e2e[m["name"]][1], m["unit"])
        layers = metrics.per_layer(raw, [])
        self.assertTrue({m["name"] for m in SPEC["per_layer"]} <= set(layers))


class Smoke(unittest.TestCase):
    """Each workload at smoke size, untraced and traced: the outputs are
    correct and the last line carries exactly BENCHMARK.json's metrics."""

    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace),
             "--scale", "smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stdout[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual(list(out["metrics"]), [m["name"] for m in wanted])
        for m in wanted:
            v = out["metrics"][m["name"]]
            self.assertEqual(v["unit"], m["unit"])
            self.assertIsInstance(v["value"], (int, float))
        return out

    def test_telemetry_daily(self):
        e2e = self.run_bench("telemetry_daily", 0)["metrics"]
        self.assertTrue(all(v["value"] > 0 for v in e2e.values()))
        layers = self.run_bench("telemetry_daily", 1)["metrics"]
        self.assertGreater(layers["telemetry.accessor.point.actions"]["value"], 0)
        self.assertGreater(layers["ml.score.task_s"]["value"], 0)

    def test_lakehouse_serve(self):
        e2e = self.run_bench("lakehouse_serve", 0)["metrics"]
        self.assertTrue(all(v["value"] > 0 for v in e2e.values()))
        layers = self.run_bench("lakehouse_serve", 1)["metrics"]
        self.assertGreater(layers["table.merge.actions"]["value"], 0)
        self.assertGreaterEqual(layers["curation.run_docs.near_dup_recall"]["value"], 0.8)


if __name__ == "__main__":
    unittest.main()
