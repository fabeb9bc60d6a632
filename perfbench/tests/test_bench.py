"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The smoke tests build the engine and run each workload at `--tiny` size
(a few minutes in all); set PERFBENCH_SMOKE=0 to skip them.
"""

import datetime
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import digest  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class MetricNames(unittest.TestCase):
    def test_names_and_units_follow_the_grammar(self):
        names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
        self.assertEqual(len(names), len(set(names)))
        for name in names:
            self.assertRegex(name, NAME)
        for unit in list(metrics.END_TO_END.values()) + list(metrics.PER_LAYER.values()):
            self.assertRegex(unit, UNIT)

    def test_benchmark_json_matches_the_code(self):
        b = load_benchmark()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.SIZES))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, metrics.PER_LAYER)
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertTrue(all(0 < x <= 0.25 for x in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(10000), 99.9)
        self.assertEqual(metrics.tail_percentile(9999), 99.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(999), 95.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(40), 75.0)

    def test_falls_back_below_forty_samples(self):
        self.assertIsNone(metrics.tail_percentile(39))
        self.assertIsNone(metrics.tail_percentile(0))

    def test_percentile_interpolates_like_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 25), q[0])
        self.assertAlmostEqual(metrics.percentile(xs, 50), q[1])
        self.assertAlmostEqual(metrics.percentile(xs, 75), q[2])
        self.assertEqual(metrics.percentile(xs, 100), 9.0)

    def test_pass_workload_falls_back_to_median_of_pass_maxima(self):
        passes = [{"index": i, "traced": False, "ms": 100.0,
                   "ops": [{"key": k, "kind": "dedup", "ms": ms} for k, ms in zip("abc", row)]}
                  for i, row in enumerate([[1, 2, 30], [1, 2, 50], [1, 2, 40]])]
        m = metrics.wall_clock("validate", {"passes": passes})
        self.assertEqual(m["tail_ms"]["value"], 40.0)
        self.assertEqual(m["p50_ms"]["value"], 2.0)


class BoundedMetrics(unittest.TestCase):
    def test_from_the_raw_result(self):
        passes = [{"index": i, "traced": False, "ms": 1.0, "cpu_ms": c, "ops": [],
                   "probe_cpu_ms": [metrics.PROBE_REF_MS]} for i, c in enumerate([3000.0, 1000.0, 2000.0])]
        r = {"passes": passes, "gen_ms": 1000, "session_ms": 1000, "warmup_ms": 1000,
             "inputs_ms": 1000, "heap_end_mb": 7.5, "store_bytes": 900, "live_rows": 10}
        m = metrics.end_to_end("validate", r)
        self.assertEqual(set(m), set(metrics.END_TO_END))
        self.assertEqual(m["setup_s"]["value"], 4.0)
        self.assertEqual(m["pass_cpu_s"]["value"], 2.0)
        self.assertEqual(m["pass_cpu_s"]["samples"], 3)
        self.assertEqual(m["retained_heap_mb"]["value"], 7.5)
        self.assertEqual(m["store_bytes_per_row"]["value"], 90.0)

    def test_pass_cpu_is_scaled_by_the_median_probe(self):
        passes = [{"cpu_ms": 1000.0, "probe_cpu_ms": [metrics.PROBE_REF_MS * x]} for x in (1, 2, 4)]
        passes[-1]["probe_cpu_ms"].append(metrics.PROBE_REF_MS * 3)
        self.assertEqual(metrics.host_speed(passes), 2.5)
        self.assertEqual(metrics.host_speed([{"cpu_ms": 1.0}]), 1.0)


class PassCount(unittest.TestCase):
    def test_fixed_work_sized_from_seconds(self):
        self.assertEqual(run.pass_count({"pass_s": 5.0, "min_passes": 3}, 15, 0), 3)
        self.assertEqual(run.pass_count({"pass_s": 5.0, "min_passes": 3}, 30, 0), 6)
        self.assertEqual(run.pass_count({"pass_s": 5.0, "min_passes": 1}, 1, 1), 2)
        self.assertEqual(run.pass_count({"pass_s": 1.4, "phase1_s": 8.0, "min_passes": 5}, 15, 0), 5)


class Digest(unittest.TestCase):
    def test_order_independent_and_value_based(self):
        rows = [(1, "a", 2.5), (2, "b", None)]
        d = digest.digest(["k", "s", "x"], rows)
        self.assertEqual(d, digest.digest(["k", "s", "x"], list(reversed(rows))))
        self.assertEqual(d, digest.digest(["x", "k", "s"], [(r[2], r[0], r[1]) for r in rows]))
        self.assertEqual(digest.digest(["v"], [(5,)]), digest.digest(["v"], [(5.0,)]))
        self.assertNotEqual(d, digest.digest(["k", "s", "x"], [(1, "a", 2.5), (2, "b", 0.0)]))
        self.assertTrue(d.startswith("2:"))

    def test_timestamps_render_as_epoch_micros(self):
        t = datetime.datetime(1970, 1, 1, 0, 0, 1, 5)
        self.assertEqual(digest.render(t), "t1000005")


class Inputs(unittest.TestCase):
    def test_same_seed_same_content_and_order_seed_keeps_content(self):
        a = gen.corpus_tables(7, 40, 30)
        self.assertEqual(gen.content_digest(a), gen.content_digest(gen.corpus_tables(7, 40, 30)))
        self.assertNotEqual(gen.content_digest(a), gen.content_digest(gen.corpus_tables(8, 40, 30)))
        with tempfile.TemporaryDirectory() as d:
            gen.write(a, d, order_seed=3)
            import pyarrow.parquet as pq
            back = {t: pq.read_table(os.path.join(d, f"{t}.parquet")).sort_by(
                [(a[t].column_names[0], "ascending")]) for t in a}
            self.assertEqual(gen.content_digest(back), gen.content_digest(a))


class OutputCheck(unittest.TestCase):
    def _result(self, digests, error=""):
        ops = [{"key": k, "kind": "query", "digest": d, "error": "", "check": ""}
               for k, d in digests.items()]
        ops[0]["error"] = error
        return {"passes": [{"index": 0, "ops": ops}]}

    def test_mismatch_and_error_count_as_failed(self):
        want = {"q1": "1:00", "q2": "2:00"}
        self.assertEqual(run.check("validate", self._result(want), want)[:2], (2, 0))
        self.assertEqual(run.check("validate", self._result({"q1": "1:00", "q2": "9:99"}), want)[:2],
                         (2, 1))
        self.assertEqual(run.check("validate", self._result(want, error="boom"), want)[:2], (2, 1))

    def test_cdc_final_table_mismatch_fails(self):
        attempted, failed, problems = run.check("cdc_stream", {"batches": [{}, {}], "check": "3 keys"}, {})
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("3 keys", problems[0])


@unittest.skipIf(os.environ.get("PERFBENCH_SMOKE") == "0", "PERFBENCH_SMOKE=0")
class Smoke(unittest.TestCase):
    """Each workload at tiny size, with its output check."""

    def _run(self, workload, trace):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(line["correct"], p.stderr[-3000:])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        return line["metrics"]

    def test_validate(self):
        self.assertEqual(set(self._run("validate", 0)), set(metrics.END_TO_END))

    def test_cdc_stream_traced(self):
        self.assertEqual(set(self._run("cdc_stream", 1)), set(metrics.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
