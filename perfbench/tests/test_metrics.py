"""Tests of the benchmark's own arithmetic and output contract; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402

MS = 1_000_000  # nanoseconds


def op(i, t0, t1, **kw):
    o = {"id": i, "parent": 0, "name": "api.call", "kind": "len", "t0": t0 * MS,
         "t1": t1 * MS, "ok": True, "traced": True, "unit": True, "pass": 0}
    o.update(kw)
    return o


def job(op_id, t0, t1, **kw):
    j = {"id": 0, "op": op_id, "t0": t0 * MS, "t1": t1 * MS, "stages": 1, "tasks": 4,
         "run_ms": 8, "gc_ms": 1, "spill_bytes": 0, "shuffle_write_bytes": 2_000_000,
         "shuffle_read_bytes": 2_000_000, "input_records": 100}
    j.update(kw)
    return j


def record(ops, jobs=(), spans=(), phases=()):
    return {"workload": "api_session", "fatal": None, "attempted": len(ops), "checked": 2,
            "failures": [], "failed": 0, "session_s": 4.0, "warm_s": 2.0,
            "setup_open_s": [3.0, 1.0, 1.2], "source_open_ms": [900.0, 300.0, 250.0],
            "source_scan_ms": [500.0, 100.0, 120.0], "source_bytes": 6_000_000,
            "window_s": 2.0, "passes": 2, "retained_heap_mb": 80.5, "jvm_gc_ms": 700,
            "jvm_heap_peak_mb": 900.0, "cache_samples": [[12, 0.01]], "extra": {},
            "ops": list(ops), "jobs": list(jobs), "spans": list(spans), "phases": list(phases)}


class SelfTime(unittest.TestCase):
    def test_no_children_is_whole_span(self):
        self.assertEqual(metrics.self_time_ms(op(1, 0, 10), []), 10.0)

    def test_overlapping_children_count_once(self):
        kids = [job(1, 1, 4), job(1, 3, 6), job(1, 8, 9)]
        # covered: [1,6) and [8,9) = 6 ms of the 10
        self.assertEqual(metrics.self_time_ms(op(1, 0, 10), kids), 4.0)

    def test_nested_child_inside_another(self):
        kids = [job(1, 2, 8), job(1, 3, 4)]
        self.assertEqual(metrics.self_time_ms(op(1, 0, 10), kids), 4.0)

    def test_children_clipped_to_the_span(self):
        kids = [job(1, -5, 2), job(1, 9, 20)]
        self.assertEqual(metrics.self_time_ms(op(1, 0, 10), kids), 7.0)

    def test_child_fully_outside_is_ignored(self):
        self.assertEqual(metrics.self_time_ms(op(1, 0, 10), [job(1, 11, 12)]), 10.0)


class HitDetection(unittest.TestCase):
    def setUp(self):
        self.ops = [
            op(1, 0, 50, call=7, repeat=False, cacheable=True, kind="median"),
            op(2, 60, 62, call=7, repeat=True, cacheable=True, kind="median"),
            op(3, 70, 120, call=8, repeat=True, cacheable=True, kind="value_counts_hc"),
            op(4, 130, 170, call=9, repeat=True, cacheable=False, kind="filter_head"),
            op(5, 180, 182, call=7, repeat=True, cacheable=True, kind="median", traced=False),
        ]
        self.jobs = [job(1, 1, 40), job(3, 71, 110), job(4, 131, 160)]

    def test_zero_job_repeat_is_a_hit(self):
        calls = {c["id"]: c for c in metrics.classify_calls(self.ops, self.jobs)}
        self.assertTrue(calls[2]["hit"])
        self.assertEqual(calls[2]["jobs"], 0)

    def test_first_run_and_job_running_repeats_are_not_hits(self):
        calls = {c["id"]: c for c in metrics.classify_calls(self.ops, self.jobs)}
        self.assertFalse(calls[1]["hit"])  # first run
        self.assertFalse(calls[3]["hit"])  # repeat over the per-item cap re-ran a job
        self.assertFalse(calls[4]["hit"])  # not cacheable

    def test_untraced_calls_are_left_out(self):
        ids = {c["id"] for c in metrics.classify_calls(self.ops, self.jobs)}
        self.assertNotIn(5, ids)

    def test_cache_metrics(self):
        m = metrics.per_layer(record(self.ops, self.jobs))
        self.assertAlmostEqual(m["api.cache.hit_ratio"], 0.5)  # 1 hit of 2 cacheable repeats
        self.assertEqual(m["api.cache.hit_ms_p50"], 2.0)
        self.assertEqual(m["api.cache.repeat_miss"], 2.0)
        self.assertEqual(m["api.jobs_per_call.median"], 0.5)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([5.0], 90), 5.0)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([2.0, 2000.0]), 63.2455532, places=6)


class EndToEnd(unittest.TestCase):
    def test_median_over_passes(self):
        ops = []
        for p, scale in enumerate((1, 10, 2)):  # the second pass ran slow
            t = 1000 * p
            ops += [op(2 * p + 1, t, t + 2 * scale, **{"pass": p}),
                    op(2 * p + 2, t + 2 * scale, t + 10 * scale, **{"pass": p})]
        ops.append(op(99, 5000, 5001, unit=False, **{"pass": 0}))  # a store step inside a cycle
        m = metrics.end_to_end(record(ops))
        # per pass: geomean(2s, 8s) = 4s ms and 2 ops in 10s ms; median scale 2
        self.assertAlmostEqual(m["op_geomean_ms"], 8.0)
        self.assertAlmostEqual(m["ops_per_s"], 100.0)
        self.assertAlmostEqual(m["setup_s"], 4.0 + 1.2 + 2.0)


class TraceOverhead(unittest.TestCase):
    def test_traced_pass_against_its_untraced_neighbours(self):
        # passes warm up: 12, 11, 10 ms per op untraced; the traced middle pass
        # takes 11 * 1.1 ms, a 10 % overhead
        ps = [[op(1, 0, 12, traced=False)], [op(2, 20, 32.1, traced=True)],
              [op(3, 40, 50, traced=False)]]
        self.assertAlmostEqual(metrics.trace_overhead(ps), 12.1 / 11 - 1)

    def test_needs_an_untraced_pass_on_each_side(self):
        ps = [[op(1, 0, 12, traced=False)], [op(2, 20, 31, traced=True)]]
        self.assertEqual(metrics.trace_overhead(ps), 0.0)


class OutputContract(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)
        ops = [op(1, 0, 40, repeat=False, cacheable=True),
               op(2, 50, 52, repeat=True, cacheable=True),
               op(3, 60, 100, repeat=False, cacheable=True, traced=False, **{"pass": 1}),
               op(4, 110, 111, repeat=True, cacheable=True, traced=False, **{"pass": 1})]
        self.rec = record(ops, [job(1, 1, 30)], phases=[
            {"t": 2 * MS, "analysis_ms": 3, "optimization_ms": 2, "planning_ms": 1}])

    def check_line(self, trace, names):
        res = metrics.result_line(self.rec, trace)
        line = json.dumps(res)
        self.assertNotIn("\n", line)
        back = json.loads(line)
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(back["correct"], True)
        self.assertIsInstance(back["attempted"], int)
        self.assertIsInstance(back["failed"], int)
        self.assertGreaterEqual(back["attempted"], 1)
        self.assertEqual(set(back["metrics"]), names)
        for v in back["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertIsInstance(v["value"], float)
        return back

    def test_end_to_end_line(self):
        names = {m["name"] for m in self.bench["end_to_end"]}
        back = self.check_line(False, names)
        units = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        for k, v in back["metrics"].items():
            self.assertEqual(v["unit"], units[k])
            self.assertGreater(v["value"], 0)

    def test_per_layer_line(self):
        names = {m["name"] for m in self.bench["per_layer"]}
        back = self.check_line(True, names)
        spec = {m["name"]: m for m in self.bench["per_layer"]}
        for k, v in back["metrics"].items():
            self.assertEqual(v["unit"], spec[k]["unit"])
            self.assertEqual(spec[k]["better"],
                             "higher" if k in metrics.HIGHER_IS_BETTER else "lower")
        self.assertGreater(back["metrics"]["catalyst.analysis_ms"]["value"], 0)

    def test_a_failure_makes_the_run_incorrect(self):
        self.rec["failed"] = 1
        self.assertFalse(metrics.result_line(self.rec, False)["correct"])

    def test_benchmark_json_shape(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        seen = set()
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertRegex(w["name"], name)
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertNotIn(m["name"], seen)
            seen.add(m["name"])
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertLessEqual(len(b["per_layer"]), 128)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in b["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
