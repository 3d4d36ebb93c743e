"""Tests for the benchmark's own arithmetic and checks.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchlib  # noqa: E402


def span(sid, layer, start, end, parent=-1, traced=1, attrs=None):
    return [sid, parent, layer, start, end, traced, attrs or {}]


def job(jid, sid, submit, end, tasks=4, run_ms=10, deser_ms=5):
    return [jid, sid, submit, end, 1, 1, tasks, run_ms, deser_ms, 1, 2048, 0,
            0, 0, 0, 0]


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 1001))
        self.assertEqual(benchlib.percentile(xs, 0.99), 990)
        with self.assertRaises(ValueError):
            benchlib.percentile(xs[:999], 0.99)
        self.assertEqual(benchlib.percentile(list(range(100)), 0.9), 89)
        with self.assertRaises(ValueError):
            benchlib.percentile(list(range(99)), 0.9)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 40
        self.assertEqual(benchlib.percentile(xs, 0.5), 3.0)

    def test_tail_falls_back_to_the_highest_supported_quantile(self):
        xs = list(range(1, 201))
        # 200 samples cannot support p99; the tail keeps 10 samples beyond.
        self.assertEqual(benchlib.tail(xs), 190)
        self.assertEqual(benchlib.tail(list(range(1, 2001))), 1980)
        self.assertEqual(benchlib.tail(list(range(5))), 0.0)


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlaps_once_and_clips(self):
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(benchlib.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(benchlib.union_length([]), 0)
        self.assertEqual(benchlib.union_length([(10, 5)]), 0)

    def test_driver_time_plus_job_time_is_wall_time(self):
        spans = benchlib.load_trace({
            "spans": [span(1, "fused.point", 100.0, 140.0)],
            "jobs": [job(1, 1, 104, 120), job(2, 1, 110, 130), job(3, 1, 135, 150)]})
        s = spans[1]
        # Jobs cover [104, 130] and [135, 140] inside the span: 31 ms.
        self.assertAlmostEqual(benchlib.job_ms(s), 31.0)
        self.assertAlmostEqual(benchlib.driver_ms(s), 9.0)
        self.assertAlmostEqual(benchlib.driver_ms(s) + benchlib.job_ms(s), s.wall)

    def test_jobs_of_nested_spans_count_for_the_parent(self):
        spans = benchlib.load_trace({
            "spans": [span(1, "restart", 0.0, 100.0),
                      span(2, "load", 0.0, 40.0, parent=1),
                      span(3, "recover", 40.0, 90.0, parent=1)],
            "jobs": [job(1, 2, 10, 30), job(2, 3, 50, 80)]})
        self.assertAlmostEqual(benchlib.driver_ms(spans[1]), 50.0)
        self.assertAlmostEqual(benchlib.driver_ms(spans[2]), 20.0)

    def test_self_time_excludes_nested_spans(self):
        spans = benchlib.load_trace({"spans": [
            span(1, "restart", 0.0, 100.0),
            span(2, "load", 10.0, 40.0, parent=1),
            span(3, "recover", 30.0, 70.0, parent=1),
            span(4, "restart.probe", 95.0, 120.0, parent=1)]})
        # Children cover [10, 70] and [95, 100] of the parent.
        self.assertAlmostEqual(benchlib.self_ms(spans[1]), 35.0)
        self.assertAlmostEqual(benchlib.self_ms(spans[2]), 30.0)


class ChecksTest(unittest.TestCase):
    def test_a_wrong_answer_is_counted_as_failed(self):
        import pandas as pd
        want = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 0.125]})
        same = want.iloc[::-1][["score", "id"]]
        wrong = pd.DataFrame({"id": [1, 2, 4], "score": [0.5, 0.25, 0.125]})
        tally = benchlib.Tally()
        tally.record(benchlib.frames_match(same, want), "same rows")
        tally.record(benchlib.frames_match(wrong, want), "wrong id")
        tally.record(benchlib.frames_match(want.astype({"id": "int32"}), want),
                     "wrong dtype")
        self.assertEqual((tally.attempted, tally.failed), (3, 2))
        self.assertAlmostEqual(tally.failed_share, 2 / 3)
        self.assertEqual(tally.messages, ["wrong id", "wrong dtype"])

    def test_oracle_check_fails_a_result_that_differs_from_duckdb(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            data, results = os.path.join(d, "data"), os.path.join(d, "results")
            os.makedirs(data)
            pd.DataFrame({"k": [1, 2, 2], "v": [1.0, 2.0, 3.0]}).to_parquet(
                os.path.join(data, "t.parquet"))
            sql = "select k, cast(count(*) as bigint) as n from t group by k"
            for name, n in (("good", [1, 2]), ("bad", [1, 3])):
                os.makedirs(os.path.join(results, name))
                pd.DataFrame({"k": [1, 2], "n": n}).to_parquet(
                    os.path.join(results, name, "part-0.parquet"))
            tally = benchlib.Tally()
            benchlib.oracle_check(tally, data, results,
                                  {"good": sql, "bad": sql, "missing": sql})
        self.assertEqual((tally.attempted, tally.failed), (3, 2))


class MetricsTest(unittest.TestCase):
    def raw(self):
        spans, jobs, sid = [], [], 0
        for i, w in enumerate([40.0, 50.0, 60.0]):
            for layer, scale in (("fused.point", 1), ("mmr.point", 1),
                                 ("fused.live", 2), ("fused.batch", 5),
                                 ("fused_int8.batch", 5), ("freshness", 50)):
                sid += 1
                spans.append(span(sid, layer, 1000.0 * sid, 1000.0 * sid + w * scale,
                                  traced=i % 2, attrs={"segments": i}))
                jobs.append(job(sid, sid, 1000 * sid, 1000 * sid + 10))
        spans.append(span(sid + 1, "setup.corpus", 0.0, 2000.0))
        return {"spans": spans, "jobs": jobs}

    def test_end_to_end_is_the_geomean_of_layer_medians(self):
        spans = benchlib.load_trace(self.raw())
        m = benchlib.end_to_end("serve_ingest", spans, {"setup.session_ms": 1000.0})
        self.assertAlmostEqual(m["setup_s"], 3.0)
        self.assertAlmostEqual(m["interactive_ms"], (50.0 * 50.0 * 100.0) ** (1 / 3))
        self.assertAlmostEqual(m["bulk_ms"], (250.0 * 250.0 * 2500.0) ** (1 / 3))
        self.assertEqual(sorted(m), sorted(benchlib.END_TO_END))

    def test_per_layer_uses_traced_spans_and_prices_tracing(self):
        spans = benchlib.load_trace(self.raw())
        m = benchlib.per_layer("serve_ingest", spans, {}, benchlib.Tally(1, 0))
        self.assertAlmostEqual(m["fused.point.wall_ms"], 50.0)
        self.assertAlmostEqual(m["fused.point.driver_ms"], 40.0)
        self.assertAlmostEqual(m["fused.point.tasks"], 4.0)
        self.assertAlmostEqual(m["fused.point.result_kb"], 2.0)
        # Untraced calls took 40 and 60 ms (median 50), the traced one 50.
        self.assertAlmostEqual(m["trace.overhead_pct"], 0.0)
        self.assertEqual(m["failed_share"], 0.0)
        self.assertEqual(m["q.d8_dedup_components.wall_s"], 0.0)


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def test_metric_names_and_units_match(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as fh:
            bench = json.load(fh)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        self.assertEqual(sorted(e2e), sorted(benchlib.END_TO_END))
        layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
        emitted = benchlib.per_layer("analytics", {}, {}, benchlib.Tally(1, 0))
        self.assertEqual(sorted(layers), sorted(emitted))
        for name, unit in list(e2e.items()) + list(layers.items()):
            self.assertEqual(unit, benchlib.unit_of(name), name)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(benchlib.KINDS))


if __name__ == "__main__":
    unittest.main()
