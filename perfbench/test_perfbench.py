"""Tests of the benchmark's own arithmetic and accounting (no JVM needed).

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import run  # noqa: E402


def span(i, parent, start, end, name="s", trace=1):
    return {"id": i, "parent": parent, "trace": trace, "name": name,
            "start": start, "end": end}


def record(workload, ops, **extra):
    rec = {"workload": workload, "setup_s": 12.5, "pass_ns": [4e9, 5e9, 6e9],
           "window_ns": 15e9, "ops": ops, "facts": {}, "spans": [], "jobs": [],
           "jvm": {"peak_rss_mb": 1800.0}}
    rec.update(extra)
    return rec


def op(kind, cls, ns, **kw):
    base = {"kind": kind, "cls": cls, "pass": 0, "ns": ns, "trace": 0, "rows": -1,
            "got": None, "expect": None, "error": None, "alloc_bytes": -1, "segments": -1}
    base.update(kw)
    return base


class SelfTime(unittest.TestCase):
    def test_duration_minus_child_coverage(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60)]
        self.assertEqual(metrics.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50),
                 span(4, 1, 45, 48), span(5, 1, 90, 120)]
        # children cover [10, 50] and [90, 100] of the parent: 50 of 100
        self.assertEqual(metrics.self_times(spans)[1], 50)

    def test_grandchildren_do_not_reduce_the_root_twice(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 10, 20)]
        self.assertEqual(metrics.self_times(spans), {1: 40, 2: 50, 3: 10})


class Percentiles(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(99), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.median([3, 1, 2, 4]), 2.5)

    def test_geomean_weights_every_kind_alike(self):
        self.assertAlmostEqual(metrics.geomean([0.08, 2.0]), 0.4)


class Accounting(unittest.TestCase):
    REF = {"q_orderby_limit": {"rows": 10, "digest": "10:1:2"}}

    def test_wrong_query_result_counts_as_failed(self):
        ops = [op("q_orderby_limit", "query", 1e8, got="10:1:2"),
               op("q_orderby_limit", "query", 1e8, got="10:1:3")]
        line = run.result(record("analytic", ops), 0, self.REF)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (2, 1, False))

    def test_wrong_cql_read_and_errors_count_as_failed(self):
        ops = [op("point", "read", 1e8, got="3:ab", expect="3:ab"),
               op("point", "read", 1e8, got="3:ab", expect="2:cd"),
               op("insert", "write", 1e5, error="InvalidRequest"),
               op("update", "write", 1e5)]
        line = run.result(record("cql-mixed", ops), 0, self.REF)
        self.assertEqual((line["attempted"], line["failed"]), (4, 2))

    def test_all_correct(self):
        ops = [op("q_orderby_limit", "query", 1e8, got="10:1:2")]
        self.assertTrue(run.result(record("analytic", ops), 0, self.REF)["correct"])


class MetricNames(unittest.TestCase):
    """Every metric the run prints is declared in BENCHMARK.json, with its
    unit, and every declared metric is printed, for every workload."""

    def setUp(self):
        spec = metrics.load_spec()
        self.e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        self.layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.workloads = [w["name"] for w in spec["workloads"]]

    def records(self):
        q = [op(n, "query", 2e8, got="x", rows=5, trace=1) for n in metrics.QUERIES]
        c = [op("point", "read", 5e8, rows=10, got="a", expect="a", trace=1, segments=2),
             op("insert", "write", 2e5, trace=2), op("flush", "flush", 1e8, trace=3),
             op("compact", "compact", 4e9, trace=4)]
        spans = [span(1, 0, 0, 100, "query"), span(2, 1, 0, 50, "sink.write")]
        jobs = [{"job": 0, "span": 2, "start": 5, "end": 40, "stages": 1, "tasks": 4,
                 "task_cpu_ns": 10, "task_run_ms": 1, "gc_ms": 0, "records_read": 100,
                 "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}]
        yield record("analytic", q, spans=spans, jobs=jobs)
        yield record("cql-mixed", c, facts={"user_bytes": 100, "disk_bytes": 50,
                                            "bytes_written": 70, "bulk_insert_ns": 3e9})

    def test_names_and_units_match_the_spec(self):
        self.assertEqual(sorted(self.workloads), sorted(run.WORKLOADS))
        for rec in self.records():
            for trace, spec in ((0, self.e2e), (1, self.layers)):
                got = run.result(rec, trace, {})["metrics"]
                self.assertEqual(set(got), set(spec), (rec["workload"], trace))
                for name, m in got.items():
                    self.assertEqual(m["unit"], spec[name])
                    self.assertIsInstance(m["value"], (int, float))

    def test_driver_gap_is_execute_time_outside_jobs(self):
        rec = next(self.records())
        self.assertAlmostEqual(metrics.per_layer(rec)["spark.driver_gap_s"], 15e-9)


if __name__ == "__main__":
    unittest.main()
