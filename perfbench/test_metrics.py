"""Tests for the benchmark's aggregation code (no Spark needed).

run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):

    def test_no_tail_percentile_below_twenty_samples(self):
        r = metrics.percentile_report([3.0, 1.0, 2.0])
        self.assertEqual(r["p50"], 2.0)
        self.assertEqual(r["n"], 3)
        self.assertIsNone(r["pct"])

    def test_p50_of_even_count_is_midpoint(self):
        self.assertEqual(metrics.percentile_report([1.0, 2.0, 3.0, 4.0])["p50"], 2.5)

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]   # 100 samples
        r = metrics.percentile_report(xs)
        self.assertEqual(r["pct"], 90.0)         # 10 beyond p90; 5 beyond p95
        self.assertEqual(r["value"], 90.0)
        r = metrics.percentile_report([float(i) for i in range(1000)])
        self.assertEqual(r["pct"], 99.0)         # 10 beyond p99

    def test_forty_samples_allow_p75(self):
        r = metrics.percentile_report([float(i) for i in range(40)])
        self.assertEqual(r["pct"], 75.0)

    def test_empty(self):
        r = metrics.percentile_report([])
        self.assertEqual((r["p50"], r["n"], r["pct"]), (0.0, 0, None))


class FailureAccounting(unittest.TestCase):
    PINS = {"q1": {"rows": 3, "digest": 7}}

    def op(self, **kw):
        base = {"op": "cc", "name": "x", "round": 0, "wall_s": 1.0,
                "error": None, "checks": {}}
        base.update(kw)
        return base

    def test_error_and_failed_check_count(self):
        ops = [self.op(), self.op(error="boom"),
               self.op(checks={"a": True, "b": False}), self.op(checks={"a": True})]
        self.assertEqual(metrics.failure_counts(ops, self.PINS), (4, 2))

    def test_query_rows_and_digest_against_pins(self):
        ok = self.op(op="query", name="q1", rows=3, digest=7)
        rows = self.op(op="query", name="q1", rows=4, digest=7)
        dig = self.op(op="query", name="q1", rows=3, digest=8)
        unpinned = self.op(op="query", name="q2", rows=3, digest=7)
        ops = [ok, rows, dig, unpinned]
        self.assertEqual(metrics.failure_counts(ops, self.PINS), (4, 3))

    def test_failed_unit_is_left_out_of_timings(self):
        steps = metrics.SOLVE_STEPS
        ops = [self.op(op=s, round=0, wall_s=1.0) for s in steps]
        ops += [self.op(op=s, round=1, wall_s=2.0) for s in steps]
        ops[-1]["checks"] = {"store_equals_batch_build": False}
        result = {"workload": "graph_solve", "ops": ops}
        self.assertEqual(metrics.op_walls(result, {}), [float(len(steps))])

    def test_failed_frac_per_layer(self):
        ops = [self.op(), self.op(error="x")]
        r = {"workload": "graph_solve", "ops": ops, "jobs": [], "spans": [],
             "cached_mb": 0.0, "counters": {}}
        self.assertEqual(metrics.per_layer(r, {})["failed_frac"], 0.5)


class DriverGap(unittest.TestCase):

    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_gap_is_span_minus_covered_time(self):
        span = {"start_ms": 1000, "end_ms": 3000, "wall_s": 2.0}
        jobs = [{"start_ms": 1200, "end_ms": 1700},
                {"start_ms": 1500, "end_ms": 2000},   # overlaps the first
                {"start_ms": 2900, "end_ms": 3500},   # clipped at span end
                {"start_ms": 2000, "end_ms": -1}]     # never ended: ignored
        self.assertAlmostEqual(metrics.driver_gap_s(span, jobs), 2.0 - 0.9)

    def test_gap_without_jobs_is_whole_span(self):
        span = {"start_ms": 0, "end_ms": 500, "wall_s": 0.5}
        self.assertAlmostEqual(metrics.driver_gap_s(span, []), 0.5)


class CallSites(unittest.TestCase):

    def test_engine_files_map_to_modules(self):
        self.assertEqual(metrics.module_of("count at PageRank.scala:146"), "graph.PageRank")
        self.assertEqual(metrics.module_of("truncateObserved at ConnectedComponents.scala:52"),
                         "graph.ConnectedComponents")
        self.assertEqual(metrics.module_of("parquet at EdgeStore.scala:60"), "ingest.EdgeStore")
        self.assertEqual(metrics.module_of("collect at Dedup.scala:200"), "pipeline.Dedup")

    def test_other_callers_have_no_module(self):
        self.assertIsNone(metrics.module_of("head at Main.scala:300"))
        self.assertIsNone(metrics.module_of("run at ThreadPoolExecutor.java:1136"))
        self.assertIsNone(metrics.module_of(""))
        self.assertIsNone(metrics.module_of(None))

    def test_broadcast_jobs_fall_back_to_sql_call_site(self):
        job = {"site": "run at ThreadPoolExecutor.java:1136",
               "sql_site": "count at Triangles.scala:80"}
        self.assertEqual(metrics.job_module(job), "graph.Triangles")
        job = {"site": "count at GraphOps.scala:10", "sql_site": "x at Dedup.scala:1"}
        self.assertEqual(metrics.job_module(job), "graph.GraphOps")

    def test_module_metrics_count_only_timed_engine_jobs(self):
        def job(op, site, cpu):
            return {"op": op, "span": "s", "site": site, "sql_site": None,
                    "start_ms": 0, "end_ms": 1000, "cpu_s": cpu, "gc_s": 0.0,
                    "shuffle_write_bytes": 1048576, "spill_bytes": 0}
        jobs = [job("pagerank", "count at PageRank.scala:1", 2.0),
                job("pagerank", "head at Main.scala:9", 5.0),       # benchmark's own
                job(None, "count at PageRank.scala:1", 7.0),        # a check
                job("warmup.pagerank", "count at PageRank.scala:1", 9.0)]
        r = {"workload": "graph_solve", "ops": [], "jobs": jobs, "spans": [],
             "cached_mb": 0.0, "counters": {}}
        out = metrics.per_layer(r, {})
        self.assertEqual(out["graph.PageRank.jobs"], 1)
        self.assertEqual(out["graph.PageRank.task_cpu_s"], 2.0)
        self.assertEqual(out["graph.PageRank.shuffle_mb"], 1.0)


class Contract(unittest.TestCase):

    def test_per_layer_names_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        r = {"workload": "query_mix", "ops": [], "jobs": [], "spans": [],
             "cached_mb": 0.0, "counters": {}}
        self.assertEqual(set(metrics.per_layer(r, {})),
                         {m["name"] for m in spec["per_layer"]})
        self.assertLessEqual(len(spec["per_layer"]), 128)

    def test_query_block_matches_the_driver(self):
        import re
        with open(os.path.join(HERE, "src", "main", "scala", "graftbench",
                               "Main.scala")) as f:
            src = f.read()
        block = re.search(r"val QueryBlock = Seq\((.*?)\)", src, re.S).group(1)
        self.assertEqual(re.findall(r'"([a-z0-9_]+)"', block), metrics.QUERIES)

    def test_pins_cover_the_query_block(self):
        with open(os.path.join(HERE, "query_pins.json")) as f:
            self.assertEqual(set(json.load(f)), set(metrics.QUERIES))


if __name__ == "__main__":
    unittest.main()
