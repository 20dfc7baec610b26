"""Tests of the benchmark's pure helpers and of BENCHMARK.json against the
metrics run.py prints. Run: python3 perfbench/test_benchlib.py"""

import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import benchlib  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_is_p50(self):
        for xs in ([3.0], [2.0, 1.0], [5, 1, 4, 2, 3], [1, 2, 3, 4, 10, 20]):
            self.assertEqual(benchlib.percentile(xs, 50), statistics.median(xs))

    def test_linear_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(benchlib.percentile(xs, 0), 10)
        self.assertEqual(benchlib.percentile(xs, 100), 50)
        self.assertEqual(benchlib.percentile(xs, 25), 20)
        self.assertAlmostEqual(benchlib.percentile(xs, 90), 46.0)
        self.assertAlmostEqual(benchlib.percentile([1, 2], 75), 1.75)

    def test_no_values(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)


class CallsiteTest(unittest.TestCase):
    INDEX = {"Quality": "ops.Quality", "Dedup": "ops.text.Dedup",
             "Incremental": "pipeline.Incremental", "Sources": "io.Sources",
             "CacheScope": "CacheScope", "Graph": "ops.Graph"}

    def test_program_files(self):
        self.assertEqual(benchlib.module_of("count at Quality.scala:32", self.INDEX),
                         "ops.Quality")
        self.assertEqual(benchlib.module_of("localCheckpoint at Dedup.scala:614",
                                            self.INDEX), "ops.text.Dedup")
        self.assertEqual(benchlib.module_of("parquet at Incremental.scala:241",
                                            self.INDEX), "pipeline.Incremental")

    def test_bench_other_and_missing(self):
        bench = {"Workloads"}
        self.assertEqual(benchlib.module_of("collect at Workloads.scala:336",
                                            self.INDEX, bench), "bench")
        # a program module without its own metric, a pool thread, no callsite
        self.assertEqual(benchlib.module_of("count at Graph.scala:1", self.INDEX), "other")
        self.assertEqual(benchlib.module_of(
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
            self.INDEX), "other")
        self.assertEqual(benchlib.module_of(None, self.INDEX), "other")
        self.assertEqual(benchlib.module_of("", self.INDEX), "other")

    def test_module_index_from_tree(self):
        with tempfile.TemporaryDirectory() as d:
            for rel in ("ops/text/Dedup.scala", "io/Sources.scala", "CacheScope.scala",
                        "ops/README.md"):
                os.makedirs(os.path.dirname(os.path.join(d, rel)), exist_ok=True)
                open(os.path.join(d, rel), "w").close()
            self.assertEqual(benchlib.module_index(d), {
                "Dedup": "ops.text.Dedup", "Sources": "io.Sources",
                "CacheScope": "CacheScope"})


class SelfTimeTest(unittest.TestCase):
    def test_children_union_clipped_to_parent(self):
        spans = [
            {"id": "op", "parent": "", "start": 0.0, "end": 10.0},
            {"id": "j1", "parent": "op", "start": 1.0, "end": 3.0},
            {"id": "j2", "parent": "op", "start": 2.0, "end": 5.0},   # overlaps j1
            {"id": "j3", "parent": "op", "start": 8.0, "end": 12.0},  # runs past op
            {"id": "s1", "parent": "j2", "start": 2.5, "end": 4.0},
        ]
        selfs = benchlib.self_times(spans)
        self.assertAlmostEqual(selfs["op"], 10 - (4 + 2))
        self.assertAlmostEqual(selfs["j1"], 2.0)
        self.assertAlmostEqual(selfs["j2"], 3.0 - 1.5)
        self.assertAlmostEqual(selfs["j3"], 4.0)
        self.assertAlmostEqual(selfs["s1"], 1.5)

    def test_no_children(self):
        self.assertEqual(benchlib.self_times(
            [{"id": "a", "parent": "", "start": 1.0, "end": 1.5}]), {"a": 0.5})


class RunRecordTest(unittest.TestCase):
    @staticmethod
    def op(traced, ok=True):
        return {"name": "Curation.curate", "wall_s": 9.0, "rows": 5938,
                "measured": True, "traced": traced, "ok": ok, "span": "d1"}

    def test_traced_run_without_traced_step(self):
        # the first (untraced) step failed a check, so the loop stopped
        raw = {"workload": "curation", "ops": [self.op(False)]}
        self.assertIsNone(run.per_layer(raw))
        raw = {"workload": "curation", "ops": [self.op(False), self.op(True, ok=False)]}
        self.assertIsNone(run.per_layer(raw))

    def test_expected_digest(self):
        with open(run.EXPECTED_DIGESTS) as f:
            seed, digest = next(iter(json.load(f)["curation"].items()))
        raw = {"workload": "curation", "seed": int(seed), "digest": digest}
        self.assertIsNone(run.digest_problem(raw))
        self.assertIsNotNone(run.digest_problem(dict(raw, digest="docs=6000 sha256=0")))
        self.assertIsNone(run.digest_problem({"workload": "backfill", "seed": 1}))


class MetricNameTest(unittest.TestCase):
    def setUp(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_rule(self):
        for ok in ("setup_s", "spark.jobs_per_op", "ops.text.Dedup.job_s", "9a-b"):
            self.assertTrue(benchlib.valid_metric_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "a\n"):
            self.assertFalse(benchlib.valid_metric_name(bad), bad)

    def test_every_name_valid_and_unique(self):
        names = ([w["name"] for w in self.bench["workloads"]]
                 + [m["name"] for m in self.bench["end_to_end"]]
                 + [m["name"] for m in self.bench["per_layer"]])
        for n in names:
            self.assertTrue(benchlib.valid_metric_name(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_printed_metrics(self):
        pairs = lambda key: [(m["name"], m["unit"]) for m in self.bench[key]]
        self.assertEqual(pairs("end_to_end"), run.END_TO_END)
        self.assertEqual(pairs("per_layer"), run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
