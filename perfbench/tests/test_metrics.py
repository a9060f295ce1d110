"""Unit tests of the benchmark's metric arithmetic, call-site attribution,
failure counting and oracle canonical form.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import datetime
import json
import math
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402
import oracle  # noqa: E402
import spread  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(metrics.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = metrics.quartiles(xs)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(metrics.spread(xs), (8.25 - 2.75) / 5.5)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0, 4.0]), 4.0)
        self.assertAlmostEqual(metrics.geomean([3.5]), 3.5)

    def test_summary_of_runs(self):
        runs = [{"result": {"metrics": {"wall_s": {"value": v, "unit": "s"}}},
                 "context": {"workload": "w", "trace": 0}}
                for v in (1.0, 2.0, 3.0, 4.0, 5.0)]
        (row,) = spread.summarize(runs)
        self.assertEqual(row[:3], ("w", "wall_s", 5))
        self.assertAlmostEqual(row[3], 3.0)
        self.assertAlmostEqual(row[4], (4.5 - 1.5) / 3.0)


class ExecutorMetricsTest(unittest.TestCase):
    def test_core_util(self):
        # 2 s of task time in a 1 s pass on 4 cores: half the cores busy
        self.assertAlmostEqual(metrics.core_util(2000, 1000, 4), 0.5)
        self.assertAlmostEqual(metrics.core_util(400, 1000, 4), 0.1)

    def test_task_skew_weights_stages_by_run_time(self):
        even = {"tasks": 4, "run_ms": 400, "max_run_ms": 100}
        skewed = {"tasks": 2, "run_ms": 300, "max_run_ms": 250}
        self.assertAlmostEqual(metrics.task_skew([even]), 1.0)
        self.assertAlmostEqual(metrics.task_skew([skewed]), 250 / 150)
        self.assertAlmostEqual(metrics.task_skew([even, skewed]),
                               (1.0 * 400 + 250 / 150 * 300) / 700)

    def test_task_skew_ignores_empty_stages(self):
        empty = {"tasks": 0, "run_ms": 0, "max_run_ms": 0}
        even = {"tasks": 2, "run_ms": 20, "max_run_ms": 10}
        self.assertAlmostEqual(metrics.task_skew([empty, even]), 1.0)
        self.assertEqual(metrics.task_skew([empty]), 1.0)


class CallSiteTest(unittest.TestCase):
    def test_long_form_decides(self):
        ckpt = ("org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)\n"
                "graft.Checkpoints$.cut(Checkpoints.scala:48)\n"
                "graft.graph.Algorithms$.q15(Algorithms.scala:679)")
        eager = ("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)\n"
                 "graft.graph.Algorithms$.q15(Algorithms.scala:670)\n"
                 "perfbench.Runner$Run.query(Runner.scala:161)")
        bench = ("org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\n"
                 "perfbench.Runner$Run.$anonfun$query$3(Runner.scala:165)")
        self.assertEqual(metrics.call_site(ckpt, "anything"), "ckpt")
        self.assertEqual(metrics.call_site(eager), "eager")
        self.assertEqual(metrics.call_site(bench), "result")
        self.assertEqual(metrics.call_site("java.lang.Thread.run(Thread.java:1)"),
                         "other")

    def test_short_form_when_no_long_form(self):
        self.assertEqual(metrics.call_site("", "localCheckpoint at Checkpoints.scala:48"),
                         "ckpt")
        self.assertEqual(metrics.call_site("", "save at ParquetSink.scala:36"), "eager")
        self.assertEqual(metrics.call_site("", "collect at Runner.scala:165"), "result")
        self.assertEqual(
            metrics.call_site("", "submitMapStage at CompletableFuture.java:1768"),
            "other")


class RecordedTraceTest(unittest.TestCase):
    """Attribution on events recorded from one traced execution of
    q15_connected_components (graph-iter): 5 checkpoint cuts, 3 eager
    counts inside the operator and the benchmark's collect."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(HERE, "trace_sample.json")) as f:
            cls.record = json.load(f)

    def test_every_event_lands_in_the_traced_pass(self):
        trace = self.record["trace"]
        g = metrics.attribute(trace, self.record["passes"])["p1"]
        self.assertEqual(len(g["executions"]), len(trace["executions"]))
        self.assertEqual(len(g["jobs"]), len(trace["jobs"]))
        self.assertEqual(len(g["stages"]), len(trace["stages"]))

    def test_actions_by_call_site_match_descriptions(self):
        trace = self.record["trace"]
        g = metrics.attribute(trace, self.record["passes"])["p1"]
        layers = [a["layer"] for a in g["actions"]]
        by_file = [x["description"].split(" at ")[1].split(":")[0]
                   for x in trace["executions"]]
        self.assertEqual(layers.count("ckpt"), by_file.count("Checkpoints.scala"))
        self.assertEqual(layers.count("result"), by_file.count("Runner.scala"))
        self.assertEqual(layers.count("eager"), by_file.count("Algorithms.scala"))
        self.assertEqual((layers.count("ckpt"), layers.count("eager"),
                          layers.count("result")), (5, 3, 1))

    def test_per_layer_counts(self):
        record = dict(self.record)
        untraced = dict(record["passes"][0], id="p2", traced=False)
        record["passes"] = record["passes"] + [untraced]
        m = metrics.per_layer(record, cores=4)
        trace = record["trace"]
        self.assertEqual(m["ckpt.cuts"], 5)
        self.assertEqual(m["eager.actions"], 3)
        self.assertEqual(m["sched.jobs"], len(trace["jobs"]))
        self.assertEqual(m["sched.tasks"], sum(s["tasks"] for s in trace["stages"]))
        self.assertAlmostEqual(m["trace.overhead_s"], 0.0)
        self.assertGreater(m["trace.span_coverage"], 0.9)
        self.assertAlmostEqual(
            m["exec.core_util"],
            sum(s["run_ms"] for s in trace["stages"])
            / (record["passes"][0]["wall_ms"] * 4))

    def test_streaming_sink_batches_count_as_writes(self):
        record = dict(self.record)
        p1 = record["passes"][0]
        base = metrics.per_layer(dict(record, passes=[
            p1, dict(p1, id="p2", traced=False)]), cores=4)
        inside = {"name": "s", "batch": 0, "end": p1["end"] - 5,
                  "sink_rows": 725, "sink_ms": 900}
        outside = dict(inside, end=p1["end"] + 60_000)
        record["trace"] = dict(record["trace"], streams=[inside, outside])
        record["passes"] = [p1, dict(p1, id="p2", traced=False)]
        m = metrics.per_layer(record, cores=4)
        self.assertEqual(m["io.write_rows"], base["io.write_rows"] + 725)
        self.assertEqual(m["io.write_ms"], base["io.write_ms"] + 900)
        self.assertEqual(m["io.write_bytes"], base["io.write_bytes"])

    def test_span_coverage_is_over_the_pass_clock(self):
        # time between queries (digest, GC, releaseAll) lowers coverage
        record = dict(self.record)
        p1 = record["passes"][0]
        longer = dict(p1, end=p1["end"] + (p1["end"] - p1["start"]))
        untraced = dict(p1, id="p2", traced=False)
        record["passes"] = [longer, untraced]
        m = metrics.per_layer(record, cores=4)
        self.assertGreater(m["trace.span_coverage"], 0.45)
        self.assertLess(m["trace.span_coverage"], 0.55)

    def test_span_tree_nests_events_under_phases(self):
        record = dict(self.record)
        record["trace"] = dict(record["trace"], spans=record["trace"]["spans"] + [
            {"id": "run", "kind": "run", "parent": None, "start": 0, "end": 1},
            {"id": "p1", "kind": "pass", "parent": "run", "start": 0, "end": 1}])
        tree = metrics.span_tree(record)
        query = tree["children"][0]["children"][0]
        kinds = [c["kind"] for c in query["children"]]
        self.assertEqual(sorted(kinds), ["build", "plan", "result"])
        build = [c for c in query["children"] if c["kind"] == "build"][0]
        self.assertEqual(sum(1 for c in build["children"] if c["kind"] == "execution"), 8)


class FailureCountTest(unittest.TestCase):
    def test_failed_frac_counts_exceptions_and_mismatches(self):
        execs = [{"failure": None}, {"failure": "exception: boom"},
                 {"failure": None}, {"failure": "rows 3 vs oracle 4"},
                 {"failure": None}]
        self.assertAlmostEqual(metrics.failed_frac(execs), 2 / 5)
        self.assertEqual(metrics.failed_frac([{"failure": None}]), 0.0)

    def test_compare_names_what_differs(self):
        want = oracle.digest(["b", "a"], [(1, "x"), (2, "y")])
        same = oracle.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertIsNone(oracle.compare(same, want))
        other_b = oracle.digest(["a", "b"], [("x", 1), ("y", 3)])
        self.assertEqual(oracle.compare(other_b, want),
                         "values differ in columns b")
        fewer = oracle.digest(["a", "b"], [("x", 1)])
        self.assertEqual(oracle.compare(fewer, want), "rows 1 vs oracle 2")
        renamed = oracle.digest(["a", "c"], [("x", 1), ("y", 2)])
        self.assertIn("columns", oracle.compare(renamed, want))
        swapped = oracle.digest(["a", "b"], [("x", 2), ("y", 1)])
        self.assertEqual(oracle.compare(swapped, want),
                         "rows pair up differently across columns")
        self.assertEqual(oracle.compare({"digest": None}, want), "no result")

    def test_end_to_end_ok_frac(self):
        execs = [{"pass": "p0", "query": "q", "timed": False, "wall_ms": 9000.0,
                  "cpu_ms": 1.0, "heap_mb": 50.0, "failure": None}]
        for p, w, ok in [("p1", 2000.0, True), ("p2", 3000.0, False)]:
            execs.append({"pass": p, "query": "q", "timed": True, "wall_ms": w,
                          "cpu_ms": 2 * w, "heap_mb": 60.0 + w / 1000,
                          "failure": None if ok else "rows 1 vs oracle 2"})
        record = {"launch_ms": 0.0, "first_timed_ms": 12000.0,
                  "executions": execs,
                  "passes": [{"timed": False, "wall_ms": 9000.0},
                             {"timed": True, "wall_ms": 2000.0},
                             {"timed": True, "wall_ms": 3000.0}]}
        m = metrics.end_to_end(record)
        self.assertAlmostEqual(m["ok_frac"], 2 / 3)
        self.assertAlmostEqual(m["setup_s"], 12.0)
        self.assertAlmostEqual(m["wall_s"], 2.5)
        self.assertAlmostEqual(m["query_geomean_s"], 2.5)
        self.assertAlmostEqual(m["cpu_s"], 5.0)
        self.assertAlmostEqual(m["retained_heap_mb"], 63.0)


class CanonicalFormTest(unittest.TestCase):
    """The rules `Digest.scala` applies on the Spark side."""

    def test_reals_round_half_even_at_nine_places(self):
        self.assertEqual(oracle.cell(1.5), "1.500000000")
        self.assertEqual(oracle.cell(1 / 1024), "0.000976562")  # exact tie
        self.assertEqual(oracle.cell(3 / 1024), "0.002929688")  # exact tie
        self.assertEqual(oracle.cell(-0.0), "0.000000000")
        self.assertEqual(oracle.cell(-1e-12), "0.000000000")
        self.assertEqual(oracle.cell(1e20), "100000000000000000000.000000000")
        self.assertEqual(oracle.cell(float("nan")), "NaN")
        self.assertEqual(oracle.cell(-math.inf), "-Infinity")

    def test_other_types(self):
        self.assertEqual(oracle.cell(None), "\\N")
        self.assertEqual(oracle.cell(True), "true")
        self.assertEqual(oracle.cell(12345678901234), "12345678901234")
        self.assertEqual(oracle.cell(datetime.datetime(1970, 1, 1, 0, 0, 1, 5)),
                         "1000005")
        self.assertEqual(oracle.cell(datetime.date(2024, 2, 29)), "2024-02-29")
        self.assertEqual(oracle.cell("a\nb\\c"), "a\\nb\\\\c")
        self.assertEqual(oracle.cell([1, None, 2.0]), "[1,\\N,2.000000000]")
        self.assertEqual(oracle.cell({"x": 1, "y": "z"}), "{1,z}")


if __name__ == "__main__":
    unittest.main()
