"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s offbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import analysis  # noqa: E402
from analysis import Span  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond = analysis.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(analysis.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]),
                         (2, 100.0 * 2 / 12, 10))

    def test_eleven_samples_is_the_smallest_with_a_percentile(self):
        value, pct, beyond = analysis.tail([float(x) for x in range(11)])
        self.assertEqual((value, beyond), (0.0, 10))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_ten_or_fewer_samples_report_the_maximum(self):
        self.assertEqual(analysis.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(analysis.tail(list(range(10))), (9, 100.0, 0))
        self.assertEqual(analysis.tail([]), (0.0, 0.0, 0))


class Attribution(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        graft = os.path.join(self.tmp.name, "graft")
        for rel in ("sink/StagedLoad.scala", "verify/CrossValidator.scala",
                    "orchestrate/OffloadRunner.scala", "Tables.scala",
                    "queries/GoeQueries.scala", "operators/Graph.scala"):
            path = os.path.join(graft, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            open(path, "w").close()
        self.index = analysis.module_index(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def test_module_is_the_directory_under_graft(self):
        self.assertEqual(self.index["StagedLoad.scala"], "sink")
        self.assertEqual(self.index["Tables.scala"], "core")

    def test_call_sites_map_to_modules(self):
        cases = {
            "parquet at StagedLoad.scala:119": "sink",
            "head at CrossValidator.scala:98": "verify",
            "count at OffloadRunner.scala:356": "orchestrate",
            "collect at GoeQueries.scala:48": "queries",
            "load at Tables.scala:40": "core",
        }
        for site, module in cases.items():
            self.assertEqual(analysis.module_of(site, self.index), module, site)

    def test_unknown_call_sites(self):
        self.assertEqual(analysis.module_of(
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", self.index),
            "spark")
        self.assertEqual(analysis.module_of("", self.index), "spark")


def job(t0, t1, callsite="count at StagedLoad.scala:1", **kw):
    r = {"callsite": callsite, "t0": t0, "t1": t1, "stages": 1, "tasks": 2, "run_ms": 10,
         "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "input_records": 100,
         "intervals": [[t0, t1]]}
    r.update(kw)
    return analysis.Job(r)


class SelfTime(unittest.TestCase):
    def tree(self):
        root = Span("offload", "orchestrate", 0.0, 100.0)
        steps = [Span("analyze_plan", "orchestrate", 5.0, 10.0),
                 Span("stage_and_load", "sink", 10.0, 60.0),
                 Span("verify_counts", "verify", 65.0, 90.0)]
        jobs = [job(15.0, 30.0), job(20.0, 40.0),  # second starts inside first: nested
                job(50.0, 70.0),                    # runs past its step's end: clipped
                job(61.0, 63.0),                    # between steps: under the root
                job(70.0, 80.0)]
        return analysis.build_tree(root, steps, jobs, lambda j: "sink")

    def test_self_time_is_duration_minus_children(self):
        root = self.tree()
        s = {x.name + str(x.t0): analysis.self_time(x) for x in analysis.walk(root)}
        # root: 100 minus steps 5+50+25 and the job between steps (2)
        self.assertEqual(s["offload0.0"], 18.0)
        # stage_and_load [10,60]: jobs [15,30] and [50,60] -> 50 - 25
        self.assertEqual(s["stage_and_load10.0"], 25.0)
        # the first job holds the nested one, clipped to [20,30]
        self.assertEqual(s["count at StagedLoad.scala:115.0"], 5.0)
        self.assertEqual(s["verify_counts65.0"], 15.0)

    def test_self_times_add_up_to_the_root(self):
        root = self.tree()
        total = sum(analysis.self_by_layer(root).values())
        self.assertAlmostEqual(total, root.duration)

    def test_clipping_keeps_what_it_cut_off(self):
        root = self.tree()
        clipped = {x.name + str(x.t0): x.clipped for x in analysis.walk(root) if x.clipped}
        # [20,40] nested in [15,30] and [50,70] past stage_and_load's end at 60
        self.assertEqual(clipped, {"count at StagedLoad.scala:120.0": 10.0,
                                   "count at StagedLoad.scala:150.0": 10.0})

    def test_overlapping_steps_are_clipped(self):
        root = Span("op", "orchestrate", 0.0, 10.0)
        steps = [Span("a", "orchestrate", 0.0, 6.0), Span("b", "orchestrate", 5.0, 12.0)]
        analysis.build_tree(root, steps, [], None)
        self.assertEqual([(c.t0, c.t1) for c in root.children], [(0.0, 6.0), (6.0, 10.0)])
        self.assertEqual([c.clipped for c in root.children], [0.0, 3.0])
        self.assertAlmostEqual(sum(analysis.self_by_layer(root).values()), 10.0)

    def test_time_with_no_task_running(self):
        self.assertEqual(analysis.no_task_time(0, 100, [(10, 30), (20, 40), (90, 120)]), 60)


class Digests(unittest.TestCase):
    def test_matching_digests_pass(self):
        self.assertEqual(analysis.digest_mismatches([("q1", "7"), ("q2", "-3")],
                                                    {"q1": "7", "q2": "-3"}), {})

    def test_wrong_missing_and_null_digests_fail(self):
        bad = analysis.digest_mismatches([("q1", "8"), ("q9", "1"), ("q2", None)],
                                         {"q1": "7", "q2": "-3"})
        self.assertEqual(sorted(bad), [0, 1, 2])
        self.assertIn("expected 7", bad[0])


class Metrics(unittest.TestCase):
    """The per-layer numbers of one traced offload from synthetic records."""

    def records(self):
        op = {"kind": "op", "id": 2, "name": "offload", "t0": 1000.0, "t1": 2000.0,
              "traced": True, "ok": True, "rows_landed": 50, "final_bytes": 10,
              "final_files": 1, "staging_bytes": 10, "staging_files": 1,
              "meta_bytes": 5, "meta_files": 2}
        untraced = dict(op, id=3, t0=2000.0, t1=2900.0, traced=False)
        spans = [{"kind": "span", "op": 2, "name": n, "layer": "orchestrate",
                  "t0": a, "t1": b} for n, a, b in (("stage_and_load", 1100.0, 1600.0),
                                                    ("verify_counts", 1600.0, 1800.0))]
        jobs = [dict(job(1200.0, 1500.0).job, kind="job"),
                dict(job(1650.0, 1700.0, "count at OffloadRunner.scala:356").job, kind="job")]
        return [op, untraced] + spans + jobs

    def test_offload_layers(self):
        index = {"StagedLoad.scala": "sink", "OffloadRunner.scala": "orchestrate"}
        m, trees = analysis.per_layer("bulk_offload", self.records(), index, set())
        self.assertEqual(len(trees), 1)
        spans = list(analysis.flatten(2, trees[0][1]))
        self.assertEqual([(x["span"], x["parent"]) for x in spans],
                         [(0, None), (1, 0), (2, 1), (3, 0), (4, 3)])
        self.assertAlmostEqual(sum(x["self_ms"] for x in spans), 1000.0)
        self.assertEqual(m["spark.jobs_per_op"], 2)
        self.assertEqual(m["sink.jobs"], 1)
        self.assertEqual(m["verify.jobs"], 1)  # counted inside verify_counts
        self.assertAlmostEqual(m["orchestrate.stage_and_load_s"], 0.5)
        self.assertAlmostEqual(m["orchestrate.unstepped_s"], 0.3)
        self.assertAlmostEqual(m["spark.no_task_s_per_op"], 0.65)
        self.assertAlmostEqual(m["source.rows_read_per_row_landed"], 200 / 50)
        self.assertAlmostEqual(m["trace.overhead_s_per_op"], 0.1)
        self.assertEqual(m["trace.clipped_s_per_op"], 0.0)
        self.assertEqual(set(m), set(analysis.per_layer_names()))

    def test_benchmark_action_jobs_belong_to_the_query(self):
        op = {"kind": "op", "id": 2, "name": "q01", "t0": 0.0, "t1": 100.0,
              "traced": True, "ok": True}
        jobs = [dict(job(10.0, 50.0, "collect at Workloads.scala:271").job, kind="job")]
        _, trees = analysis.per_layer("query_mix", [op] + jobs, {}, {"Workloads.scala"})
        self.assertEqual([s.layer for s in analysis.walk(trees[0][1])], ["queries", "queries"])

    def test_overhead_compares_like_operations(self):
        ops = [{"name": n, "traced": tr, "t0": 0.0, "t1": ms}
               for n, tr, ms in (("a", True, 1100.0), ("a", False, 1000.0),
                                 ("b", True, 5200.0), ("b", False, 5000.0),
                                 ("c", True, 9000.0))]
        self.assertAlmostEqual(analysis.tracing_overhead(ops), 0.15)

    def test_end_to_end_excludes_set_up_operations(self):
        recs = self.records() + [
            {"kind": "op", "id": 1, "name": "warmup", "t0": 0.0, "t1": 900.0, "traced": False,
             "ok": True, "rows_landed": 50, "final_bytes": 10, "slice_source_bytes": 10},
            {"kind": "setup", "phase": "session", "t0": 0.0, "t1": 4000.0},
            {"kind": "env", "peak_rss_kb": 2048}]
        m, extra = analysis.end_to_end("bulk_offload", recs)
        self.assertAlmostEqual(m["op_p50_s"], 0.95)
        self.assertAlmostEqual(m["offload_rows_per_s"], 100 / 1.9)
        self.assertEqual(m["setup_s"], 4.0)
        self.assertEqual(m["peak_rss_mb"], 2.0)
        self.assertEqual(extra["failed_ratio"]["n"], 3)


if __name__ == "__main__":
    unittest.main()
