"""Unit tests of the harness's own logic (no build, no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import run  # noqa: E402


def site(*frames):
    return "\n".join(frames)


class ModuleOfTest(unittest.TestCase):

    def test_innermost_graft_module_wins(self):
        s = site("org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:1)",
                 "graft.runtime.StateRotator.rotate(Checkpoints.scala:310)",
                 "graft.algos.PageRank$.runStatic(PageRank.scala:184)",
                 "graft.Pipeline$.run(Pipeline.scala:140)",
                 "perfbench.CrawlPipeline.iterate(Workloads.scala:219)")
        self.assertEqual(harness.module_of(s), "runtime")

    def test_every_module_package_maps_to_itself(self):
        for m in harness.MODULES:
            self.assertEqual(harness.module_of(site(f"graft.{m}.X$.f(X.scala:1)")), m)

    def test_class_loader_prefix_is_ignored(self):
        s = site("org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
                 "app//graft.sources.ParquetTableIO$.write(TableIO.scala:80)")
        self.assertEqual(harness.module_of(s), "sources")

    def test_other_graft_packages_fall_through_to_the_next_frame(self):
        s = site("graft.functions.Native$.eval(Native.scala:3)",
                 "graft.textops.Dedup$.minhashLshPairs(Dedup.scala:150)")
        self.assertEqual(harness.module_of(s), "textops")

    def test_top_level_entry_points_are_app(self):
        s = site("org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
                 "graft.Pipeline$.run(Pipeline.scala:100)",
                 "perfbench.CrawlPipeline.iterate(Workloads.scala:219)")
        self.assertEqual(harness.module_of(s), "app")

    def test_harness_and_engine_only_jobs(self):
        self.assertEqual(harness.module_of(site(
            "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
            "perfbench.Workloads$.digest(Workloads.scala:77)")), "harness")
        self.assertEqual(harness.module_of(site(
            "org.apache.spark.sql.execution.SQLExecution$.x(SQLExecution.scala:329)",
            "java.base/java.lang.Thread.run(Thread.java:840)")), "spark")
        self.assertEqual(harness.module_of(""), "spark")

    def test_declared_module_names_harness_only_jobs(self):
        harness_only = site("org.apache.spark.sql.Dataset.count(Dataset.scala:1)",
                            "perfbench.DocDedup$Run.step(Workloads.scala:300)")
        self.assertEqual(harness.module_of(harness_only, "vec"), "vec")
        self.assertEqual(harness.module_of(harness_only, "nonsense"), "harness")
        # a graft frame still wins over the declaration
        self.assertEqual(harness.module_of(site(
            "graft.runtime.IterationHygiene$.truncate(Checkpoints.scala:363)",
            "perfbench.DocDedup$Run.step(Workloads.scala:300)"), "textops"), "runtime")

    def test_look_alike_names_do_not_match(self):
        self.assertEqual(harness.module_of(site("org.graftx.algos.Y.f(Y.java:1)")), "spark")


class SummaryTest(unittest.TestCase):

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 11))
        self.assertEqual(harness.percentile(xs, 50), 5)
        self.assertEqual(harness.percentile(xs, 90), 9)
        self.assertEqual(harness.percentile(xs, 100), 10)
        self.assertEqual(harness.percentile([3.0], 90), 3.0)
        self.assertEqual(harness.percentile([5, 1, 4, 2, 3], 90), 5)

    def test_summarize_is_median_and_p90(self):
        self.assertEqual(harness.summarize([3, 1, 2]), (2, 3))
        self.assertEqual(harness.summarize([4, 1, 2, 3]), (2.5, 4))
        self.assertEqual(harness.summarize([float(x) for x in range(20, 0, -1)]), (10.5, 18.0))
        with self.assertRaises(ValueError):
            harness.summarize([])

    def test_busy_union_clips_and_merges(self):
        self.assertEqual(harness.busy_union([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(harness.busy_union([(-5, 5), (95, 200)], 0, 100), 10)
        self.assertEqual(harness.busy_union([(0, 50), (10, 20)], 0, 100), 50)
        self.assertEqual(harness.busy_union([(200, 300)], 0, 100), 0)


def iteration(ok=True, digest="d1", problems=(), traced=False, wall=2.0):
    return {"ok": ok, "digest": digest, "problems": list(problems), "traced": traced,
            "wall_s": wall, "supersteps": 10, "edges": 100}


def raw_run(iterations, **extra):
    raw = {"cpus": 4, "session_s": 1.0, "input_s": [3.0, 1.0, 2.0], "warmup_s": 4.0,
           "jit_setup_s": 9.0, "peak_heap_mb": 512.0, "prep_s": 0.5, "iterations": iterations}
    raw.update(extra)
    return raw


class ErrorRateTest(unittest.TestCase):

    def test_clean_run(self):
        self.assertEqual(harness.account(raw_run([iteration(), iteration()]))[:2], (2, 0))

    def test_failed_check_counts(self):
        a, f, problems = harness.account(raw_run(
            [iteration(), iteration(ok=False, problems=["rank sum 9 != |V| = 10"])]))
        self.assertEqual((a, f), (2, 1))
        self.assertIn("rank sum", problems[0])

    def test_thrown_iteration_counts(self):
        self.assertEqual(harness.account(raw_run(
            [iteration(ok=False, digest=None, problems=["java.lang.OOM"])]))[:2], (1, 1))

    def test_digest_mismatch_counts(self):
        a, f, problems = harness.account(raw_run([iteration(), iteration(digest="d2")]))
        self.assertEqual((a, f), (2, 1))
        self.assertIn("digest", problems[0])

    def test_warm_up_checks_count(self):
        a, f, problems = harness.account(raw_run(
            [iteration()], warmup=[iteration(ok=False, problems=["3 edges cross"])]))
        self.assertEqual((a, f), (2, 1))
        self.assertEqual(problems, ["warm-up 1: 3 edges cross"])

    def test_timed_iterations_must_reproduce_the_warm_up_digest(self):
        raw = raw_run([iteration(digest="d2")], warmup=[iteration(digest="d1")])
        self.assertEqual(harness.digest_of(raw), "d1")
        self.assertEqual(harness.account(raw)[:2], (2, 1))

    def test_crash_outside_iterations_is_never_dropped(self):
        self.assertEqual(harness.account(raw_run([iteration()], fatal="boom"))[:2], (2, 1))
        self.assertEqual(harness.account({"fatal": "no session"})[:2], (1, 1))
        self.assertEqual(harness.account(raw_run([]))[:2], (1, 1))

    def test_digest_of_an_earlier_run_with_the_seed_must_match(self):
        raw = raw_run([iteration(digest="d1")])
        self.assertEqual(harness.digest_of(raw), "d1")
        result, problems = harness.report(raw, False, earlier_digest="d0")
        self.assertEqual((result["correct"], result["attempted"], result["failed"]),
                         (False, 1, 1))
        self.assertIn("earlier run", problems[0])
        self.assertTrue(harness.report(raw, False, earlier_digest="d1")[0]["correct"])

    def test_report_is_not_correct_with_a_failure(self):
        result, _ = harness.report(raw_run([iteration(), iteration(digest="d2")]), False)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (2, 1))

    def test_report_of_a_clean_run_has_every_metric(self):
        result, _ = harness.report(raw_run([iteration(wall=2.0), iteration(wall=4.0)]), False)
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), {n for n, _ in harness.END_TO_END})
        m = result["metrics"]
        self.assertEqual(m["wall_s"]["value"], 3.0)
        self.assertEqual(m["setup_s"]["value"], 1.0 + 2.0 + 4.0)
        self.assertEqual(m["prep_s"]["value"], 0.5)

    def test_report_without_the_prep_builds_is_not_correct(self):
        raw = raw_run([iteration()])
        del raw["prep_s"]
        result, _ = harness.report(raw, False)
        self.assertFalse(result["correct"])
        self.assertNotIn("prep_s", result["metrics"])


class RunResultTest(unittest.TestCase):

    def test_a_run_whose_jvm_died_is_one_failed_attempt(self):
        self.assertEqual((run.DIED["correct"], run.DIED["attempted"], run.DIED["failed"]),
                         (False, 1, 1))

    def test_only_a_correct_run_records_its_digest(self):
        with tempfile.TemporaryDirectory() as d:
            ledger = os.path.join(d, "digests.json")
            bad = raw_run([iteration(), iteration(ok=False, problems=["3 edges cross"])],
                          warmup=[iteration(digest="d0")])
            self.assertFalse(run.checked_report(bad, False, ledger, "w/1")[0]["correct"])
            self.assertIsNone(run.recorded_digest(ledger, "w/1"))
            good = raw_run([iteration(digest="d1")])
            self.assertTrue(run.checked_report(good, False, ledger, "w/1")[0]["correct"])
            self.assertEqual(run.recorded_digest(ledger, "w/1"), "d1")
            other = raw_run([iteration(digest="d2")])
            result, problems = run.checked_report(other, False, ledger, "w/1")
            self.assertFalse(result["correct"])
            self.assertIn("earlier run", problems[0])
            self.assertTrue(run.checked_report(other, False, ledger, "w/2")[0]["correct"])


if __name__ == "__main__":
    unittest.main()
