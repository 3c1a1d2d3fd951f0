"""Arithmetic and attribution rules of the traced pass.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import trace  # noqa: E402


class SelfTime(unittest.TestCase):
    def test_fixed_tree(self):
        # pass [0,100] > read [0,10], flatten [10,90] > stages [20,40], [30,60], [70,80]
        nodes = {
            "pass": {"t0": 0, "t1": 100, "parent": None},
            "read": {"t0": 0, "t1": 10, "parent": "pass"},
            "flatten": {"t0": 10, "t1": 90, "parent": "pass"},
            "s1": {"t0": 20, "t1": 40, "parent": "flatten"},
            "s2": {"t0": 30, "t1": 60, "parent": "flatten"},
            "s3": {"t0": 70, "t1": 80, "parent": "flatten"},
        }
        st = trace.self_times(nodes)
        self.assertEqual(st["pass"], 100 - 90)     # children cover [0,90]
        self.assertEqual(st["read"], 10)
        self.assertEqual(st["flatten"], 80 - 50)   # union [20,60] + [70,80]
        self.assertEqual(st["s1"], 20)
        # self times of a tree sum to the root's duration
        self.assertEqual(sum(st.values()) - st["s2"] - st["s1"] - st["s3"]
                         + trace.union_length([(20, 40), (30, 60), (70, 80)]), 100)

    def test_child_outside_parent_is_clipped(self):
        nodes = {"a": {"t0": 0, "t1": 10, "parent": None},
                 "b": {"t0": 5, "t1": 20, "parent": "a"}}
        self.assertEqual(trace.self_times(nodes)["a"], 5)


class Partition(unittest.TestCase):
    def test_overlap_is_shared_and_idle_is_the_rest(self):
        share, idle = trace.partition(0, 10000, [
            (1000, 3000, "x"), (2000, 4000, "y"), (6000, 7000, "x")])
        self.assertAlmostEqual(share["x"], 1.0 + 0.5 + 1.0)
        self.assertAlmostEqual(share["y"], 0.5 + 1.0)
        self.assertAlmostEqual(idle, 10.0 - 4.0)
        self.assertAlmostEqual(sum(share.values()) + idle, 10.0)

    def test_intervals_are_clipped_to_the_pass(self):
        share, idle = trace.partition(1000, 2000, [(0, 1500, "x"), (1900, 5000, "y")])
        self.assertAlmostEqual(share["x"], 0.5)
        self.assertAlmostEqual(share["y"], 0.1)
        self.assertAlmostEqual(idle, 0.4)


PIPELINE = """object Pipeline {
  def run() = {
    def mat(name: String)(d: DataFrame): DataFrame = {
      val m = d.localCheckpoint(true)
      m
    }
    if (upTo >= 2) cfg.rules.foreach { r =>
      df = mat("quality")(TextFilters(df, cfg.textCol, r))
    }
    if (upTo >= 3) cfg.fingerprintTable.foreach { t =>
      df = mat("exact_dedup")(
        Dedup.dedupIncrementBucketed(t, df, cfg.textCol, cfg.idCol))
    }
    cfg.mix.foreach { m =>
      val slim = df.localCheckpoint(false)
    }
  }
}
"""


class Attribution(unittest.TestCase):
    def test_frames_parse_innermost_first(self):
        site = ("localCheckpoint at Pipeline.scala:4\n"
                "graft.ops.Pipeline$.mat$1(Pipeline.scala:4)\n"
                "graft.ops.Pipeline$.$anonfun$run$2(Pipeline.scala:8)\n"
                "java.base/java.lang.Thread.run(Thread.java:840)")
        fr = trace.frames(site)
        self.assertEqual(fr[0], ("graft.ops.Pipeline$", "mat$1", "Pipeline.scala", 4))
        self.assertEqual(fr[-1], ("java.lang.Thread", "run", "Thread.java", 840))
        self.assertEqual(len(trace.graft_frames(site)), 2)

    def test_pipeline_stage_from_source_line(self):
        st = trace.PipelineStages(PIPELINE)
        self.assertEqual(st.stage(8), "quality")
        self.assertEqual(st.stage(12), "exact_dedup")  # continuation line
        self.assertEqual(st.stage(15), "mix")
        fr = [("graft.ops.Pipeline$", "mat$1", "Pipeline.scala", 4),
              ("graft.ops.Pipeline$", "$anonfun$run$3", "Pipeline.scala", 12)]
        self.assertEqual(trace.bucket_from_frames(fr, "x", st), "ops.exact_dedup_s")

    def test_module_rules(self):
        def b(cls, meth="m", name="collect at X.scala:1"):
            return trace.bucket_from_frames(
                [("graft.util.Checkpoints$", "release", "C.scala", 1),
                 (cls, meth, "F.scala", 1),
                 ("graft.api.Flatten$", "flattenToDir", "Flatten.scala", 1)], name, None)
        self.assertEqual(b("graft.meta.Metadata$"), "meta.analyze_s")
        self.assertEqual(b("graft.sinks.Sinks$", "csvSingleFile"), "sinks.csv_s")
        self.assertEqual(b("graft.sinks.Sinks$", "parquet"), "sinks.parquet_s")
        self.assertEqual(b("graft.sinks.SqliteSink$"), "sinks.sqlite_s")
        self.assertEqual(b("graft.sinks.XlsxSink$"), "sinks.xlsx_s")
        self.assertEqual(b("graft.plan.FlattenPlanner$", name="zipWithIndex at P.scala:1"),
                         "plan.link_index_s")
        self.assertIsNone(b("graft.plan.FlattenPlanner$"))
        self.assertEqual(b("graft.streaming.StreamingFlatten$"), "streaming.jobs_s")

    def test_job_without_frames_uses_its_sql_execution(self):
        ev = {"execs": [{"exec": "7", "root": "7", "site":
                         "collect at Metadata.scala:33\n"
                         "graft.meta.Metadata$.analyze(Metadata.scala:33)"}],
              "jobs": [{"job": "3", "t": 5, "exec": "7", "stages": ["9"],
                        "name": "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
                        "site": "java.base/java.lang.Thread.run(Thread.java:840)"},
                       {"job": "4", "t": 6, "exec": "", "stages": ["10"],
                        "name": "parquet at Harness.scala:1",
                        "site": "perfbench.X$.y(Harness.scala:1)"},
                       {"job": "5", "t": 50, "exec": "", "stages": ["11"],
                        "name": "count at Harness.scala:2", "site": ""}]}
        spans = [{"id": 1, "parent": 0, "name": "pass", "bucket": "", "t0": 0, "t1": 20},
                 {"id": 2, "parent": 1, "name": "write", "bucket": "sinks.parquet_s",
                  "t0": 6, "t1": 8}]
        jb = trace.job_buckets(ev, spans, None)
        self.assertEqual(jb, {3: "meta.analyze_s", 4: "sinks.parquet_s", 5: "unattributed"})


if __name__ == "__main__":
    unittest.main()
