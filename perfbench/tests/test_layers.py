import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import layers  # noqa: E402


def span(i, name, parent, start_ms, end_ms, rows=0):
    return dict(run="r", id=i, name=name, parent=parent,
                start_us=start_ms * 1000, end_us=end_ms * 1000,
                pinned_mb=1.5, rows=rows)


def record():
    """One op span holding a verb span; the verb runs one write execution
    whose two jobs overlap (as under `Par.run`) and one truncation job."""
    return dict(
        ops=[dict(id=0, kind="takedown", error=None)],
        spans=[span(1, "operators.delete", 0, 100, 1000),
               span(0, "op.takedown", -1, 100, 1000, rows=4)],
        trace=dict(
            jobs=[dict(id=1, start_ms=200, end_ms=600, exec=7,
                       site="save at X.scala:1", stages=[1]),
                  dict(id=2, start_ms=300, end_ms=700, exec=7,
                       site="save at X.scala:2", stages=[2]),
                  dict(id=3, start_ms=800, end_ms=900, exec=8,
                       site="localCheckpoint at Tables.scala:233",
                       stages=[3])],
            stages=[dict(id=1, tasks=2, shuffle_write=10**6, spill=0),
                    dict(id=2, tasks=3, shuffle_write=0, spill=0),
                    dict(id=3, tasks=1, shuffle_write=0, spill=0)],
            execs=[dict(id=7, start_ms=150, end_ms=750),
                   dict(id=8, start_ms=790, end_ms=910)],
            planned=[dict(id=7, func="command", plan_ms=40,
                          write=True, out_bytes=2 * 10**6, files=3,
                          window_rows=0),
                     dict(id=8, func="localCheckpoint", plan_ms=10,
                          write=False, out_bytes=0, files=0,
                          window_rows=8)],
            triggers=[]))


class Layers(unittest.TestCase):
    def test_totals_use_interval_unions(self):
        t = {k: v for k, (v, _) in layers.totals(record()).items()}
        self.assertEqual(t["spark.jobs"], 3)
        self.assertEqual(t["spark.tasks"], 6)
        self.assertAlmostEqual(t["spark.job_s"], 0.6)  # 200-700, 800-900
        self.assertAlmostEqual(t["spark.job_concurrency"], 0.9 / 0.6)
        # Write execution 150-750 minus its jobs' union 200-700.
        self.assertAlmostEqual(t["model.commit_s"], 0.1)
        self.assertEqual(t["model.writes"], 1)
        self.assertEqual(t["model.files_written"], 3)
        self.assertAlmostEqual(t["spark.plan_s"], 0.05)
        self.assertEqual(t["core.truncate_jobs"], 1)
        self.assertAlmostEqual(t["core.truncate_s"], 0.1)
        # Op span 100-1000 minus executions 150-750 and 790-910.
        self.assertAlmostEqual(t["driver.outside_s"], 0.18)
        self.assertAlmostEqual(t["spark.window_rows_per_result"], 2.0)
        self.assertAlmostEqual(t["operators.delete_s"], 0.9)
        self.assertEqual(t["failed_ratio"], 0.0)

    def test_by_span_attributes_to_innermost_and_never_negative(self):
        rows = layers.by_span(record())
        op, verb = rows["op.takedown"], rows["operators.delete"]
        self.assertAlmostEqual(op["self_s"], 0.0)
        self.assertAlmostEqual(verb["self_s"], 0.9)
        self.assertAlmostEqual(verb["job_s"], 0.6)
        self.assertAlmostEqual(verb["trunc_s"], 0.1)
        self.assertAlmostEqual(verb["commit_s"], 0.1)
        self.assertEqual(op["job_s"], 0.0)
        for r in rows.values():
            for k in ("self_s", "outside_s", "job_s", "commit_s"):
                self.assertGreaterEqual(r[k], 0.0)


if __name__ == "__main__":
    unittest.main()
