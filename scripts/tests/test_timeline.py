import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import timeline  # noqa: E402

T0 = 1_000_000  # ms


def record():
    """Two `operators.delete` spans; the second holds two executions (one
    a two-job write) and one job outside any execution, and one execution
    starts just after it ends."""
    def span(i, lo, hi):
        return dict(id=i, parent=-1, name="operators.delete",
                    start_us=(T0 + lo) * 1000, end_us=(T0 + hi) * 1000)

    def job(i, ex, lo, hi, stages, site="collect at X.scala:1"):
        return dict(id=i, exec=ex, start_ms=T0 + lo, end_ms=T0 + hi,
                    stages=stages, site=site)
    return {
        "spans": [span(1, 5000, 6000), span(0, 0, 2000)],
        "trace": {
            "execs": [dict(id=7, start_ms=T0 + 5100, end_ms=T0 + 5400),
                      dict(id=8, start_ms=T0 + 5200, end_ms=T0 + 5900),
                      dict(id=9, start_ms=T0 + 6100, end_ms=T0 + 6200)],
            "planned": [dict(id=7, plan_ms=12, func="collect", write=False),
                        dict(id=8, plan_ms=3, func="command", write=True),
                        dict(id=9, plan_ms=1, func="count", write=False)],
            "jobs": [job(0, 8, 5300, 5500, [2, 3]), job(1, 7, 5150, 5350, [1]),
                     job(2, 8, 5600, 5800, [4]),
                     job(3, -1, 5450, 5460, [5], "localCheckpoint at Y:2"),
                     job(4, 9, 6100, 6200, [6])],
            "stages": [dict(id=s, tasks=t) for s, t in
                       [(1, 32), (2, 1), (3, 4), (4, 2), (5, 3), (6, 9)]],
        },
    }


class Window(unittest.TestCase):
    def test_kth_span_in_start_order(self):
        self.assertEqual(timeline.span_window(record(), "operators.delete"),
                         (T0, T0 + 2000))
        self.assertEqual(
            timeline.span_window(record(), "operators.delete", 2),
            (T0 + 5000, T0 + 6000))

    def test_missing_instance_is_an_error(self):
        with self.assertRaises(ValueError):
            timeline.span_window(record(), "operators.delete", 3)
        with self.assertRaises(ValueError):
            timeline.span_window(record(), "op.takedown")


class Timeline(unittest.TestCase):
    def test_executions_and_orphan_jobs_inside_the_span(self):
        execs, orphans = timeline.timeline(record(), T0 + 5000, T0 + 6000)
        self.assertEqual([e["id"] for e in execs], [7, 8])
        first, write = execs
        self.assertEqual((first["start"], first["end"]), (0.1, 0.4))
        self.assertEqual((first["plan_ms"], first["jobs"], first["tasks"],
                          first["func"], first["write"]),
                         (12, 1, [32], "collect", False))
        # Jobs in start order, stages in job order.
        self.assertEqual((write["jobs"], write["tasks"], write["write"]),
                         (2, [1, 4, 2], True))
        [o] = orphans
        self.assertEqual((o["site"], o["tasks"], o["start"]),
                         ("localCheckpoint at Y:2", [3], 0.45))

    def test_render_summarises_counts_and_widest_stage(self):
        rec = record()
        lo, hi = timeline.span_window(rec, "operators.delete", 2)
        text = timeline.render("operators.delete", 2, lo, hi,
                               *timeline.timeline(rec, lo, hi))
        self.assertTrue(text.startswith("operators.delete #2: 1.00 s"))
        self.assertIn("localCheckpoint at Y:2", text)
        self.assertTrue(text.endswith(
            "executions 2  jobs 4  stages 5  tasks 42  max tasks/stage 32"))


if __name__ == "__main__":
    unittest.main()
