"""Self-time, driver-gap and attribution arithmetic of spans.py, and the
pass judgement of run.py.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import spans  # noqa: E402


def span(i, parent, name, start, end, layer="", files=0, p=1):
    return {"type": "span", "pass": p, "id": i, "parent": parent,
            "name": name, "layer": layer, "start": start, "end": end,
            "files": files}


def task(start, end, run_ms=None, shuffle=0, p=1):
    return {"type": "task", "pass": p, "start": start, "end": end,
            "run_ms": end - start if run_ms is None else run_ms,
            "shuffle_bytes": shuffle}


class IntervalTest(unittest.TestCase):

    def test_merge_joins_overlaps_and_drops_empty(self):
        self.assertEqual(spans.merge([(5, 7), (0, 2), (1, 3), (4, 4)]),
                         [(0, 3), (5, 7)])

    def test_covered_clips_to_window(self):
        m = spans.merge([(0, 10), (20, 30)])
        self.assertEqual(spans.covered(m, 5, 25), 10)
        self.assertEqual(spans.covered(m, 10, 20), 0)


class DeriveTest(unittest.TestCase):

    def by_name(self, events):
        return {d["name"]: d for d in spans.derive(events)}

    def test_self_time_subtracts_children_once(self):
        # parent 0..1000 ms; children 100..400 and 300..600 overlap
        d = self.by_name([
            span(0, -1, "parent", 0, 1000),
            span(1, 0, "a", 100, 400),
            span(2, 0, "b", 300, 600),
        ])
        self.assertAlmostEqual(d["parent"]["wall_s"], 1.0)
        self.assertAlmostEqual(d["parent"]["self_s"], 0.5)
        self.assertAlmostEqual(d["a"]["self_s"], 0.3)

    def test_driver_gap_is_wall_minus_plan_and_busy(self):
        # 1000 ms span, planning 0..100, tasks busy 200..500 (two tasks
        # overlapping) and 450..700 overlapping them: busy = 200..700
        d = self.by_name([
            span(0, -1, "s", 0, 1000),
            {"type": "plan", "pass": 1, "phase": "analysis",
             "start": 0, "end": 100},
            task(200, 500, run_ms=250, shuffle=2 ** 20),
            task(250, 400),
            task(450, 700),
            {"type": "job", "pass": 1, "t": 150},
            {"type": "job", "pass": 1, "t": 1000},  # at the end: not in it
        ])["s"]
        self.assertAlmostEqual(d["plan_s"], 0.1)
        self.assertAlmostEqual(d["driver_gap_s"], 1.0 - 0.1 - 0.5)
        self.assertEqual(d["jobs"], 1)
        self.assertEqual(d["tasks"], 3)
        self.assertAlmostEqual(d["task_s"], (250 + 150 + 250) / 1000.0)
        self.assertAlmostEqual(d["shuffle_mb"], 1.0)

    def test_plan_overlapping_tasks_counts_once(self):
        d = self.by_name([
            span(0, -1, "s", 0, 1000),
            {"type": "plan", "pass": 1, "phase": "planning",
             "start": 100, "end": 300},
            task(200, 400),
        ])["s"]
        self.assertAlmostEqual(d["driver_gap_s"], 1.0 - 0.3)

    def test_task_launched_before_span_is_not_its_work(self):
        d = self.by_name([span(0, -1, "s", 100, 200), task(50, 150)])["s"]
        self.assertEqual(d["tasks"], 0)
        # but the span did wait on it: that time is not driver gap
        self.assertAlmostEqual(d["driver_gap_s"], 0.1 - 0.05)

    def test_output_files_include_descendants(self):
        d = self.by_name([
            span(0, -1, "pass", 0, 100, files=1),
            span(1, 0, "layer", 0, 50, layer="L", files=2),
            span(2, 1, "stage", 0, 40, files=3),
        ])
        self.assertEqual(d["pass"]["output_files"], 6)
        self.assertEqual(d["layer"]["output_files"], 5)

    def test_passes_are_kept_apart(self):
        ds = spans.derive([span(0, -1, "s", 0, 100, p=1), task(10, 20, p=1),
                           span(0, -1, "s", 0, 100, p=2)])
        self.assertEqual(sorted(d["tasks"] for d in ds), [0, 1])


class LayerTest(unittest.TestCase):

    def test_layer_sums_spans_then_takes_median_over_passes(self):
        events = []
        for p, (a, b) in enumerate([(100, 200), (300, 300), (200, 100)]):
            events += [span(0, -1, "pass", 0, 10000, p=p),
                       span(1, 0, "curation.base", 0, a,
                            layer="curation.base", p=p),
                       span(2, 0, "curation.base", 5000, 5000 + b,
                            layer="curation.base", p=p)]
        m = spans.layer_metrics(spans.derive(events))
        self.assertAlmostEqual(m["curation.base.wall_s"], 0.3)
        self.assertEqual(m["features.jobs"], 0)
        self.assertEqual(len(m), len(spans.LAYERS) * len(spans.COUNTERS))


class JudgeTest(unittest.TestCase):

    def passes(self, *specs):
        return [{"index": i, "kind": "cold" if i == 0 else "warm",
                 "ok": ok, "digest": dg, "jobs": j, "error": "",
                 "wall_s": 1.0 + i, "traced": False}
                for i, (ok, dg, j) in enumerate(specs)]

    def test_other_job_count_is_flagged_not_failed(self):
        kept, att, failed, problems, ref = run.judge(
            self.passes((True, "d", 72), (True, "d", 72), (True, "d", 4),
                        (True, "d", 72)), 3, None)
        self.assertEqual([p["index"] for p in kept], [1, 3])
        self.assertEqual((att, failed, problems), (12, 0, []))
        self.assertEqual(ref, {"digest": "d", "jobs": 72})

    def test_job_count_within_slack_is_kept(self):
        kept, _, _, _, _ = run.judge(
            self.passes((True, "d", 150), (True, "d", 151)), 3,
            {"digest": "d", "jobs": 150})
        self.assertEqual([p["index"] for p in kept], [1])

    def test_cold_pass_job_count_is_not_checked(self):
        kept, _, failed, problems, ref = run.judge(
            self.passes((True, "d", 151), (True, "d", 150)), 2, None)
        self.assertEqual([p["index"] for p in kept], [1])
        self.assertEqual((failed, problems), (0, []))
        self.assertEqual(ref["jobs"], 150)

    def test_digest_mismatch_fails_the_whole_pass(self):
        kept, att, failed, problems, _ = run.judge(
            self.passes((True, "d", 5), (True, "x", 5), (True, "d", 5)),
            2, {"digest": "d", "jobs": 5})
        self.assertEqual([p["index"] for p in kept], [2])
        self.assertEqual((att, failed, len(problems)), (6, 2, 1))

    def test_raised_pass_fails(self):
        _, _, failed, problems, _ = run.judge(
            self.passes((True, "d", 5), (False, "", 2), (True, "d", 5)),
            4, None)
        self.assertEqual((failed, len(problems)), (4, 1))


if __name__ == "__main__":
    unittest.main()
