"""Tests for tools/jobshape.py. Run: python3 -m unittest discover -s tools"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import jobshape  # noqa: E402


def run_file(metrics, noise="merge.p50_s 1.0\n"):
    """A perfbench log: metric lines, then the JSON result line."""
    body = {"correct": True, "failed": 0,
            "metrics": {k: {"value": v, "unit": "count"}
                        for k, v in metrics.items()}}
    f = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False)
    f.write(noise + json.dumps(body) + "\n")
    f.close()
    return f.name


class JobShapeTest(unittest.TestCase):
    def main(self, parent, change, *more_parents):
        paths = ([run_file(parent)] + [run_file(m) for m in more_parents]
                 + [run_file(change)])
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                code = jobshape.main(paths)
        finally:
            for p in paths:
                os.unlink(p)
        return code, out.getvalue()

    def test_equal_shape_passes_and_prints_only_job_metrics(self):
        m = {"merge.jobs": 6, "spark.jobs": 45, "spark.tasks": 74,
             "sql.jobs_per_query": 2, "merge.p50_s": 1.2}
        code, out = self.main(m, m)
        self.assertEqual(code, 0)
        for k in ("merge.jobs", "spark.jobs", "spark.tasks",
                  "sql.jobs_per_query"):
            self.assertIn(k, out)
        self.assertNotIn("merge.p50_s", out)

    def test_a_rise_fails_and_is_named(self):
        code, out = self.main({"delete.jobs": 10, "spark.tasks": 74},
                              {"delete.jobs": 11, "spark.tasks": 70})
        self.assertEqual(code, 1)
        self.assertIn("ROSE", out)
        self.assertIn("shape rose: delete.jobs", out)

    def test_a_skip_shape_rise_fails_and_equal_skip_shape_passes(self):
        m = {"sql.dirs_scanned_frac": 0.12, "merge.dirs_rewritten_frac": 0.375,
             "delete.dvs_per_op": 1.0, "sql.plan_s": 0.05}
        code, out = self.main(m, dict(m, **{"sql.plan_s": 0.09}))
        self.assertEqual(code, 0)
        self.assertIn("delete.dvs_per_op", out)
        self.assertNotIn("sql.plan_s", out)
        code, out = self.main(m, dict(m, **{"sql.dirs_scanned_frac": 0.2}))
        self.assertEqual(code, 1)
        self.assertIn("shape rose: sql.dirs_scanned_frac", out)

    def test_commit_metrics_are_printed_but_not_gated(self):
        m = {"commit.gens": 3, "commit.meta_bytes_per_gen": 1413.3,
             "merge.jobs": 6}
        code, out = self.main(m, dict(m, **{"commit.meta_bytes_per_gen": 1421.2,
                                            "commit.gens": 4}))
        self.assertEqual(code, 0)
        self.assertIn("commit.meta_bytes_per_gen", out)
        self.assertIn("not gated", out)
        self.assertNotIn("shape rose", out)

    def test_a_fall_passes(self):
        code, _ = self.main({"optimize.jobs": 8}, {"optimize.jobs": 6})
        self.assertEqual(code, 0)

    def test_several_parents_flag_only_a_rise_above_their_maximum(self):
        p1 = {"update.jobs": 12, "spark.tasks": 79.5,
              "merge.dirs_rewritten_frac": 0.4167}
        p2 = {"update.jobs": 13, "spark.tasks": 75,
              "merge.dirs_rewritten_frac": 0.4375}
        # within the parents' spread: passes, though it rose from p1
        code, out = self.main(p1, dict(p1, **{"update.jobs": 13}), p2)
        self.assertEqual(code, 0)
        self.assertIn("max of 2", out)
        self.assertNotIn("shape rose", out)
        # above every parent: fails and is named
        code, out = self.main(p1, dict(p2, **{"spark.tasks": 80}), p2)
        self.assertEqual(code, 1)
        self.assertIn("shape rose: spark.tasks", out)

    def test_reads_the_last_json_line(self):
        p = run_file({"spark.jobs": 3})
        with open(p, "a") as f:
            f.write(json.dumps({"metrics": {"spark.jobs":
                                            {"value": 5, "unit": "count"}}}))
        try:
            self.assertEqual(jobshape.last_json(p)["spark.jobs"]["value"], 5)
        finally:
            os.unlink(p)


if __name__ == "__main__":
    unittest.main()
