"""Tracer self-test: one extra `count()` in a gate must raise the gate's
`queries.jobs` by exactly the jobs that `count()` runs alone. Over an
aggregate that is two jobs, not one: adaptive execution runs the map
stage and the result stage as separate jobs. Starts a JVM, so it takes
about half a minute. Run from the repository root:

    python3 -m unittest perfbench/tests/test_tracer.py
"""
import json
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class InjectedCount(unittest.TestCase):
    def test_extra_count_adds_exactly_its_own_jobs(self):
        classes = build.build()
        work = os.path.join(build.BUILD, "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        out = os.path.join(work, "spans.json")
        try:
            run.run_jvm(run.java(classes, work, "perfbench.SelfTest", [
                os.path.join(run.HERE, "data"), work, out,
                str(len(os.sched_getaffinity(0)))]), "selftest.log")
            with open(out) as f:
                spans = json.load(f)["spans"]
        finally:
            shutil.rmtree(work, ignore_errors=True)
        jobs = [metrics.layer_counters([s for s in spans if s["op"] == op], "queries")["jobs"]
                for op in (0, 1, 2)]
        self.assertGreater(jobs[0], 0)
        self.assertGreaterEqual(jobs[2], 1)
        self.assertEqual(jobs[1] - jobs[0], jobs[2], f"queries.jobs {jobs}")
        sites = metrics.call_sites([s for s in spans if s["op"] == 1])["queries"]
        self.assertIn("SelfTest.scala", sites)


if __name__ == "__main__":
    unittest.main()
