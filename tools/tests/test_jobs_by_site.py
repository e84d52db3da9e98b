"""Tests of tools/jobs_by_site.py on a committed event-log excerpt.

Run from the repository root: python3 -m unittest discover -s tools/tests
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import jobs_by_site  # noqa: E402

EXCERPT = os.path.join(HERE, "data", "eventlog_excerpt.json")

# the excerpt's seven jobs: five from a query_mix run's cold pass
# (schema inference per Sql.table call, one checkpoint, one driver-tier
# collect) and one two-stage AQE job
WANT = {
    "parquet at Q.scala:129": (3, 0.222),
    "parquet at Q.scala:127": (1, 0.019),
    "localCheckpoint at Checkpoints.scala:43": (1, 0.213),
    "collect at PageRank.scala:441": (1, 0.008),
    "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768": (1, 0.077),
}


def rounded(table):
    return {s: (n, round(t, 3)) for s, (n, t) in table.items()}


class JobsBySiteTest(unittest.TestCase):

    def test_excerpt_groups_by_site_with_counts_and_job_time(self):
        table = jobs_by_site.jobs_by_site(jobs_by_site.events(EXCERPT))
        self.assertEqual(rounded(table), WANT)
        text = jobs_by_site.render(table)
        self.assertTrue(text.splitlines()[1].endswith("parquet at Q.scala:129"))
        self.assertTrue(text.splitlines()[-1].startswith("     7     0.539"))

    def test_last_stage_names_the_job_and_unfinished_jobs_are_left_out(self):
        evs = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
             "Stage Infos": [{"Stage ID": 4, "Stage Name": "result at B.scala:2"},
                             {"Stage ID": 3, "Stage Name": "map at A.scala:1"}]},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
             "Stage Infos": [{"Stage ID": 5, "Stage Name": "never ends"}]},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        ]
        self.assertEqual(jobs_by_site.jobs_by_site(evs),
                         {"result at B.scala:2": (1, 2.5)})

    def test_rolling_directory_is_read_in_file_index_order(self):
        with open(EXCERPT, encoding="utf-8") as f:
            lines = f.read().splitlines(keepends=True)
        with tempfile.TemporaryDirectory() as d:
            # index 10 sorts before 2 as text: the split must still join
            # in index order, or job ends land before their starts
            with open(os.path.join(d, "events_2_app"), "w") as f:
                f.writelines(lines[:10])
            with open(os.path.join(d, "events_10_app"), "w") as f:
                f.writelines(lines[10:])
            with open(os.path.join(d, "appstatus_app"), "w"):
                pass
            table = jobs_by_site.jobs_by_site(jobs_by_site.events(d))
        self.assertEqual(rounded(table), WANT)

    @unittest.skipUnless(shutil.which("zstd"), "zstd not on PATH")
    def test_zstd_compressed_log(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "events_1_app.zstd")
            subprocess.run(["zstd", "-q", EXCERPT, "-o", out], check=True)
            table = jobs_by_site.jobs_by_site(jobs_by_site.events(d))
        self.assertEqual(rounded(table), WANT)


if __name__ == "__main__":
    unittest.main()
