"""Smoke runs of the harness JVM on tiny inputs, plus the listener self-test.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'

Each run starts a JVM and a Spark session, so each takes tens of seconds;
the first one also builds the harness.
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")
ROOT = os.path.dirname(os.path.dirname(HERE))


def run(*args):
    p = subprocess.run([sys.executable, RUN, "--seed", "3", *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def test_listener_attributes_jobs_to_their_group(self):
        line = run("--workload", "selftest", "--seconds", "1", "--trace", "1", "--size", "tiny")
        self.assertTrue(line["correct"], line)

    def test_tiny_runs(self):
        for wl in ("serve-read", "batch"):
            for trace in ("0", "1"):
                with self.subTest(workload=wl, trace=trace):
                    line = run("--workload", wl, "--seconds", "2", "--trace", trace, "--size", "tiny")
                    self.assertTrue(line["correct"], line)
                    self.assertGreater(line["attempted"], 0)
                    self.assertEqual(line["failed"], 0)


if __name__ == "__main__":
    unittest.main()
