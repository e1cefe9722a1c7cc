#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_bench.py

They build the benchmark if needed and start a few short JVM runs
(a few minutes in total).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, RUN, *args], cwd=cwd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, p.stderr


def summary(lines):
    return json.loads(lines[-1])


def staged_digest(seed):
    rc, lines, err = bench("--workload", "vector_replay", "--seed", str(seed),
                           "--seconds", "1", "--stage-only")
    assert rc == 0, err
    work = json.loads(lines[-1])["staged"]
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(work)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, work).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    shutil.rmtree(work)
    return h.hexdigest()


class StagedInput(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = staged_digest(7), staged_digest(7), staged_digest(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class FailuresAreReported(unittest.TestCase):
    def assert_failed(self, rc, lines, err, needle):
        self.assertNotEqual(rc, 0, err)
        s = summary(lines)
        self.assertFalse(s["correct"])
        self.assertGreaterEqual(s["failed"], 1)
        self.assertIn(needle, lines[-2])

    def test_corrupted_vector_store(self):
        self.assert_failed(*bench("--workload", "vector_replay", "--seed", "5", "--seconds", "4",
                                  "--inject", "corrupt_store"), "state_check")

    def test_corrupted_merge_store(self):
        self.assert_failed(*bench("--workload", "merge_churn", "--seed", "5", "--seconds", "4",
                                  "--inject", "corrupt_store"), "state_check")

    def test_stream_that_throws(self):
        rc, lines, err = bench("--workload", "merge_churn", "--seed", "5", "--seconds", "4",
                               "--inject", "throwing_stream")
        self.assert_failed(rc, lines, err, "stream: StreamingQueryException")
        s = summary(lines)
        self.assertIsNone(s["metrics"]["throughput_per_s"]["value"])


class WithoutTheEngine(unittest.TestCase):
    def test_exits_nonzero_without_printing_a_result(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "vector_replay",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
