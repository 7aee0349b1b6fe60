"""Self-tests of the benchmark harness.

    python3 -m unittest perfbench/test_run.py -v

Run from the root of a checkout. The first test builds the harness if
needed and runs one workload (about a minute on a 4-core host).
"""

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


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable] + args, cwd=cwd, capture_output=True,
                          text=True, timeout=1200)


class CorruptedExpectationFails(unittest.TestCase):
    def test_one_corrupted_expected_topk_fails_the_run(self):
        p = run([RUN, "--workload", "build_serve", "--seed", "1", "--seconds", "1",
                 "--trace", "0", "--corrupt-expected"])
        self.assertNotEqual(p.returncode, 0, p.stdout + p.stderr)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)
        self.assertGreater(result["attempted"], 1)
        failed = [l for l in lines if "FAILED:" in l]
        self.assertEqual(len(failed), 1, p.stdout)
        self.assertIn("top-k == searchOracle", failed[0])


class MissingEngineFails(unittest.TestCase):
    def test_no_result_without_engine_sources(self):
        work = os.path.join(ROOT, ".perfbench_work")
        os.makedirs(work, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=work) as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = run(["perfbench/run.py", "--workload", "nrt", "--seed", "1",
                     "--seconds", "1", "--trace", "0"], cwd=d)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
