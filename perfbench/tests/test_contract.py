"""Output discipline of the benchmark command.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests

The first test runs one short invocation (it builds the engine on first
use, which can take several minutes) and checks that the result line is
the last line of standard output and names every end-to-end metric. The
second checks that a directory holding only the benchmark's own files
fails cleanly, without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def invoke(cwd, workload="daily_etl", trace=0):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=1200)


class ResultLineTest(unittest.TestCase):
    def test_last_line_is_the_result_with_every_end_to_end_metric(self):
        r = invoke(ROOT)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        last = r.stdout.rstrip("\n").splitlines()[-1]
        result = json.loads(last)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        spec = bench()["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec})
        for m in spec:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertGreater(got["value"], 0, m["name"])

    def test_benchmark_files_alone_fail_without_a_result(self):
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for path in bench()["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                                ignore=shutil.ignore_patterns("__pycache__", "target"))
            r = invoke(d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
