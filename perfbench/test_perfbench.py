"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

Runs from the repository root and takes a few minutes: it runs the
JVM self-test (generator determinism; every output check rejects a
corrupted output) and one short untraced and one short traced run, and
checks that the one command prints every declared metric by name with
its unit.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def run(*args):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.returncode, r.stdout.rstrip("\n").split("\n")


class BenchmarkContract(unittest.TestCase):

    def test_self_test(self):
        code, lines = run("--self-test")
        self.assertEqual(code, 0, "\n".join(lines))
        self.assertEqual(json.loads(lines[-1])["failed"], 0)

    def check_run(self, trace, declared):
        code, lines = run("--workload", "strava_backfill", "--seed", "5", "--seconds", "1", "--trace", str(trace))
        self.assertEqual(code, 0)
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        printed = {line.split()[0]: line.split()[2] for line in lines[:-1] if line.startswith("  ")}
        for m in declared:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
            self.assertEqual(printed[m["name"]], m["unit"])
        self.assertTrue(any(line.startswith("machine {") for line in lines))

    def test_end_to_end_metrics_printed_with_units(self):
        self.check_run(0, SPEC["end_to_end"])

    def test_per_layer_metrics_printed_with_units(self):
        self.check_run(1, SPEC["per_layer"])

    def test_unknown_workload_is_refused(self):
        code, _ = run("--workload", "nope", "--seed", "1", "--seconds", "1", "--trace", "0")
        self.assertNotEqual(code, 0)


if __name__ == "__main__":
    unittest.main()
