#!/usr/bin/env python3
"""The benchmark's own test: a failing op and a wrong output are counted.

    python3 perfbench/test_failures.py

Runs one short corpus_ops run with --inject-faults, which adds an op
that throws to every pass and replaces one expected digest with a wrong
one. The run must exit 1, report correct=false, count both kinds of
failure, and keep the failed ops out of the latency samples.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class InjectedFaults(unittest.TestCase):
    def test_failures_are_counted_and_fail_the_run(self):
        seed = 90210
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "corpus_ops",
                            "--seed", str(seed), "--seconds", "1", "--trace", "0", "--inject-faults"],
                           cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(r.returncode, 1, r.stdout[-2000:] + r.stderr[-2000:])
        result = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        with open(os.path.join(ROOT, ".bench_build", "reports",
                               f"corpus_ops-seed{seed}-trace0.json")) as f:
            report = json.load(f)
        failures = report["failures"]
        thrown = [f for f in failures if f["op"] == "injected_failure"]
        wrong = [f for f in failures if any(p.startswith("digest ") for p in f["problems"])]
        self.assertEqual(len(thrown), report["passes"])  # once per pass
        self.assertEqual(len(wrong), 1)
        self.assertEqual(result["failed"], len(thrown) + len(wrong))
        self.assertEqual(result["attempted"], report["attempted"])
        self.assertAlmostEqual(report["end_to_end"]["op_fail_ratio"],
                               result["failed"] / result["attempted"])
        # neither failed op left a latency sample
        self.assertNotIn("injected_failure", report["ops"])
        self.assertNotIn(wrong[0]["op"], report["ops"])


if __name__ == "__main__":
    unittest.main()
