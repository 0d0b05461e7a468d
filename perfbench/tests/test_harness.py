"""Harness self-tests.

    python3 perfbench/tests/test_harness.py

Runs the Scala self-test main (percentile rule, span self time, seeded
determinism of corpus and queries), then a tiny-size smoke run of every
workload, which must pass all of its correctness gates.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


class HarnessTest(unittest.TestCase):

    def test_selftest_main(self):
        cp = run.build()
        work = os.path.join(run.BUILD, "work", f"selftest-{os.getpid()}")
        try:
            code, log = run.run_jvm(run.java_cmd(cp, "perfbench.SelfTest", [work], work), work, 300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(l for l in log.splitlines() if l.startswith(("ok", "FAIL", "selftest"))))
        self.assertEqual(code, 0, "self-test main failed")
        self.assertIn("selftest: all passed", log)

    def smoke(self, workload):
        r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                            "--seed", "3", "--seconds", "2", "--trace", "1", "--size", "tiny"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        last = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"], r.stdout[-3000:])
        self.assertEqual(last["failed"], 0)
        self.assertGreater(last["attempted"], 0)

    def test_smoke_build_bulk(self):
        self.smoke("build_bulk")

    def test_smoke_query_serve(self):
        self.smoke("query_serve")

    def test_smoke_nrt_mixed(self):
        self.smoke("nrt_mixed")


if __name__ == "__main__":
    unittest.main()
