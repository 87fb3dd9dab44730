"""Smoke test of every workload: one pass at sf0.001 with a tiny ingest,
through the real command (it builds graft on first use, so the first run
takes minutes):

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def bench(*args, cwd):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=1200)


class Smoke(unittest.TestCase):
    def test_every_workload_runs_one_pass(self):
        for w in run.WORKLOADS:
            for trace in ("0", "1"):
                with self.subTest(workload=w, trace=trace):
                    p = bench("--workload", w, "--seed", "1", "--seconds", "0",
                              "--trace", trace, "--smoke", cwd=HERE.parent)
                    self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
                    result = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns(".*", "target", "__pycache__"))
            p = bench("--workload", "reports_ingest", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertIn("graft's sources are not under", p.stderr)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main()
