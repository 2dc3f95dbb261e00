"""Smoke tests of the benchmark itself, at the smallest input size.

    python3 -m unittest discover -s perfbench/tests -v

Each workload runs once untraced and once traced: every metric named in
BENCHMARK.json must print with its unit, and the run must be correct. A
run with a corrupted expected answer must fail: `correct` false and a
non-zero exit. Without the program's sources the command must fail fast
and print no result.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, corrupt=False, cwd=ROOT, script=HERE / "run.py"):
    cmd = [sys.executable, str(script), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    if corrupt:
        cmd.append("--corrupt-expected")
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    return r.returncode, (json.loads(lines[-1]) if lines else None), r


class Smoke(unittest.TestCase):
    def check_metrics(self, res, key):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in BENCH[key]}
        self.assertEqual(set(res["metrics"]), set(want))
        for name, m in res["metrics"].items():
            self.assertEqual(m["unit"], want[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_workloads(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                rc, res, r = run(w["name"])
                self.assertEqual(rc, 0, r.stderr[-2000:])
                self.assertTrue(res["correct"])
                self.check_metrics(res, "end_to_end")
                self.assertTrue(all(m["value"] > 0 for m in res["metrics"].values()), res)
                rc, res, r = run(w["name"], trace=1)
                self.assertEqual(rc, 0, r.stderr[-2000:])
                self.check_metrics(res, "per_layer")

    def test_corrupted_expected_answer_is_caught(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"]):
                rc, res, _ = run(w["name"], corrupt=True)
                self.assertNotEqual(rc, 0)
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)

    def test_fails_without_program_sources(self):
        bare = ROOT / ".bench_work" / "bare-checkout"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
            rc, res, _ = run(BENCH["workloads"][0]["name"], cwd=bare, script=bare / HERE.name / "run.py")
            self.assertNotEqual(rc, 0)
            self.assertIsNone(res)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
