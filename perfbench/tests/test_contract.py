"""Checks the benchmark command against BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests

Run from the checkout root. Each workload runs once untraced and once
traced with a 1-second budget (set-up still runs in full, so this takes a
few minutes), and the command is run once from a directory holding only
BENCHMARK.json and the benchmark's files, where it must fail cleanly.
"""
import json
import shutil
import subprocess
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd, workload, trace, seconds="1"):
    return subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", "3", "--seconds", seconds,
                           "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)


class ContractTest(unittest.TestCase):
    def check_output(self, workload, trace, expected):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, f"{workload} trace={trace} exited {p.returncode}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in expected})
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_prints_every_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self.check_output(w["name"], 0, SPEC["end_to_end"])
            with self.subTest(workload=w["name"], trace=1):
                self.check_output(w["name"], 1, SPEC["per_layer"])

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            for path in SPEC["paths"]:
                tracked = subprocess.run(["git", "ls-files", path], cwd=ROOT, text=True,
                                         stdout=subprocess.PIPE, check=True).stdout.split()
                for f in tracked or [str(p.relative_to(ROOT)) for p in (ROOT / path).rglob("*")
                                     if p.is_file() and "target" not in p.parts]:
                    (Path(d) / f).parent.mkdir(parents=True, exist_ok=True)
                    shutil.copy(ROOT / f, Path(d) / f)
            p = run(d, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
