"""Smoke tests of the benchmark harness (sf0.001, brief ingest, no warm-up).

    python3 -m unittest discover -s perfbench/tests

They check that the printed metric names and units match BENCHMARK.json,
and that a corrupted output is counted as a failure.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, trace=0, corrupt=False, seed=7):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    if corrupt:
        cmd.append("--corrupt")
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert proc.returncode == 0, f"{cmd} exited {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


class MetricNamesTest(unittest.TestCase):
    def check(self, result, declared):
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        want = {m["name"]: m["unit"] for m in declared}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_end_to_end_names_and_units(self):
        spec = bench_spec()
        for w in ("ingest", "mix"):
            with self.subTest(workload=w):
                r = run(w)
                self.check(r, spec["end_to_end"])
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)
                for m in spec["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_per_layer_names_and_units(self):
        r = run("mix", trace=1)
        self.check(r, bench_spec()["per_layer"])
        self.assertEqual(r["failed"], 0)


class CorruptionTest(unittest.TestCase):
    def test_flipped_ingest_byte_raises_fail_share(self):
        r = run("ingest", corrupt=True)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"] / r["attempted"], 0)

    def test_altered_row_raises_fail_share(self):
        r = run("mix", corrupt=True)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"] / r["attempted"], 0)


if __name__ == "__main__":
    unittest.main()
