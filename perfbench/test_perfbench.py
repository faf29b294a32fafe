#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py        # from the root of a checkout

Runs every workload at a tiny input size and checks that each run passes
its output checks and prints every metric BENCHMARK.json names, with its
unit; that each deliberate corruption of an output (a shifted bar id, a
flipped label, a dropped dedup survivor, ...) fails a check; that the
benchmark refuses to run without the engine sources; and the compare
tool's statistics.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import compare  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
# scratch space inside the checkout (ignored by git)
SCRATCH = os.path.join(ROOT, "perfbench", ".work")
# smallest sizes the generators allow
TINY = {"series_chain": "0.25", "sym_stream": "0.05", "corpus_dedup": "0.25"}


def scratch():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=SCRATCH)


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + list(args),
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def result(p):
    return json.loads(p.stdout.strip().splitlines()[-1])


class Metrics(unittest.TestCase):
    def check(self, workload, trace, names):
        p = run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace,
                "--scale", TINY[workload])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = result(p)
        self.assertTrue(r["correct"], p.stdout)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        for m in names:
            self.assertIn(m["name"], r["metrics"], f"{workload}: {m['name']} missing")
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"], m["name"])
        return r

    def test_end_to_end_metrics(self):
        for w in TINY:
            with self.subTest(workload=w):
                r = self.check(w, "0", BENCH["end_to_end"])
                for m in BENCH["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])

    def test_per_layer_metrics(self):
        for w in TINY:
            with self.subTest(workload=w):
                r = self.check(w, "1", BENCH["per_layer"])
                # traced outputs matched the verified digests (failed == 0
                # above), and named spans cover the traced wall time
                self.assertGreaterEqual(r["metrics"]["trace.span_coverage"]["value"], 0.9)


class Corruption(unittest.TestCase):
    def test_each_corruption_fails_a_check(self):
        for w in TINY:
            with self.subTest(workload=w):
                p = run("--workload", w, "--seed", "7", "--seconds", "1", "--scale", TINY[w],
                        "--selftest")
                self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
                r = result(p)
                self.assertTrue(r["clean"])
                self.assertTrue(r["corruptions_caught"])
                self.assertTrue(all(r["corruptions_caught"].values()), p.stdout)


class Refusal(unittest.TestCase):
    def test_no_engine_sources(self):
        with scratch() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench", "src"), os.path.join(d, "perfbench", "src"))
            shutil.copy(os.path.join(ROOT, "perfbench", "run.py"), os.path.join(d, "perfbench"))
            p = run("--workload", "series_chain", "--seed", "1", "--seconds", "1", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip().startswith("{"))


class CompareTool(unittest.TestCase):
    def test_quartiles_and_diff(self):
        self.assertEqual(compare.quart([1.0, 2.0, 3.0, 4.0, 5.0]), (1.5, 3.0, 4.5))
        self.assertEqual(compare.seeds("1-3,7"), [1, 2, 3, 7])
        with scratch() as a, scratch() as b:
            for d, wall in ((a, 10.0), (b, 13.0)):
                for s in range(1, 6):
                    metrics = {m["name"]: {"value": 1.0, "unit": m["unit"]} for m in BENCH["end_to_end"]}
                    metrics["wall_s"]["value"] = wall + s * 0.01
                    with open(os.path.join(d, f"series_chain.s{s}.json"), "w") as f:
                        json.dump({"correct": True, "attempted": 1, "failed": 0, "metrics": metrics}, f)
            args = type("A", (), {"a": a, "b": b})
            self.assertEqual(compare.diff(args), 1)  # +30% wall_s is past its bound
            args = type("A", (), {"a": a, "b": a})
            self.assertEqual(compare.diff(args), 0)


if __name__ == "__main__":
    unittest.main()
