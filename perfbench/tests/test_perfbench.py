"""Self-tests of the benchmark (tiny inputs; each run starts a JVM).

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The first test to run builds the program and the benchmark, as the first
benchmark run in a checkout does.
"""
import filecmp
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
RUN = BENCH / "run.py"
sys.path.insert(0, str(BENCH))
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(workload, *extra, seed=3, seconds=1, trace=0):
    """Run one tiny benchmark run; return (exit code, result or None)."""
    cmd = [sys.executable, str(RUN), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, text=True, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


def generate(workload, seed, into):
    code, _ = bench(workload, "--gen-only", str(into), seed=seed)
    assert code == 0, f"{workload} generator failed"
    return into


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as t:
                a = generate(w, 5, Path(t, "a"))
                b = generate(w, 5, Path(t, "b"))
                c = generate(w, 6, Path(t, "c"))
                files = sorted(p.relative_to(a) for p in a.rglob("*")
                               if p.is_file())
                self.assertTrue(files)
                self.assertEqual(
                    files, sorted(p.relative_to(b) for p in b.rglob("*")
                                  if p.is_file()))
                for f in files:
                    self.assertTrue(filecmp.cmp(a / f, b / f, shallow=False),
                                    f"{w}: {f} differs for one seed")
                self.assertFalse(
                    all(filecmp.cmp(a / f, c / f, shallow=False)
                        for f in files), f"{w}: seeds 5 and 6 agree")


class Runs(unittest.TestCase):
    def check(self, result, names):
        self.assertIsNotNone(result)
        self.assertEqual(set(result), {"correct", "attempted", "failed",
                                       "metrics"})
        self.assertIs(result["correct"], True)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assertEqual(set(result["metrics"]), names)
        units = {m["name"]: m["unit"]
                 for m in SPEC["end_to_end"] + SPEC["per_layer"]}
        for name, m in result["metrics"].items():
            self.assertEqual(m["unit"], units[name], name)
            self.assertIsInstance(m["value"], (int, float), name)

    def test_smoke_every_workload_untraced(self):
        names = {m["name"] for m in SPEC["end_to_end"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result = bench(w)
                self.assertEqual(code, 0)
                self.check(result, names)
                for name, m in result["metrics"].items():
                    self.assertGreater(m["value"], 0, f"{w} {name}")

    def test_traced_runs_emit_every_layer_metric(self):
        names = {m["name"] for m in SPEC["per_layer"]}
        reached = {"batch": ["pipelines.importer.jobs",
                             "operators.clusters.jobs",
                             "sources.commit.jobs"],
                   "upsert": ["sources.merge.jobs", "sources.commit.seed_ms",
                              "streaming.trigger_ms"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result = bench(w, trace=1)
                self.assertEqual(code, 0)
                self.check(result, names)
                for name in reached[w]:
                    self.assertGreater(result["metrics"][name]["value"], 0,
                                       f"{w} {name}")
                self.assertGreater(result["metrics"]["scheduling.jobs"]
                                   ["value"], 0)

    def test_corrupted_output_fails_its_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, result = bench(w, "--corrupt", "1")
                self.assertEqual(code, 1)
                self.assertIs(result["correct"], False)

    def test_oracle_digest_sees_a_changed_cell(self):
        rows = [(1, 1, 0, 0, 40, 0.9), (2, 2, 1, 0, 33, 0.85)]
        self.assertEqual(run.digest(rows), run.digest(list(reversed(rows))))
        changed = [rows[0], (2, 2, 1, 0, 33, 0.8500000000000001)]
        self.assertNotEqual(run.digest(rows), run.digest(changed))


class EmptyCheckout(unittest.TestCase):
    def test_no_program_no_result(self):
        with tempfile.TemporaryDirectory() as t:
            (Path(t) / "BENCHMARK.json").write_text(
                (ROOT / "BENCHMARK.json").read_text())
            subprocess.run(["cp", "-r", str(BENCH), t], check=True)
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "batch",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=t, text=True, stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL, timeout=170)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
