"""Self-tests of the benchmark (tiny inputs, a few minutes in total):

    python3 -m unittest discover -s perfbench/tests -v

- a tiny run of each workload prints every end-to-end metric (untraced) and
  every per-layer metric (traced) with the unit BENCHMARK.json gives it;
- a deliberately corrupted result (a pair or row dropped, a span sequence
  reordered) fails the checks, raises failed_frac and exits non-zero;
- the traced run's spans are well formed and self times add up, and a traced
  tile-resume run counts the Knn layer's Spark jobs;
- without the program's sources the benchmark refuses to run and says so.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, trace=0, corrupt=False, cwd_root=ROOT):
    cmd = [sys.executable, str(cwd_root / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, cwd=cwd_root, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    ledger = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("perfbench-ledger ")), None)
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p, ledger, result


class TinyRuns(unittest.TestCase):
    def check_result(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(result["failed"], 0)
        self.assertEqual({m["name"]: m["unit"] for m in wanted},
                         {k: v["unit"] for k, v in result["metrics"].items()})
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_untraced_prints_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, ledger, result = run(w)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                self.check_result(result, SPEC["end_to_end"])
                self.assertEqual(ledger["failed_frac"]["value"], 0.0)
                self.assertIn("loaded", ledger["load"]["main"])

    def test_traced_prints_every_layer_metric_and_a_sound_trace(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, ledger, result = run(w, trace=1)
                self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                self.check_result(result, SPEC["per_layer"])
                trace = json.loads((ROOT / ledger["trace_file"]).read_text())
                spans = trace["spans"]
                ids = {s["id"] for s in spans}
                self.assertEqual({s["run_id"] for s in spans}, {trace["run_id"]})
                for s in spans:
                    self.assertTrue(s["parent"] == 0 or s["parent"] in ids, s)
                    self.assertLessEqual(s["start_ns"], s["end_ns"])
                    self.assertGreaterEqual(s["self_ns"], 0)
                    self.assertLessEqual(s["self_ns"], s["end_ns"] - s["start_ns"])
                self.assertTrue(any(s["name"] == "spark.stage" for s in spans))
                if w == "tile-resume":
                    self.assertGreater(ledger["layers"]["engine.knn.jobs"]["value"], 0)


class CorruptedResults(unittest.TestCase):
    def test_corruption_fails_the_checks(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                p, ledger, result = run(w, corrupt=True)
                self.assertEqual(p.returncode, 1, p.stderr[-2000:])
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assertGreater(ledger["failed_frac"]["value"], 0.0)
                self.assertIn(False, ledger["checks"].values())


class BareDirectory(unittest.TestCase):
    def test_refuses_without_program_sources(self):
        bare = ROOT / ".bench_build" / "bare-selftest"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p, _, result = run(WORKLOADS[0], cwd_root=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(result)
            self.assertIn("program sources not found", p.stderr)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
