"""Self-tests of the pipeline benchmark.

They run the real benchmark (building it on first use), so they take a
few minutes:

    python3 -m unittest discover -s perfbench/tests -v
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(*args, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    p = subprocess.run([sys.executable, script] + list(args), cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    report = next((json.loads(l[len("report "):]) for l in lines if l.startswith("report ")), None)
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return p.returncode, result, report


def quick(workload, *extra):
    return run("--workload", workload, "--seed", "5", "--seconds", "1", *extra)


class BenchmarkTest(unittest.TestCase):

    def test_clean_run_is_correct(self):
        for w in ("dedup_funnel", "lake_card"):
            rc, result, _ = quick(w, "--trace", "0")
            self.assertEqual(rc, 0)
            self.assertTrue(result["correct"], result)
            self.assertEqual(result["failed"], 0)
            for m in result["metrics"].values():
                self.assertGreater(m["value"], 0)

    def test_corrupted_expected_results_are_failures(self):
        for w in ("dedup_funnel", "lake_card"):
            rc, result, report = quick(w, "--trace", "0", "--corrupt-expected")
            self.assertEqual(rc, 0)
            self.assertFalse(result["correct"])
            # every check compares against a perturbed expectation; only
            # the lake append (overwritten by its correction) has none, once
            # in each lake_card pass
            per_pass = report["steps"] // report["passes"]
            unchecked = result["attempted"] // per_pass if w == "lake_card" else 0
            self.assertEqual(result["failed"], result["attempted"] - unchecked,
                             report["failures"])

    def test_traced_run_reconciles_and_reports_every_layer(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        layers = {"dedup_funnel": ("llm.text", "llm.dedup"),
                  "lake_card": ("sinks", "catalog", "sources", "sql", "operators",
                                "llm.datacard", "llm.corpusstats")}
        for w, used in layers.items():
            rc, result, _ = quick(w, "--trace", "1")
            self.assertEqual(rc, 0)
            self.assertTrue(result["correct"])
            m = {k: v["value"] for k, v in result["metrics"].items()}
            self.assertEqual(sorted(m), sorted(names))
            self.assertLess(m["trace.unattributed_task_frac"], 0.05)
            for layer in used:
                self.assertGreater(m[layer + ".calls"], 0, layer)
                self.assertGreater(m[layer + ".self_s"], 0, layer)

    def test_fails_without_the_repository_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, result, _ = run("--workload", "lake_card", "--seed", "1", "--seconds", "1",
                                "--trace", "0", cwd=d,
                                script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(rc, 0)
            self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
