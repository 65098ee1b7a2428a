"""Checks of the benchmark itself (not of the engine's results).

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a checkout; the first run builds like run.py does.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402

SEED = run.SPEC["default_seed"]


class FullMaterialization(unittest.TestCase):
    """The timed action computes every output column; count() would not."""

    def test_veg_indices_keeps_all_index_expressions(self):
        classpath = run.build()
        work = run.WORK / "test-plans"
        shutil.rmtree(work, ignore_errors=True)
        out = work / "plans.json"
        run.launch(run.java_cmd(classpath, work, "plans", [
            "--input", str(run.inputs(SEED)), "--query", "q_veg_indices",
            "--out", str(out)]), work, "plans", run.time.time() + 170)
        plans = json.loads(out.read_text())
        indices = [c for c in plans["columns"] if c.startswith("avg_")]
        self.assertEqual(len(indices), 17)
        self.assertTrue(set(indices) <= set(plans["action_aliases"]))
        self.assertFalse(set(indices) & set(plans["count_aliases"]))
        shutil.rmtree(work, ignore_errors=True)


class TracedRun(unittest.TestCase):
    """One traced run of the IndexStore workload, checked two ways."""

    workload = "retrieval_index_core"

    @classmethod
    def setUpClass(cls):
        proc = subprocess.run(
            [sys.executable, str(run.HERE / "run.py"), "--workload", cls.workload,
             "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
            cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            raise AssertionError(proc.stderr[-3000:])
        cls.result = json.loads(proc.stdout.splitlines()[-1])
        out = run.WORK / cls.workload
        cls.profile = json.loads((out / "profile.json").read_text())
        cls.spans = json.loads((out / "spans.json").read_text())

    def test_run_is_correct(self):
        self.assertTrue(self.result["correct"], self.result)

    def test_warm_passes_build_no_index_artifacts(self):
        passes = self.profile["passes"]
        cold, warm = passes[0], passes[1:]
        self.assertEqual(cold["kind"], "cold")
        self.assertGreater(run.pass_sum(cold, "index_builds"), 0)
        self.assertTrue(warm)
        for p in warm:
            self.assertEqual(p["index_artifacts"], cold["index_artifacts"])
            if p["traced"]:
                self.assertEqual(run.pass_sum(p, "index_builds"), 0)
                self.assertGreater(run.pass_sum(p, "index_reads"), 0)

    def test_layers_add_up_to_query_wall_time(self):
        self.assertTrue(self.spans)
        traced = [q for p in self.profile["passes"] if p["traced"] for q in p["queries"]]
        gaps = run.layer_gaps(self.spans, traced)
        self.assertEqual(len(gaps), len(traced))
        self.assertLessEqual(max(gaps), 0.05)
        self.assertIn("trace.overhead_frac", self.result["metrics"])


if __name__ == "__main__":
    unittest.main()
