"""Tests of the benchmark's own accounting.

    python3 -m unittest perfbench/test_bench.py          # fast, no JVM
    PERFBENCH_E2E=1 python3 -m unittest perfbench/test_bench.py   # + a full run

A throwing op and a wrong-answer op must each count as failed, stay out of
the latency sample, make `correct` false and the exit code 1.
"""
import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile
import types
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def fake_result(ops):
    return {"ops": ops, "session_s": 5.0, "state_s": 10.0, "warm_s": 0.0,
            "run_s": 3.0, "peak_rss_mb": 900.0, "spark_master": "local[4]",
            "nproc": 4, "heap_max_mb": 2048.0, "load_start": 0.1, "load_end": 0.2,
            "finish": {"oracle": {"q_ok": "SELECT COUNT(*) AS n FROM region"}}}


class Accounting(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = Path(cls.tmp.name) / "data"
        datagen.generate(cls.data, 1, 0.0001)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def report(self, done):
        cfg = {"ops": [{"id": i, "kind": "query", "name": "q_ok", "group": 0}
                       for i in range(len(done))],
               "warm_ops": [], "data": str(self.data)}
        args = types.SimpleNamespace(workload="batch_pipeline", seed=1,
                                     seconds=1.0, trace=0)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run.report(args, cfg, fake_result(done))
        lines = out.getvalue().strip().splitlines()
        return rc, json.loads(lines[-1]), lines

    def test_clean_run_is_correct(self):
        rc, res, _ = self.report([
            {"id": 0, "ok": True, "wall_s": 0.5, "cols": ["n"], "rows": [[5]]}])
        self.assertEqual(rc, 0)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (True, 1, 0))
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in bench["end_to_end"]))

    def test_planted_throw_and_wrong_answer_are_failures(self):
        rc, res, lines = self.report([
            {"id": 0, "ok": True, "wall_s": 0.5, "cols": ["n"], "rows": [[5]]},
            {"id": 1, "ok": False, "wall_s": 0.001, "error": "planted throw"},
            {"id": 2, "ok": True, "wall_s": 0.002, "cols": ["n"], "rows": [[6]]},
        ])
        self.assertEqual(rc, 1)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (False, 3, 2))
        # the two fast failures are not timed as successes
        self.assertIn("metric batch_query_p50_s = 0.5 s", lines)
        self.assertAlmostEqual(res["metrics"]["ops_per_s"]["value"], 1 / 3.0)
        self.assertIn("metric fail_ratio = 0.666667 ratio", lines)
        failed = [ln for ln in lines if ln.startswith("FAILED op")]
        self.assertEqual(len(failed), 2)


class SelfTimes(unittest.TestCase):

    def test_self_times_account_for_the_op_wall(self):
        spans = [("op", 0, 0.0, 100.0),
                 ("catalyst.analysis", 0, 10.0, 60.0),
                 ("spark.job", 0, 20.0, 40.0),
                 ("spark.job", 0, 30.0, 50.0),
                 ("spark.job", 0, 70.0, 80.0)]
        selfs = layers.self_times(spans)
        # overlapping jobs: each instant goes to the innermost span only
        self.assertEqual(selfs, [40.0, 20.0, 20.0, 10.0, 10.0])
        self.assertEqual(sum(selfs), 100.0)

    def test_per_layer_names_are_those_of_the_contract(self):
        per = layers.per_layer({"ops": []}, {"finish": {}}, [], set())
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual(sorted(per), sorted(m["name"] for m in bench["per_layer"]))


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E"), "set PERFBENCH_E2E=1")
class EndToEnd(unittest.TestCase):

    def test_planted_ops_fail_the_run(self):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload",
                            "batch_pipeline", "--seed", "3", "--seconds", "1",
                            "--trace", "0", "--plant", "throw,wrong"],
                           capture_output=True, text=True, cwd=HERE.parent)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(p.returncode, 1)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 2)
        self.assertIn("FAILED op -1: java.util.NoSuchElementException", p.stdout)
        self.assertIn("FAILED op -2: q07_anti_join: ", p.stdout)


if __name__ == "__main__":
    unittest.main()
