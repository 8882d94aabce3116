"""The benchmark's own tests: every workload end to end on tiny inputs
(--smoke), traced and untraced, against the metric lists in
BENCHMARK.json; injected defects the checks must catch; the refusal to
run without the engine's sources; and seeded input generation.

    python3 -m unittest perfbench/test_bench.py     (from the repo root)
"""
import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
SPEC = json.loads(pathlib.Path(ROOT, "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, "perfbench/run.py", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r, (json.loads(lines[-1]) if r.returncode == 0 and lines else None)


def smoke(workload, trace, *extra):
    return bench("--workload", workload, "--seed", "7", "--seconds", "2",
                 "--trace", str(trace), "--smoke", *extra)


class Smoke(unittest.TestCase):
    def check_result(self, res, metrics):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            got = res["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r, res = smoke(w, 0)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                self.check_result(res, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])
                # The human-readable line names the workload's metrics.
                self.assertIn("failed_frac=0", r.stdout)

    def test_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r, res = smoke(w, 1)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                self.check_result(res, SPEC["per_layer"])
                if w == "tail_live":
                    # Its triggers shuffle nothing; a nonzero value means
                    # set-up work (the stream dump) leaked into the trace.
                    self.assertEqual(res["metrics"]["shuffle.write_bytes"]["value"], 0)
                with open(os.path.join(HERE, "out", f"spans-{w}-7.json")) as f:
                    spans = json.load(f)
                root = spans["spans"][0]
                wall = root["end_ms"] - root["start_ms"]
                self.assertAlmostEqual(sum(spans["self_ms_by_layer"].values()), wall,
                                       delta=wall * 0.01)
                self.assertTrue(all(s["parent"] < s["id"] for s in spans["spans"][1:]))


class Faults(unittest.TestCase):
    def test_lost_record_fails_the_run(self):
        r, res = smoke("tail_catchup", 0, "--fault", "drop_line")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn("missing", r.stdout)

    def test_wrong_query_output_fails_the_run(self):
        r, res = smoke("batch_registry", 0, "--fault", "wrong_output")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


class Refusal(unittest.TestCase):
    def test_without_engine_sources(self):
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns(
                                    ".build", ".work", "out", "target"))
            r, res = bench("--workload", WORKLOADS[0],
                           "--seed", "1", "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, "")
        finally:
            shutil.rmtree(d)


class Inputs(unittest.TestCase):
    def test_seeded(self):
        from gen import SIZES, TABLES, generate
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
        try:
            def tables(seed, sub):
                out = os.path.join(d, sub)
                os.makedirs(out)
                generate(out, seed, SIZES["sf0.001"])
                return {t: pathlib.Path(f"{out}/{t}.parquet").read_bytes() for t in TABLES}
            a, b, c = tables(1, "a"), tables(1, "b"), tables(2, "c")
            self.assertEqual(a, b)
            self.assertNotEqual(a["events"], c["events"])
            self.assertNotEqual(a["documents"], c["documents"])
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
