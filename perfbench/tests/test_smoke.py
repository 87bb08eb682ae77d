"""The benchmark's own tests: every workload at smoke size, traced and
untraced, plus the input-determinism and layer-table checks.

    python3 -m unittest discover -s perfbench/tests

Run from the root of a checkout; the first test builds the harness.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=900)


def load(path):
    with open(path) as fh:
        return json.load(fh)


class SmokeTest(unittest.TestCase):
    bench = load(os.path.join(ROOT, "BENCHMARK.json"))
    workloads = list(load(os.path.join(BENCH, "workloads.json")))

    def result(self, p):
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        return res

    def test_untraced_prints_every_end_to_end_metric(self):
        for wl in self.workloads:
            with self.subTest(workload=wl):
                res = self.result(run("--workload", wl, "--seed", "3", "--seconds", "2",
                                      "--trace", "0", "--smoke"))
                names = [m["name"] for m in self.bench["end_to_end"]]
                self.assertEqual(list(res["metrics"]), names)
                for m in self.bench["end_to_end"]:
                    got = res["metrics"][m["name"]]
                    self.assertEqual(got["unit"], m["unit"])
                    self.assertGreater(got["value"], 0)

    def test_traced_run_writes_spans_and_every_layer_metric(self):
        for wl in self.workloads:
            with self.subTest(workload=wl):
                res = self.result(run("--workload", wl, "--seed", "4", "--seconds", "2",
                                      "--trace", "1", "--smoke"))
                self.assertEqual(list(res["metrics"]), [m["name"] for m in self.bench["per_layer"]])
                spans_file = os.path.join(BENCH, "out", f"spans-{wl}-seed4-trace1.jsonl")
                with open(spans_file) as fh:
                    spans = {s["id"]: s for s in map(json.loads, fh)}
                record = load(os.path.join(BENCH, "out", f"run-{wl}-seed4-trace1.json"))
                # a span for every measured batch, pass and query
                tops = [s for s in spans.values() if s["parent"] == 0 and s["name"] in
                        ("streaming.trigger", "streaming.processBatch", "operators.pass")]
                self.assertEqual(len(tops), record["units"])
                if wl == "curation_batch":
                    queries = load(os.path.join(BENCH, "workloads.json"))[wl]["queries"]
                    in_passes = [s for s in spans.values() if s["name"] in
                                 {f"operators.{q}" for q in queries}]
                    self.assertEqual(len(in_passes), record["units"] * len(queries))
                # every second unit is traced down to its Spark jobs
                self.assertTrue(any(s["name"].startswith("spark.job.") for s in spans.values()))
                for s in spans.values():
                    self.assertLessEqual(s["start_ms"], s["end_ms"])
                    self.assertGreaterEqual(s["self_ms"], -1e-6)
                    if s["parent"]:
                        p = spans[s["parent"]]
                        self.assertGreaterEqual(s["start_ms"], p["start_ms"] - 1e-6, s)
                        self.assertLessEqual(s["end_ms"], p["end_ms"] + 1e-6, s)

    def test_gated_stream_check_catches_a_gate_that_drops_everything(self):
        p = run("--workload", "gated_stream", "--seed", "6", "--seconds", "2", "--trace", "0",
                "--smoke", "--set", "quality_threshold=1000")
        self.assertEqual(p.returncode, 1, p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertRegex(p.stderr, r"state has \d+ rows, the reference \d+; [1-9]\d* missing")

    def test_same_seed_gives_byte_identical_inputs(self):
        p = run("--workload", "gated_stream", "--seed", "5", "--seconds", "2", "--trace", "0",
                "--smoke", "--check-inputs")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertEqual(json.loads(p.stdout.strip().splitlines()[-1]), {"inputs_deterministic": True})

    def test_layer_table_covers_every_layer_metric(self):
        groups = load(os.path.join(BENCH, "layers.json"))["groups"]
        listed = [m for g in groups for m in g["metrics"]]
        self.assertEqual(sorted(listed), sorted(m["name"] for m in self.bench["per_layer"]))
        known = set(self.workloads)
        for g in groups:
            for mv in g["moves"]:
                self.assertIn(mv["workload"], known)
            self.assertTrue(set(g["unchanged_on"]) <= known)

    def test_refuses_to_run_without_the_engine_sources(self):
        bare = os.path.join(BENCH, "work", f"bare-{os.getpid()}")
        try:
            os.makedirs(bare)
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "work", "out", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "gated_stream",
                                "--seed", "1", "--seconds", "2", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
