#!/usr/bin/env python3
"""Tests of the benchmark itself.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The smoke tests build the program and run every workload for a few
seconds at sf0.001 (about a minute each); set PERFBENCH_SKIP_SMOKE=1 to run
only the fast tests.
"""
import ast
import builtins
import io
import json
import os
import subprocess
import sys
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import streams  # noqa: E402

WORKLOADS = sorted(streams.GENERATORS)


class StreamTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in WORKLOADS:
            self.assertEqual(streams.stream(w, 7).encode(),
                             streams.stream(w, 7).encode(), w)

    def test_other_seed_gives_other_stream(self):
        for w in WORKLOADS:
            self.assertNotEqual(streams.stream(w, 7), streams.stream(w, 8),
                                w)

    def test_stream_is_whole_rounds_of_known_ops(self):
        ops = {"analyst": {"associationRules", "regenerateSegments",
                           "differentialQuarters", "matchedRules"},
               "rec_serve": {"serve"},
               "batch": {"trainAndScoreChurn", "optimizeChurnThreshold",
                         "preparePack"}}
        for w in WORKLOADS:
            lines = streams.stream(w, 3).splitlines()
            header = json.loads(lines[0])
            self.assertEqual(header["workload"], w)
            self.assertEqual({json.loads(x)["op"] for x in lines[1:]}, ops[w])

    def test_rec_serve_mixes_hits_and_misses(self):
        lines = streams.stream("rec_serve", 5).splitlines()[1:]
        batches = [json.loads(x) for x in lines]
        all_hit = [b for b in batches if not any(b["recalculate"])]
        self.assertTrue(all_hit and len(all_hit) < len(batches))
        self.assertTrue(any(b["bump"] for b in batches))
        self.assertTrue(any(any(b["explicit"]) for b in batches))


class GeneratorIsolationTest(unittest.TestCase):
    """The generator sees only its seed: no file, no program state."""

    def test_imports_nothing_of_the_program(self):
        with open(os.path.join(BENCH, "streams.py")) as f:
            tree = ast.parse(f.read())
        names = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names |= {a.name for a in node.names}
            elif isinstance(node, ast.ImportFrom):
                names.add(node.module)
        self.assertEqual(names, {"json", "random", "sys", "gen_data"})

    def test_no_file_access_while_generating(self):
        expected = {w: streams.stream(w, 11) for w in WORKLOADS}

        def refuse(*a, **k):
            raise AssertionError(f"generator touched the file system: {a}")

        with mock.patch.object(builtins, "open", refuse), \
                mock.patch.object(io, "open", refuse), \
                mock.patch.object(os, "listdir", refuse), \
                mock.patch.object(os, "scandir", refuse), \
                mock.patch.object(os, "stat", refuse):
            for w in WORKLOADS:
                self.assertEqual(streams.stream(w, 11), expected[w])


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE") == "1",
                 "smoke runs disabled")
class SmokeTest(unittest.TestCase):
    """A tiny sf0.001 run of each workload prints every named metric."""

    def run_bench(self, workload, trace):
        res = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"),
             "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace), "--scale", "0.001"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, timeout=600)
        self.assertEqual(res.returncode, 0, res.stderr[-3000:])
        return json.loads(res.stdout.splitlines()[-1])

    def test_every_metric_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for w in WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    out = self.run_bench(w, trace)
                    self.assertEqual(set(out), {"correct", "attempted",
                                                "failed", "metrics"})
                    self.assertGreaterEqual(out["attempted"], 1)
                    self.assertEqual(out["failed"], 0)
                    want = {m["name"]: m["unit"] for m in spec[key]}
                    got = {k: v["unit"] for k, v in out["metrics"].items()}
                    self.assertEqual(got, want)


if __name__ == "__main__":
    unittest.main()
