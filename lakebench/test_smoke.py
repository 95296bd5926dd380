#!/usr/bin/env python3
"""Smoke test of the lakehouse benchmark: every workload at scale 0.001.

    python3 -m unittest lakebench/test_smoke.py     (from the repo root; ~6 min)

For each workload it checks that an untraced run passes its correctness
checks with no failed operation and reports every end-to-end metric of
BENCHMARK.json, non-zero; that a traced run reports every per-layer metric;
and that a run whose expected answer is deliberately corrupted
(`--break-check 1`) reports correct=false. It also checks that the benchmark
fails without printing a result when only BENCHMARK.json and the benchmark's
own files are present.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace="0", broken="0", cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", trace, "--scale", "0.001",
           "--break-check", broken]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):

    def check_workload(self, w):
        r = result(run(w))
        self.assertTrue(r["correct"], r)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        self.assertEqual(set(r["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
        for m in SPEC["end_to_end"]:
            self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])

        t = result(run(w, trace="1"))
        self.assertTrue(t["correct"], t)
        self.assertEqual(t["failed"], 0)
        self.assertEqual(set(t["metrics"]), {m["name"] for m in SPEC["per_layer"]})

        b = result(run(w, broken="1"))
        self.assertFalse(b["correct"], "a corrupted expected answer must fail the check")

    def test_lakehouse_wire(self):
        self.check_workload("lakehouse_wire")

    def test_curation_pipeline(self):
        self.check_workload("curation_pipeline")

    def test_fails_without_the_engine_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "lakebench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run("lakehouse_wire", cwd=d, script=os.path.join(d, "lakebench", "run.py"))
            self.assertNotEqual(p.returncode, 0)
            self.assertFalse(p.stdout.strip(), "no result may be printed")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
