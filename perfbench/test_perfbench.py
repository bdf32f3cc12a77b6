#!/usr/bin/env python3
"""The benchmark's own tests, at tiny sizes (sf0.001, a few files).

Run from the repository root:  python3 perfbench/test_perfbench.py

They check that every metric BENCHMARK.json names is printed with its unit,
that a corrupted golden digest and a dropped input file each raise the
failure count, and the freshness arithmetic on a synthetic schedule with
known commit times. Each case starts a JVM; the whole file takes minutes.
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
sys.path.insert(0, HERE)
import run  # noqa: E402

WORKLOADS = ["ingest-backlog", "ingest-live", "headline-queries"]


def bench(workload, trace="0", *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", trace, "--size", "tiny",
                        *extra], cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}: {p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class Metrics(unittest.TestCase):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    def check(self, trace, declared):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r, out = bench(w, trace)
                self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(r["correct"], out)
                self.assertEqual(r["failed"], 0)
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(set(r["metrics"]), {m["name"] for m in declared})
                for m in declared:
                    got = r["metrics"][m["name"]]
                    self.assertEqual(got["unit"], m["unit"], m["name"])
                    self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_end_to_end_metrics_printed_with_units(self):
        self.check("0", self.spec["end_to_end"])

    def test_per_layer_metrics_printed_with_units(self):
        self.check("1", self.spec["per_layer"])


class Failures(unittest.TestCase):
    def test_corrupted_golden_digest_counts_as_failure(self):
        golden = os.path.join(HERE, "golden", "tiny.tsv")
        os.makedirs(run.build_dir(), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=run.build_dir()) as d:
            bad = os.path.join(d, "golden.tsv")
            with open(golden) as f:
                lines = f.read().splitlines()
            name, rows, digest = lines[0].split("\t")
            lines[0] = "\t".join([name, rows, "0" * len(digest)])
            with open(bad, "w") as f:
                f.write("\n".join(lines) + "\n")
            r, out = bench("headline-queries", "0", "--golden", bad)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1, out)
        self.assertIn(name, out)

    def test_dropped_file_counts_as_failure(self):
        for w in ["ingest-backlog", "ingest-live"]:
            with self.subTest(workload=w):
                r, out = bench(w, "0", "--fault", "drop-file")
                self.assertFalse(r["correct"])
                self.assertGreaterEqual(r["failed"], 1, out)


class Freshness(unittest.TestCase):
    def test_synthetic_schedule(self):
        jars = run.spark_jars()
        classes = run.build(run.build_dir(), jars)
        d = tempfile.mkdtemp(dir=run.build_dir())
        try:
            p = subprocess.run([run.java_bin(), "-cp", f"{classes}:{os.path.join(jars, '*')}",
                                "perfbench.FreshnessCheck", d], capture_output=True, text=True)
        finally:
            shutil.rmtree(d)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr)
        self.assertEqual(p.stdout.strip(), "ok")


if __name__ == "__main__":
    unittest.main(verbosity=2)
