"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The last test builds graft and runs the JVM self-test (about a minute
on a cold checkout); set PERFBENCH_SKIP_JVM=1 to skip it.
"""
import glob
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, pct in ((15, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0),
                       (1000, 99.0), (10000, 99.9)):
            _, got, count = metrics.tail(list(range(n)))
            self.assertEqual((got, count), (pct, n), n)
            if got > 50.0:
                self.assertGreaterEqual(n * (100 - got) / 100, 10 - 1e-9)

    def test_value_is_that_percentile(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertAlmostEqual(metrics.tail(xs)[0], metrics.percentile(xs, 90.0))
        self.assertAlmostEqual(metrics.percentile(xs, 50.0), 50.5)
        self.assertEqual(metrics.tail([3.0])[0], 3.0)


class CallSiteMap(unittest.TestCase):
    def test_every_source_file_has_a_layer(self):
        with open(os.path.join(BENCH, "layers.json")) as fh:
            layers = json.load(fh)
        srcs = [os.path.relpath(f, os.path.join(ROOT, "src/main/scala"))
                for f in glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)]
        srcs += ["perfbench/" + os.path.basename(f)
                 for f in glob.glob(os.path.join(BENCH, "scala/*.scala"))
                 if not f.endswith("Drain.scala")]
        self.assertTrue(srcs)
        self.assertEqual([f for f in srcs if f not in layers], [])
        # the JVM matches call sites by file name, so names must be unique
        names = [os.path.basename(k) for k in layers if k.endswith(".scala")]
        self.assertEqual(len(names), len(set(names)))


class Output(unittest.TestCase):
    def test_result_line_is_bare_json(self):
        line = metrics.result_line(True, 3, 0, {"setup_s": (1.25, "s")})
        d = json.loads(line)
        self.assertEqual(sorted(d), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(d["metrics"]["setup_s"], {"value": 1.25, "unit": "s"})

    def test_end_to_end_has_every_declared_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = {m["name"]: m["unit"] for m in json.load(fh)["end_to_end"]}
        samples = [{"s": 1.0 + i / 10, "work": 10} for i in range(5)]
        got = metrics.end_to_end(samples, 2.0, 900.0)
        self.assertEqual({k: u for k, (_, u) in got.items()}, declared)


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(os.path.join(d, "a"), 7, 0.001)
            gen.generate(os.path.join(d, "b"), 7, 0.001)
            gen.generate(os.path.join(d, "c"), 8, 0.001)
            for t in ("lineitem", "documents", "events", "embeddings"):
                a, b, c = (read(os.path.join(d, x, t + ".parquet")) for x in "abc")
                self.assertEqual(a, b, t)
                self.assertNotEqual(a, c, t)

    def test_permutation_keeps_the_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 7, 0.001)
            before = pq.read_table(os.path.join(d, "documents.parquet"))
            gen.permute_documents(d, 3)
            after = pq.read_table(os.path.join(d, "documents.parquet"))
            self.assertEqual(sorted(before.column("text").to_pylist()),
                             sorted(after.column("text").to_pylist()))
            self.assertEqual(after.column("doc_id").to_pylist(), list(range(before.num_rows)))
            self.assertNotEqual(before.column("text").to_pylist(), after.column("text").to_pylist())


def read(path):
    with open(path, "rb") as fh:
        return fh.read()


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_JVM"), "PERFBENCH_SKIP_JVM set")
class JvmSelfTest(unittest.TestCase):
    def test_dlp_plans_compute_transformed_columns(self):
        """Each timed DLP transform's physical plan still computes its
        column, and the check catches a plan that prunes it."""
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "selftest",
                            "--seed", "1", "--seconds", "0", "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        report = json.loads(p.stdout.strip().splitlines()[-2])["report"]
        self.assertTrue(last["correct"], report["failures"])


if __name__ == "__main__":
    unittest.main()
