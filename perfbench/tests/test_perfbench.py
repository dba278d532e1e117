"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests      # from the repo root

`GeneratorDeterminismTest` builds the program and starts two JVMs (about
two minutes on a 4-core box); the other tests take seconds.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import checker  # noqa: E402
import metrics  # noqa: E402


class TailRuleTest(unittest.TestCase):
    def test_level_is_highest_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_level(19))
        self.assertEqual(metrics.tail_level(20), 50.0)
        self.assertEqual(metrics.tail_level(39), 50.0)
        self.assertEqual(metrics.tail_level(40), 75.0)
        self.assertEqual(metrics.tail_level(99), 75.0)
        self.assertEqual(metrics.tail_level(100), 90.0)
        self.assertEqual(metrics.tail_level(200), 95.0)
        self.assertEqual(metrics.tail_level(1000), 99.0)

    def test_tail_value_and_fallback(self):
        xs = [float(i) for i in range(1, 101)]
        value, level = metrics.tail(xs)
        self.assertEqual(level, 90.0)
        self.assertAlmostEqual(value, metrics.quantile(xs, 90.0))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (2.0, 50.0))

    def test_sample_counts_are_reported(self):
        raw = {"workload": "etl_refresh", "setup_s": 3.0, "setup_session_s": 1.0,
               "setup_gen_s": 1.5, "setup_fixture_s": 0.5, "heap_peak_mb": 10.0,
               "extra_samples": {}, "extra_values": {},
               # the cold pass, one warm-up pass, then the timed window
               "passes": [{"timed": i > 1, "traced": False, "wall_s": w,
                           "jobs": [{"name": "a", "kind": "job", "build_s": 0.1,
                                     "action_s": w / 10, "error": None}]}
                          for i, w in enumerate((9.0, 7.0, 4.0, 5.0, 6.0))]}
        m, notes = metrics.end_to_end(raw, set())
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["pass_s"], 5.0)
        self.assertEqual(notes["pass_s"], "n=3 passes")
        m, notes = metrics.workload_only(raw, set(), attempted=5, failed=0)
        self.assertEqual(m["cold_pass_s"], 9.0)
        self.assertEqual(notes["job_s.p50"], "n=3 jobs")
        self.assertEqual(notes["job_s.tail"], "p50 of n=3 jobs")
        # a job whose output check failed never counts as a timing
        m, notes = metrics.workload_only(raw, {"a"}, attempted=5, failed=1)
        self.assertNotIn("job_s.p50", m)
        self.assertEqual(m["fail_ratio"], 0.2)


class MetricNamesTest(unittest.TestCase):
    def test_names_parse(self):
        for table in (metrics.END_TO_END, metrics.WORKLOAD_ONLY, metrics.PER_LAYER):
            for name in table:
                self.assertRegex(name, metrics.NAME_RE)

    def test_benchmark_json_matches_the_metrics_the_runs_print(self):
        with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, metrics.PER_LAYER)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for name in names:
            self.assertRegex(name, metrics.NAME_RE)


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.inputs = os.path.join(self.dir, "inputs")
        self.out = os.path.join(self.dir, "out")
        os.makedirs(self.inputs)
        os.makedirs(self.out)
        import duckdb
        con = duckdb.connect()
        con.execute(f"COPY (SELECT range AS o_orderkey, range * 1.5 AS o_totalprice "
                    f"FROM range(100)) TO '{self.inputs}/orders.parquet' (FORMAT parquet)")
        self.sql = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0"
        con.execute(f"COPY ({self.sql.replace('orders', repr(self.inputs + '/orders.parquet'))}) "
                    f"TO '{self.out}/part-0.parquet' (FORMAT parquet)")
        con.close()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def check(self):
        return checker.run_checks([{"job": "j", "sql": self.sql, "output": self.out,
                                    "inputs": self.inputs}], self.dir)

    def test_correct_output_passes(self):
        self.assertEqual(self.check(), {})

    def test_corrupted_output_fails(self):
        import duckdb
        path = os.path.join(self.out, "part-0.parquet")
        con = duckdb.connect()
        con.execute(f"COPY (SELECT o_orderkey, CASE WHEN o_orderkey = 42 THEN o_totalprice + 1 "
                    f"ELSE o_totalprice END AS o_totalprice FROM '{path}') "
                    f"TO '{self.dir}/bad.parquet' (FORMAT parquet)")
        con.close()
        shutil.move(os.path.join(self.dir, "bad.parquet"), path)
        self.assertIn("j", self.check())

    def test_missing_row_fails(self):
        import duckdb
        path = os.path.join(self.out, "part-0.parquet")
        con = duckdb.connect()
        con.execute(f"COPY (SELECT * FROM '{path}' WHERE o_orderkey <> 0) "
                    f"TO '{self.dir}/bad.parquet' (FORMAT parquet)")
        con.close()
        shutil.move(os.path.join(self.dir, "bad.parquet"), path)
        self.assertIn("rows", self.check()["j"])


class RefusesWithoutProgramTest(unittest.TestCase):
    def test_exits_nonzero_without_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copytree(BENCH_DIR, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(REPO_ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_refresh",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("correct", p.stdout)
        finally:
            shutil.rmtree(d)


def data_digest(path):
    """sha256 of a parquet file up to its footer: every data page, byte for
    byte. parquet-mr lists a column chunk's encodings in JVM-dependent
    order, so the footer alone may differ between two identical writes."""
    import struct
    with open(path, "rb") as fh:
        raw = fh.read()
    footer_len = struct.unpack("<I", raw[-8:-4])[0]
    return hashlib.sha256(raw[:len(raw) - 8 - footer_len]).hexdigest()


class GeneratorDeterminismTest(unittest.TestCase):
    """Same seed, byte-identical data pages and equal tables; another seed,
    other inputs."""

    def gen(self, seed, work):
        import build
        import run
        classes = build.build(os.path.join(REPO_ROOT, build.BUILD_DIR), REPO_ROOT)
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        cmd = run.jvm_command(classes, work, [
            "--mode", "gen", "--workload", "etl_refresh", "--seed", str(seed),
            "--work", os.path.join(work, "w"), "--base", run.SEED_CORPUS])
        run.run_jvm(cmd, work)
        import pyarrow.parquet as pq
        digests = {}
        for f in sorted(glob.glob(os.path.join(work, "w", "inputs", "*", "*.parquet"))):
            digests[os.path.relpath(f, work)] = (data_digest(f), pq.read_table(f))
        return digests

    def test_same_seed_same_bytes(self):
        scratch = os.path.join(REPO_ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        d = tempfile.mkdtemp(dir=scratch)
        try:
            a = self.gen(11, os.path.join(d, "a"))
            b = self.gen(11, os.path.join(d, "b"))
            c = self.gen(12, os.path.join(d, "c"))
            self.assertTrue(a)
            self.assertEqual(a.keys(), b.keys())
            for k in a:
                self.assertEqual(a[k][0], b[k][0], k)
                self.assertTrue(a[k][1].equals(b[k][1]), k)
            self.assertNotEqual({k: v[0] for k, v in a.items()}, {k: v[0] for k, v in c.items()})
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
