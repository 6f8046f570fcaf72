"""Tests of the benchmark itself.

    python3 ctasbench/test_bench.py          # from the repository root

The JVM-side tests (checks fail on mutated outputs, attribution adds up,
the pinned ctas_study digests reproduce) run through `run.py --selftest`
and take a few minutes.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402


def read_tree(dir):
    return {os.path.relpath(os.path.join(d, f), dir): pq.read_table(os.path.join(d, f))
            for d, _, files in os.walk(dir) for f in files}


class Generators(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.BUILD)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_rows_other_seed_other_rows(self):
        for w in run.WORKLOADS:
            a, b, c = (os.path.join(self.tmp, w, x) for x in "abc")
            gen.materialise(w, 5, a)
            gen.materialise(w, 5, b)
            gen.materialise(w, 6, c)
            ta, tb, tc = read_tree(a), read_tree(b), read_tree(c)
            self.assertEqual(ta.keys(), tb.keys(), w)
            self.assertTrue(all(ta[k].equals(tb[k]) for k in ta), w)
            self.assertFalse(ta.keys() == tc.keys() and all(ta[k].equals(tc[k]) for k in ta), w)

    def test_study_subject_total_is_fixed(self):
        for seed in range(8):
            self.assertEqual(gen.study(seed, 222, 2)["subjects"].num_rows, 222)

    def test_crawl_keeps_the_injected_hosts(self):
        pages, hour = gen.crawl_pages(3, 20000)
        hosts = {u.split("/")[2] for u in pages.column("url").to_pylist()}
        for i in range(4):
            self.assertIn(gen.host_name(i), hosts)
        texts = [t for u, t in zip(pages.column("url").to_pylist(), pages.column("text").to_pylist())
                 if u.split("/")[2] == gen.host_name(0)]
        self.assertEqual(set(texts), {gen.FLAT_BODY})


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_lists_what_run_py_prints(self):
        self.assertEqual([w["name"] for w in self.b["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]}, run.PER_LAYER)

    def test_each_workload_says_what_it_stresses_and_bypasses(self):
        for w in self.b["workloads"]:
            self.assertIn("stresses", w["why"])
            self.assertIn("bypasses", w["why"])
            self.assertLessEqual(len(w["why"]), 200)

    def test_contract_limits(self):
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in self.b[k]]
        self.assertTrue(all(name.match(n) for n in names))
        self.assertEqual(len(names), len(set(names)))
        metrics = self.b["end_to_end"] + self.b["per_layer"]
        self.assertTrue(all(unit.match(m["unit"]) for m in metrics))
        self.assertTrue(all(m["better"] in ("higher", "lower") for m in metrics))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in self.b["end_to_end"]))
        setup = [m for m in self.b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.b["end_to_end"]))
        self.assertTrue(1 <= self.b["run_seconds"] <= 60)


class Runner(unittest.TestCase):
    def test_fails_without_the_program(self):
        os.makedirs(run.BUILD, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=run.BUILD)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "ctasbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "ctasbench/run.py", "--workload", "rollup_crawl",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn("{", r.stdout)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def test_jvm_selftest(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selftest", "--seed", "1"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertNotIn("FAIL", r.stdout)
        self.assertGreaterEqual(r.stdout.count("PASS"), 20)


if __name__ == "__main__":
    unittest.main()
