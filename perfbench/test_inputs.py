"""The input generators are seeded: the same seed writes byte-identical
files, another seed writes different ones.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Builds the benchmark first (see build.py).
"""

import hashlib
import json
import shutil
import subprocess
import unittest
from pathlib import Path

import build

ROOT = Path(__file__).resolve().parent.parent


def generate(classes, workload, seed, out):
    jars = build.spark_jars()
    subprocess.run(["java", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out.parent}",
                    "-cp", f"{classes}:{jars}/*", "perfbench.Main", "--workload", workload,
                    "--seed", str(seed), "--seconds", "10", "--generate", str(out)],
                   check=True, capture_output=True)


def digests(root):
    return {str(f.relative_to(root)): hashlib.sha256(f.read_bytes()).hexdigest()
            for f in sorted(root.rglob("*")) if f.is_file()}


class SeededInputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes, _ = build.build()
        cls.tmp = ROOT / ".bench_runs" / "test_inputs"
        shutil.rmtree(cls.tmp, ignore_errors=True)
        cls.tmp.mkdir(parents=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        for w in [w["name"] for w in spec["workloads"]]:
            with self.subTest(workload=w):
                a, b, c = (self.tmp / f"{w}-{k}" for k in "abc")
                generate(self.classes, w, 7, a)
                generate(self.classes, w, 7, b)
                generate(self.classes, w, 8, c)
                da, db, dc = digests(a), digests(b), digests(c)
                self.assertTrue(da)
                self.assertEqual(da, db)
                self.assertEqual(da.keys(), dc.keys())
                self.assertNotEqual(da, dc)


if __name__ == "__main__":
    unittest.main()
