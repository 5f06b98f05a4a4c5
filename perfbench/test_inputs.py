"""Checks that the benchmark's inputs are a pure function of the seed.

Run from the root of a checkout:

    python3 perfbench/test_inputs.py

- `gen_data.py`: the same (sf, seed) writes byte-identical parquet
  files; another seed writes different ones.
- `dim_build`: the same seed generates identical node tables and fact
  batches (compared by an order-free hash of every row's bytes); another
  seed changes each of the four.
- `rollup_read`: the same seed gives the same request order; another
  seed gives a different one.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_data  # noqa: E402
import run  # noqa: E402

TMP = os.path.join(run.BUILD, "tmp", "test_inputs")


def digests(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GenDataTest(unittest.TestCase):
    def gen(self, name, seed):
        d = os.path.join(TMP, name)
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, 0.001, seed)
        return digests(d)

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.gen("a", 7), self.gen("b", 7))

    def test_other_seed_differs(self):
        a, c = self.gen("a", 7), self.gen("c", 8)
        self.assertEqual(a.keys(), c.keys())
        # region and nation are fixed dimension tables
        for t in a:
            if t not in ("region.parquet", "nation.parquet"):
                self.assertNotEqual(a[t], c[t], t)


class JvmInputsTest(unittest.TestCase):
    def test_dim_inputs_and_request_order(self):
        jars = run.spark_jars()
        cls = run.build(jars)
        os.makedirs(TMP, exist_ok=True)
        out = subprocess.run(
            run.java_cmd(jars, cls, TMP, "perfbench.InputsCheck", ["7", "7", "8"]),
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=300, check=True).stdout.splitlines()
        # one {input: "hash/rows"} per seed, from "dim <seed> <input>=<hash>/<rows>..."
        dim = [dict(f.split("=", 1) for f in line.split()[2:])
               for line in out if line.startswith("dim ")]
        perm = [line.split(" ", 2)[2] for line in out if line.startswith("perm ")]
        self.assertEqual(len(dim), 3)
        self.assertEqual(sorted(dim[0]), ["dim.delta", "dim.facts", "dim.moved_nodes", "dim.nodes"])
        self.assertEqual(dim[0], dim[1])
        for k in dim[0]:
            self.assertNotEqual(dim[0][k], dim[2][k], k)
        self.assertEqual(perm[0], perm[1])
        self.assertNotEqual(perm[0], perm[2])


if __name__ == "__main__":
    try:
        unittest.main()
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
