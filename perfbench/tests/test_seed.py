"""Seed discipline: the same seed gives the same input content hash, and
another seed a different one (`run.py --gen-only`, no JVM).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def input_hash(workload, seed):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--gen-only"],
                         cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["input_sha256"]


class SeedDiscipline(unittest.TestCase):
    def test_same_seed_same_hash_other_seed_other_hash(self):
        for workload in ("llm_v3", "ingest_serve"):
            with self.subTest(workload=workload):
                a, b, c = input_hash(workload, 5), input_hash(workload, 5), input_hash(workload, 6)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
