"""Each output check passes on a good result and fails on a deliberately
corrupted one; the metric lists match BENCHMARK.json.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import copy
import json
import os
import sys
import tempfile
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import metrics  # noqa: E402

GOOD_STAGES = {"scored": 4766, "passed": 4674, "qvecs": 1898, "sem": 519, "deduped": 900,
               "nonempty_distinct": 900, "cleaned": 700, "sel": 128, "train": 100}
INFO = {"docs": 4800, "vecs": 1920, "bench": 96, "twins": 62, "vtwins": 62,
        "stages": GOOD_STAGES}


def llm_ops(n=2):
    return [{"error": None, "check": {"packed": {"rows": 12, "hash": 77}}} for _ in range(n)]


class LlmV3Checks(unittest.TestCase):
    def test_good_result_passes(self):
        self.assertEqual(checks.llm_v3(INFO, llm_ops()), [[], []])

    def test_each_planted_rate_assert_fails_on_its_corruption(self):
        corruptions = [
            ("scored", 4767), ("passed", 2000), ("qvecs", 1983), ("sem", 1898),
            ("deduped", 901), ("cleaned", 900), ("sel", 127), ("train", 0),
        ]
        for key, bad in corruptions:
            info = copy.deepcopy(INFO)
            info["stages"][key] = bad
            with self.subTest(stage=key):
                fails = checks.llm_v3(info, llm_ops())
                self.assertTrue(fails[0], f"corrupted {key} passed")
                self.assertEqual(fails[1], [])

    def test_round_with_a_different_pack_fails(self):
        ops = llm_ops(3)
        ops[2]["check"]["packed"] = {"rows": 12, "hash": 78}
        self.assertEqual([bool(f) for f in checks.llm_v3(INFO, ops)], [False, False, True])

    def test_empty_pack_fails(self):
        ops = llm_ops(1)
        ops[0]["check"]["packed"] = {"rows": 0, "hash": 0}
        self.assertTrue(checks.llm_v3(INFO, ops)[0])


class IngestServeChecks(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build"))
        self.dir = self.tmp.name
        # round 1 holds ids 1000000..1000009; 1000000 is a planted dup of 7
        # (round 0); query 900001000 is the exact twin of 1000003
        self.corpus = list(range(1000001, 1000010)) + [7]
        self.ann = [(900001000, 1000003, 1), (900001000, 1000005, 2), (900001001, 5, 1)]

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self):
        con = duckdb.connect()
        corpus = os.path.join(self.dir, "corpus")
        ann = os.path.join(self.dir, "ann")
        os.makedirs(corpus, exist_ok=True)
        os.makedirs(ann, exist_ok=True)
        ids = ",".join(f"({d})" for d in self.corpus)
        con.execute(f"COPY (SELECT * FROM (VALUES {ids}) t(doc_id)) "
                    f"TO '{corpus}/part-0.parquet' (FORMAT parquet)")
        rows = ",".join(f"({q},{n},{r})" for q, n, r in self.ann)
        con.execute(f"COPY (SELECT * FROM (VALUES {rows}) t(query_id, neighbor_id, rank)) "
                    f"TO '{ann}/part-0.parquet' (FORMAT parquet)")
        manifest = [{"round": 0}, {"round": 1, "first_id": 1000000, "last_id": 1000009,
                                   "sem_dups": [[1000000, 7]], "twins": [[900001000, 1000003]]}]
        op = {"error": None, "check": {"round": 1, "ann": ann}}
        return checks.ingest_serve({"corpus": corpus, "rounds": manifest}, [op])[0]

    def test_good_result_passes(self):
        self.assertEqual(self.run_check(), [])

    def test_doc_id_twice_fails(self):
        self.corpus.append(1000004)
        self.assertIn("twice", " ".join(self.run_check()))

    def test_kept_planted_dup_fails(self):
        self.corpus.append(1000000)
        self.assertIn("semantic dups kept", " ".join(self.run_check()))

    def test_twin_not_at_rank_one_fails(self):
        self.ann = [(900001000, 1000005, 1), (900001000, 1000003, 2)]
        self.assertIn("missed rank 1", " ".join(self.run_check()))


class Contract(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.PER_LAYER)

    def test_thrown_round_counts_as_failed(self):
        result = {"ops": [{"error": "boom", "check": {}}] + llm_ops(1), "check": INFO}
        self.assertEqual([bool(f) for f in checks.check("llm_v3", result)], [True, False])
        for workload in ("llm_v3", "ingest_serve"):
            result = {"ops": [{"error": "boom", "check": {}}], "check": {}}
            self.assertEqual(checks.check(workload, result), [["boom"]])


if __name__ == "__main__":
    unittest.main()
