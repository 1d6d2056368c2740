"""Tests of the benchmark's own pieces: every output check must fail a
run when it is given a corrupted result, the generators must be
deterministic in the seed, and BENCHMARK.json must name exactly the
metrics the runner prints.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _ops(names, obs=None):
    return [{"name": n, "s": 0.1, "ok": True, "error": "",
             "obs": copy.deepcopy(obs[i]) if obs else {}} for i, n in enumerate(names)]


class DigestTest(unittest.TestCase):
    def test_numbers_compare_by_value_not_type(self):
        self.assertEqual(checks.canon(3), checks.canon(3.0))
        self.assertEqual(checks.canon(0.0), checks.canon(-0.0))
        self.assertNotEqual(checks.canon(0.1), checks.canon(0.1 + 1e-17 * 10))
        self.assertEqual(checks.canon(None), "\\N")
        self.assertEqual(checks.canon([1, None, "a"]), "[1,\\N,a]")

    def test_digest_is_column_order_free_and_row_order_sensitive(self):
        a = checks.digest(["b", "a"], [(1, "x"), (2, "y")])
        b = checks.digest(["a", "b"], [("x", 1), ("y", 2)])
        c = checks.digest(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


class QuerySliceCheckTest(unittest.TestCase):
    expected = {
        "q01_a": {"module": "Relational", "rows": 2, "digest": "d1"},
        "q29_ann": {"module": "VectorQueries", "rows": 30},
    }

    def result(self):
        return {"observed": {"queries": {
            "q01_a": {"rows": 2, "digest": "d1", "module": "Relational"},
            "q29_ann": {"rows": 30, "digest": "whatever", "module": "VectorQueries"}}},
            "sections": [{"traced": False, "ops": _ops(["q29_ann", "q01_a"])}]}

    def test_good_result_passes(self):
        verdicts, problems = checks.query_slice(self.result(), self.expected)
        self.assertEqual(problems, [])
        self.assertEqual(verdicts, [[True, True]])

    def test_corrupted_digest_fails_that_query(self):
        r = self.result()
        r["observed"]["queries"]["q01_a"]["digest"] = "d2"
        verdicts, problems = checks.query_slice(r, self.expected)
        self.assertTrue(problems)
        self.assertEqual(verdicts, [[True, False]])

    def test_corrupted_row_count_fails_approximate_query(self):
        r = self.result()
        r["observed"]["queries"]["q29_ann"]["rows"] = 29
        verdicts, _ = checks.query_slice(r, self.expected)
        self.assertEqual(verdicts, [[False, True]])

    def test_query_error_and_missing_query_fail(self):
        r = self.result()
        r["observed"]["queries"]["q01_a"] = {"error": "boom"}
        del r["observed"]["queries"]["q29_ann"]
        verdicts, problems = checks.query_slice(r, self.expected)
        self.assertEqual(verdicts, [[False, False]])
        self.assertGreaterEqual(len(problems), 2)

    def test_throwing_op_fails(self):
        r = self.result()
        r["sections"][0]["ops"][0]["ok"] = False
        verdicts, _ = checks.query_slice(r, self.expected)
        self.assertEqual(verdicts, [[False, True]])


class DocIngestCheckTest(unittest.TestCase):
    manifest = {"batches": [{"corpus_rows": 3, "replaced": 0},
                            {"corpus_rows": 4, "replaced": 1}],
                "final_ids": [1, 2, 3, 4],
                "text_digest": gen.text_digest({1: "a b", 2: "c d", 3: "a b c", 4: "<EMAIL> d"})}
    pairs = [[1, 3, 10, 0.5, 0.75], [2, 4, 9, 0.45, 0.6]]

    def result(self):
        obs = [{"corpus_rows": 3, "replaced": 0, "candidate_rows": 1},
               {"corpus_rows": 4, "replaced": 1, "candidate_rows": 2}]
        return {"observed": {"corpus_ids": [1, 2, 3, 4],
                             "text_digest": gen.text_digest(
                                 {1: "a b", 2: "c d", 3: "a b c", 4: "<EMAIL> d"}),
                             "pairs": copy.deepcopy(self.pairs),
                             "batch_mine_pairs": list(reversed(copy.deepcopy(self.pairs)))},
                "sections": [{"traced": False, "ops": _ops(["b0", "b1"], obs)}]}

    def test_good_result_passes(self):
        verdicts, problems = checks.doc_ingest(self.result(), self.manifest)
        self.assertEqual(problems, [])
        self.assertEqual(verdicts, [[True, True]])

    def test_corrupted_corpus_ids_fail_every_op(self):
        r = self.result()
        r["observed"]["corpus_ids"] = [1, 2, 3]
        verdicts, problems = checks.doc_ingest(r, self.manifest)
        self.assertTrue(problems)
        self.assertEqual(verdicts, [[False, False]])

    def test_stale_or_altered_text_fails_every_op(self):
        # id 2 kept its old text, or id 4 stored unscrubbed
        for state in ({1: "a b", 2: "old", 3: "a b c", 4: "<EMAIL> d"},
                      {1: "a b", 2: "c d", 3: "a b c", 4: "x@example.com d"}):
            r = self.result()
            r["observed"]["text_digest"] = gen.text_digest(state)
            verdicts, problems = checks.doc_ingest(r, self.manifest)
            self.assertTrue(problems)
            self.assertEqual(verdicts, [[False, False]])

    def test_missing_or_altered_candidate_fails(self):
        for corrupt in (lambda p: p.pop(), lambda p: p[0].__setitem__(3, 0.51),
                        lambda p: p.append(list(p[0]))):
            r = self.result()
            corrupt(r["observed"]["pairs"])
            verdicts, problems = checks.doc_ingest(r, self.manifest)
            self.assertTrue(problems)
            self.assertEqual(verdicts, [[False, False]])

    def test_corrupted_batch_report_fails_that_batch(self):
        r = self.result()
        r["sections"][0]["ops"][1]["obs"]["replaced"] = 0
        verdicts, problems = checks.doc_ingest(r, self.manifest)
        self.assertTrue(problems)
        self.assertEqual(verdicts, [[True, False]])


class FileBatchCheckTest(unittest.TestCase):
    manifest = {"files": 12, "total": 10, "failed": 1, "succeeded": 9,
                "retry": 2, "digest": "cafe"}

    def result(self, passes=2):
        obs = {"total": 10, "succeeded": 9, "failed": 1, "committed": 9,
               "severity": {"green": 9, "red": 1}, "retries": 6}
        return {"observed": {"commits": [{"rows": 9, "digest": "cafe", "files": 1}
                                         for _ in range(passes)]},
                "sections": [{"traced": False, "ops": _ops(["pass"] * passes, [obs] * passes)}]}

    def test_good_result_passes(self):
        verdicts, problems = checks.file_batch(self.result(), self.manifest)
        self.assertEqual(problems, [])
        self.assertEqual(verdicts, [[True, True]])

    def test_each_corruption_fails_its_pass(self):
        corruptions = [
            lambda r: r["sections"][0]["ops"][1]["obs"].__setitem__("failed", 2),
            lambda r: r["sections"][0]["ops"][1]["obs"].__setitem__("committed", 8),
            lambda r: r["observed"]["commits"][1].__setitem__("rows", 10),
            lambda r: r["observed"]["commits"][1].__setitem__("digest", "beef"),
            lambda r: r["sections"][0]["ops"][1]["obs"]["severity"].__setitem__("red", 0),
        ]
        for corrupt in corruptions:
            r = self.result()
            corrupt(r)
            verdicts, problems = checks.file_batch(r, self.manifest)
            self.assertTrue(problems)
            self.assertEqual(verdicts, [[True, False]])


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def _dir(self, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        return d

    def _files(self, d):
        out = {}
        for base, _, files in os.walk(d):
            for f in files:
                p = os.path.join(base, f)
                if f.endswith(".parquet"):  # compare rows: the file embeds a writer stamp
                    out[os.path.relpath(p, d)] = pq.read_table(p).to_pydict()
                else:
                    with open(p, "rb") as h:
                        out[os.path.relpath(p, d)] = h.read()
        return out

    def test_same_seed_same_inputs(self):
        for name, fn in (
                ("doc", lambda d, s: gen.gen_doc_ingest(run.DATA, s, d, 2, 50)),
                ("file", lambda d, s: gen.gen_file_batch(run.DATA, s, d, 300))):
            a, b, c = self._dir(name + "a"), self._dir(name + "b"), self._dir(name + "c")
            fn(a, 7), fn(b, 7), fn(c, 8)
            self.assertEqual(self._files(a), self._files(b))
            self.assertNotEqual(self._files(a), self._files(c))

    def test_doc_ingest_delivers_fixture_documents(self):
        d = self._dir("d")
        m = gen.gen_doc_ingest(run.DATA, 3, d, 3, 40)
        self.assertEqual([b["replaced"] for b in m["batches"]], [4, 4, 4])
        self.assertEqual(m["batches"][-1]["corpus_rows"], len(m["final_ids"]))
        docs = gen.fixture_docs(run.DATA)
        self.assertEqual(m["final_ids"], [doc[0] for doc in docs])
        texts = {t for _, t, _ in docs}
        seen = set(pq.read_table(os.path.join(d, "seed.parquet")).to_pydict()["doc_id"])
        self.assertEqual(len(seen), len(docs) - 3 * 36)
        for b in range(3):
            batch = pq.read_table(os.path.join(d, "batch_%03d.parquet" % b)).to_pydict()
            self.assertEqual(len(batch["doc_id"]), 40)
            self.assertTrue(set(batch["text"]) <= texts)
            self.assertEqual(sum(i in seen for i in batch["doc_id"]), 4)
            seen.update(batch["doc_id"])

    def test_doc_ingest_refuses_to_exhaust_the_fixture(self):
        with self.assertRaises(ValueError):
            gen.gen_doc_ingest(run.DATA, 3, self._dir("d"), 5, 100)

    def test_scrub_mirrors_the_program(self):
        self.assertEqual(gen.scrub("mail a.b@x.org from 10.0.0.1 or +555 123 4567"),
                         "mail <EMAIL> from <IP> or <PHONE>")

    def test_file_batch_tree_mixes_suffixes_and_duplicates(self):
        d = self._dir("f")
        m = gen.gen_file_batch(run.DATA, 5, d, 400)
        names = [f for _, _, fs in os.walk(os.path.join(d, "tree")) for f in fs]
        self.assertEqual(len(set(names)), 400)
        self.assertGreater(len(names), 400)  # duplicate basenames
        self.assertTrue(any(n.endswith(".DWG") for n in names))
        self.assertTrue(any(not n.lower().endswith(".dwg") for n in names))
        self.assertEqual(m["succeeded"] + m["failed"], m["total"])
        with open(os.path.join(d, "fail.txt")) as f:
            msgs = [line.split("\t")[1] for line in f]
        self.assertTrue(all("Open.Close" in x or "disconnected" in x for x in msgs))

    def test_stage_output_mirrors_the_scala_stages(self):
        self.assertEqual(gen.stage_output("a  b c"), "4|a b c :bound")


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(run.WORKLOADS))

    def test_refuses_to_run_without_the_program(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "file_batch",
                                "--seed", "1", "--seconds", "10", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=120)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn("correct", p.stdout)
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
