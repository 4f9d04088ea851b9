"""Tests of the benchmark's own machinery: seeded inputs and the
correctness checks. They need no JVM.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import tempfile
import unittest

import check
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build")


class Scratch(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def path(self, *p):
        return os.path.join(self.dir, *p)


class SeededInputs(Scratch):
    def hash_of(self, seed, name):
        root = self.path(f"{name}-{seed}")
        if name == "cur":
            gen.gen_cur(root, seed, 50)
        elif name == "corpus":
            gen.gen_corpus(os.path.join(root, "docs.parquet"), seed, 20, 2, 2, 3)
        elif name == "stream":
            gen.gen_stream(root, seed, 4, 20)
        else:
            gen.gen_tables(root, seed, 0.001)
        return gen.summarize([root])["sha256"]

    def test_same_seed_same_hash_other_seed_other_hash(self):
        for name in ("cur", "corpus", "stream", "tables"):
            with self.subTest(name):
                first = self.hash_of(7, name)
                shutil.rmtree(self.path(f"{name}-7"))
                self.assertEqual(first, self.hash_of(7, name))
                self.assertNotEqual(first, self.hash_of(8, name))


def costs_rows(expect):
    """The answer a correct engine gives to the costs aggregation."""
    return [[t, a, s, y, m, n, None if c is None else c / gen.COST_SCALE]
            for (t, a, s, y, m), (n, c) in expect.items()]


class Checks(Scratch):
    def serving_case(self, roots=tuple(gen.ROOTS)):
        book = {"cur": gen.gen_cur(self.path("cur"), 3, 40, roots)}
        book["expect_sync"] = gen.expected_costs(book["cur"], [12])
        book["requests"] = gen.serving_requests(book["cur"], 3, 3, [12], ["c07_groupby_agg"])
        book["corpus"] = gen.gen_corpus(self.path("docs.parquet"), 3, 20, 2, 2, 3)
        ops = []
        for i, r in enumerate(book["requests"]):
            if r["kind"] == "c":  # checked against DuckDB, which needs the engine's answer files
                continue
            e = r["expect"]
            answer = {
                "D1": lambda: [[k, v / gen.COST_SCALE] for k, v in e.items()],
                "D2": lambda: [[k, n, v / gen.COST_SCALE] for k, (n, v) in e.items()],
                "D3": lambda: [[k, v / gen.COST_SCALE] for k, v in sorted(e.items())],
                "D4": lambda: [gen.REGISTRY[0]] * 10,
                "D5": lambda: [[k, v, "success"] for k, v in e.items()],
            }[r["kind"]]()
            ops.append({"kind": r["kind"], "req": i, "answer": answer, "error": None})
        out = {"ops": ops, "setup": {"sync": {
            "status": [r.replace("-", "_") + ":success" for r in roots],
            "costs": costs_rows(book["expect_sync"])},
            "corpus": {"doc_ids": [g[0] for g in book["corpus"]["exact_groups"]]}}}
        return out, book

    def test_request_mix_is_the_same_for_every_seed(self):
        cur = gen.gen_cur(self.path("cur"), 3, 40)
        kinds = [[r["kind"] for r in gen.serving_requests(cur, seed, 2, [12], ["a", "b"])]
                 for seed in (3, 4)]
        self.assertEqual(kinds[0], kinds[1])
        self.assertEqual(kinds[0][:12], ["D1", "D2", "D3", "D4", "D5", "c"] * 2)
        self.assertEqual(len(kinds[0]), 24)

    def test_correct_answers_pass(self):
        # all three roots (sql_serving_full) and the two primary-named ones (sql_serving)
        for roots in (tuple(gen.ROOTS), ("cur-a", "cur-c")):
            with self.subTest(roots=roots):
                shutil.rmtree(self.path("cur"), ignore_errors=True)
                out, book = self.serving_case(roots)
                self.assertEqual(sorted(os.listdir(self.path("cur"))), list(roots))
                self.assertEqual(check.check_ops("sql_serving", out, book),
                                 [None] * (2 + len(out["ops"])))

    def test_unfiltered_account_is_a_failure(self):
        """A non-registry account's rows in the alternative-named root's
        normalized table fail the sync, and so does one more row of the
        region-ruled account, as an off-region row would add."""
        out, book = self.serving_case()
        key = next(k for k in book["expect_sync"] if k[0] == "cur_b")
        out["setup"]["sync"]["costs"].append(["cur_b", "999999999999", key[2], key[3], key[4],
                                              1, 1.0])
        self.assertIsNotNone(check.check_ops("sql_serving", out, book)[0])
        out, book = self.serving_case()
        costs = out["setup"]["sync"]["costs"]
        ruled = ["cur_b", "905174205951", "AmazonS3", gen.YEAR, 12]
        row = next((r for r in costs if r[:5] == ruled), None)
        if row is None:
            costs.append(ruled + [1, 1.0])
        else:
            row[5] += 1
        self.assertIsNotNone(check.check_ops("sql_serving", out, book)[0])

    def test_corpus_in_serving_setup_is_checked(self):
        out, book = self.serving_case()
        out["setup"]["corpus"]["doc_ids"] = []
        self.assertIsNotNone(check.check_ops("sql_serving", out, book)[1])

    def test_corrupted_answer_is_a_failure(self):
        out, book = self.serving_case()
        d1 = next(o for o in out["ops"] if o["kind"] == "D1")
        d1["answer"][0][1] += 1.0
        verdicts = check.check_ops("sql_serving", out, book)
        self.assertEqual(sum(v is not None for v in verdicts), 1)

    def test_corrupted_sync_is_a_failure(self):
        out, book = self.serving_case()
        out["setup"]["sync"]["costs"].pop()
        self.assertIsNotNone(check.check_ops("sql_serving", out, book)[0])

    def test_stream_redelivered_row_is_a_failure(self):
        s = gen.gen_stream(self.path("stream"), 5, 6, 30)
        costs = [[svc, y, m, n, c / gen.COST_SCALE] for (svc, y, m), (n, c) in s["expect"].items()]
        ok = {"ops": [{"answer": {"costs": costs, "raw_rows": s["rows"]}}]}
        self.assertEqual(check.check_ops("cur_stream", ok, {"stream": s}), [None])
        dup = {"ops": [{"answer": {"costs": costs, "raw_rows": s["rows"] + 1}}]}
        self.assertIsNotNone(check.check_ops("cur_stream", dup, {"stream": s})[0])

    def test_corpus_exact_groups_keep_one(self):
        c = gen.gen_corpus(self.path("docs.parquet"), 5, 20, 2, 2, 3)
        one_each = [g[0] for g in c["exact_groups"]]
        ok = {"ops": [{"answer": {"doc_ids": one_each}}]}
        self.assertEqual(check.check_ops("corpus_prep", ok, {"corpus": c}), [None])
        both = {"ops": [{"answer": {"doc_ids": one_each + [c["exact_groups"][0][1]]}}]}
        self.assertIsNotNone(check.check_ops("corpus_prep", both, {"corpus": c})[0])
        stray = {"ops": [{"answer": {"doc_ids": one_each + [-1]}}]}
        self.assertIsNotNone(check.check_ops("corpus_prep", stray, {"corpus": c})[0])


if __name__ == "__main__":
    unittest.main()
