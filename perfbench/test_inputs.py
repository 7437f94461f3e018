"""Tests of the seeded input generators.

    python3 -m unittest discover -s perfbench
"""
import collections
import csv
import hashlib
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import inputs


def digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.tmp = self._tmp.name

    def tearDown(self):
        self._tmp.cleanup()

    def out(self, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        return d


class LoanCsvTest(GeneratorTest):
    ROWS = 5000

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = self.out("a"), self.out("b"), self.out("c")
        inputs.write_loan(7, a, self.ROWS)
        inputs.write_loan(7, b, self.ROWS)
        inputs.write_loan(8, c, self.ROWS)
        for f in ("loan.csv", "loan_truth.csv"):
            self.assertEqual(digest(os.path.join(a, f)), digest(os.path.join(b, f)))
            self.assertNotEqual(digest(os.path.join(a, f)), digest(os.path.join(c, f)))

    def test_columns_nulls_and_domains(self):
        d = self.out("a")
        inputs.write_loan(3, d, self.ROWS)
        with open(os.path.join(d, "loan.csv"), newline="") as fh:
            rows = list(csv.reader(fh))
        header, body = rows[0], rows[1:]
        self.assertEqual(header, inputs.COLUMNS)
        self.assertEqual(len(body), self.ROWS)
        col = {c: [r[i] for r in body] for i, c in enumerate(header)}
        # the four imputed columns carry nulls (empty fields) near the
        # reference's rates; LTV is null exactly where property_value is
        for c in ("rate_of_interest", "property_value", "income", "LTV"):
            rate = col[c].count("") / self.ROWS
            self.assertAlmostEqual(rate, inputs.NULLS_PER_999.get(c, 101) / 999, delta=0.02)
        self.assertEqual([v == "" for v in col["LTV"]],
                         [v == "" for v in col["property_value"]])
        self.assertIn("NA", col["submission_of_application"])
        self.assertEqual(set(col["Status"]), {"0", "1"})
        self.assertEqual(set(col["year"]), {"2019"})
        self.assertEqual(len(set(col["ID"])), self.ROWS)
        scores = [int(v) for v in col["Credit_Score"]]
        self.assertTrue(500 <= min(scores) and max(scores) <= 900)


class RelabelDocsTest(GeneratorTest):
    def test_same_seed_same_bytes(self):
        a, b = self.out("a"), self.out("b")
        inputs.relabel_docs(11, a)
        inputs.relabel_docs(11, b)
        self.assertEqual(digest(os.path.join(a, "documents.parquet")),
                         digest(os.path.join(b, "documents.parquet")))

    def test_other_seed_keeps_schema_and_text_multiset(self):
        base = pq.read_table(inputs.BASE_DOCS)
        a, b = self.out("a"), self.out("b")
        inputs.relabel_docs(11, a)
        inputs.relabel_docs(12, b)
        ta = pq.read_table(os.path.join(a, "documents.parquet"))
        tb = pq.read_table(os.path.join(b, "documents.parquet"))

        def content(t):
            cols = [c for c in t.column_names if c != "doc_id"]
            return collections.Counter(zip(*(t.column(c).to_pylist() for c in cols)))

        for t in (ta, tb):
            self.assertEqual(t.schema, base.schema)
            self.assertEqual(content(t), content(base))
            self.assertEqual(sorted(t.column("doc_id").to_pylist()),
                             sorted(base.column("doc_id").to_pylist()))
            self.assertEqual(t.column("doc_id").to_pylist(),
                             sorted(t.column("doc_id").to_pylist()))
        # the relabel moves documents: their ids, hence shard and holdout
        # membership, differ between seeds
        text_to_id = lambda t: dict(zip(t.column("text").to_pylist(), t.column("doc_id").to_pylist()))
        self.assertNotEqual(text_to_id(ta), text_to_id(tb))


if __name__ == "__main__":
    unittest.main()
