"""Tests for scripts/dumpdiff.py. Run: python3 -m unittest scripts/test_dumpdiff.py"""
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from dumpdiff import diff_dumps  # noqa: E402
from localcheck import connect  # noqa: E402


def write_dump(root, results, oracles):
    """A Verify-shaped dump: `results` maps a query name to the SELECT
    whose rows become `<root>/<name>/part-0.parquet`."""
    con = duckdb.connect()
    for name, select in results.items():
        os.makedirs(os.path.join(root, name))
        con.execute(f"COPY ({select}) TO "
                    f"'{os.path.join(root, name, 'part-0.parquet')}' "
                    "(FORMAT PARQUET)")
    with open(os.path.join(root, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)


class DumpDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.base = self.tmp.name
        sf = os.path.join(self.base, "sf")
        os.makedirs(sf)
        duckdb.connect().execute(
            "COPY (SELECT range AS doc_id, 'd' || range AS text FROM range(4)) "
            f"TO '{os.path.join(sf, 'documents.parquet')}' (FORMAT PARQUET)")
        self.con = connect(sf)
        self.rows = ("SELECT * FROM (VALUES (1, 0.5, 'a'), (2, 0.25, 'b')) "
                     "t(id, x, s)")
        self.oracle = {"q1": "SELECT doc_id FROM documents ORDER BY doc_id"}

    def tearDown(self):
        self.tmp.cleanup()

    def dump(self, name, results, oracles=None):
        root = os.path.join(self.base, name)
        write_dump(root, results, self.oracle if oracles is None else oracles)
        return root

    def test_identical_dumps_in_any_row_order_match(self):
        a = self.dump("a", {"q1": self.rows})
        b = self.dump("b", {"q1": self.rows + " ORDER BY id DESC"})
        self.assertEqual(diff_dumps(a, b, self.con), ([], 1, 0))

    def test_a_changed_value_is_reported(self):
        a = self.dump("a", {"q1": self.rows})
        b = self.dump("b", {"q1": self.rows.replace("0.25", "0.2500001")})
        diffs, _, _ = diff_dumps(a, b, None)
        self.assertEqual(len(diffs), 1)
        self.assertTrue(diffs[0].startswith("DUMP q1: first diffs"))

    def test_a_query_missing_on_one_side_is_reported(self):
        a = self.dump("a", {"q1": self.rows, "q2": self.rows})
        b = self.dump("b", {"q1": self.rows})
        self.assertEqual(diff_dumps(a, b, None),
                         (["DUMP q2: only in A"], 2, 0))

    def test_oracles_whose_results_differ_are_reported(self):
        a = self.dump("a", {"q1": self.rows})
        b = self.dump("b", {"q1": self.rows}, {
            "q1": "SELECT doc_id FROM documents WHERE doc_id > 0"})
        self.assertEqual(diff_dumps(a, b, self.con),
                         (["ORACLE q1: rows 4 vs 3"], 1, 1))

    def test_rewritten_oracle_sql_with_the_same_result_matches(self):
        a = self.dump("a", {"q1": self.rows})
        b = self.dump("b", {"q1": self.rows}, {
            "q1": "WITH d AS (SELECT * FROM documents) "
                  "SELECT doc_id FROM d ORDER BY doc_id DESC"})
        self.assertEqual(diff_dumps(a, b, self.con), ([], 1, 1))


if __name__ == "__main__":
    unittest.main()
