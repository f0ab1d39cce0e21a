"""Tests for tools/oracle_diff.py: python3 -m unittest discover tools"""
import contextlib
import io
import json
import os
import tempfile
import unittest

import oracle_diff
from oracle_diff import normalize


class NormalizeTest(unittest.TestCase):
    def test_whitespace_inside_a_literal_is_kept(self):
        self.assertNotEqual(normalize("SELECT 'a  b'"),
                            normalize("SELECT 'a b'"))
        self.assertNotEqual(normalize('SELECT "a  b"'),
                            normalize('SELECT "a b"'))

    def test_doubled_quote_does_not_end_a_literal(self):
        self.assertEqual(normalize("SELECT 'it''s  x'  AS t"),
                         "SELECT 'it''s  x' AS t")

    def test_comment_markers_inside_a_literal_are_text(self):
        sql = "SELECT '<!-- hidden -->' AS a, '/* b */' AS c, '-- d' AS e"
        self.assertEqual(normalize(sql), sql.replace(", ", ","))

    def test_comments_outside_quotes_are_dropped(self):
        self.assertEqual(normalize("SELECT a -- note\nFROM /* x */ t"),
                         "SELECT a FROM t")

    def test_whitespace_runs_and_around_parens_and_commas(self):
        self.assertEqual(normalize("x AS (\n SELECT"),
                         normalize("x AS (SELECT"))
        self.assertEqual(normalize("f( a ,\n  b )  g"), "f(a,b)g")
        self.assertEqual(normalize("SELECT\n\n  a\tFROM t"), "SELECT a FROM t")

    def test_words_stay_apart(self):
        self.assertNotEqual(normalize("SELECT a b"), normalize("SELECT ab"))


class MainTest(unittest.TestCase):
    def run_main(self, a, b):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, doc in (("a.json", a), ("b.json", b)):
                paths.append(os.path.join(d, name))
                with open(paths[-1], "w") as f:
                    json.dump(doc, f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                code = oracle_diff.main(["oracle_diff.py"] + paths)
            return code, out.getvalue()

    def test_layout_only_change_passes(self):
        code, out = self.run_main({"q1": "WITH t AS (\n  SELECT 1)"},
                                  {"q1": "WITH t AS (SELECT 1)"})
        self.assertEqual(code, 0, out)

    def test_key_set_difference_fails(self):
        code, out = self.run_main({"q1": "SELECT 1", "q2": "SELECT 2"},
                                  {"q1": "SELECT 1"})
        self.assertEqual(code, 1)
        self.assertIn("q2", out)

    def test_first_differing_query_is_named(self):
        code, out = self.run_main(
            {"q1": "SELECT 1", "q2": "SELECT 'a  b'", "q3": "SELECT 3"},
            {"q1": "SELECT 1", "q2": "SELECT 'a b'", "q3": "SELECT 4"})
        self.assertEqual(code, 1)
        self.assertIn("q2 differs", out)
        self.assertNotIn("q3", out)


if __name__ == "__main__":
    unittest.main()
