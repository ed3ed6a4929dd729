"""Tests for scripts/loc.py. Run: python3 -m unittest scripts/test_loc.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import count_lines  # noqa: E402

Q3 = '"' * 3


class CountLinesTest(unittest.TestCase):
    def test_blank_and_comment_only_lines_do_not_count(self):
        src = "val a = 1\n\n   \n// note\n  /* block */\nval b = 2 // tail\n"
        self.assertEqual(count_lines(src), 2)

    def test_block_comments_span_lines_and_nest(self):
        src = "/* outer\n /* inner */ still comment\n*/ val a = 1\nval b = 2\n"
        self.assertEqual(count_lines(src), 2)

    def test_comment_markers_inside_strings_are_code(self):
        src = 'val u = "http://x" // c\nval s = "/* not a comment"\nval t = 1\n'
        self.assertEqual(count_lines(src), 3)

    def test_escaped_quote_does_not_end_a_string(self):
        src = 'val s = "a \\" // still string"\nval t = 1\n'
        self.assertEqual(count_lines(src), 2)

    def test_triple_quoted_lines_all_count(self):
        src = f"val q = {Q3}SELECT 1\n\n// kept\n  FROM t{Q3}\n// gone\n"
        self.assertEqual(count_lines(src), 4)

    def test_triple_quote_closer_after_extra_quotes(self):
        # the string ends on the last three of four quotes
        src = f'val q = {Q3}say "hi"{Q3}\n// gone\nval r = 1\n'
        self.assertEqual(count_lines(src), 2)

    def test_char_literals_do_not_open_strings(self):
        src = "val a = '\"' // c\nval b = '\\'' /* c */\n// gone\nval c = 1\n"
        self.assertEqual(count_lines(src), 3)


if __name__ == "__main__":
    unittest.main()
