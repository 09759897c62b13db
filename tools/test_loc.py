"""Unit tests of the code-line counter (no Spark):

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402


class CodeLinesTest(unittest.TestCase):
    def test_blank_and_line_comments_do_not_count(self):
        self.assertEqual(loc.code_lines("\n   \n// a\n  // b\nval x = 1 // c\n"), 1)

    def test_scaladoc_and_block_comments_do_not_count(self):
        src = "/** Doc.\n  * more\n  */\ndef f = 1\n/* one */ /* two\n three */\n"
        self.assertEqual(loc.code_lines(src), 1)

    def test_code_after_a_closing_comment_counts(self):
        self.assertEqual(loc.code_lines("/* a\n b */ val y = 2\n"), 1)

    def test_nested_block_comments(self):
        src = "/* outer /* inner */ still comment\n*/\nval z = 3\n"
        self.assertEqual(loc.code_lines(src), 1)

    def test_comment_markers_inside_strings_are_code(self):
        src = 'val u = s"file://$dir"\nval g = "a/*.gz"\nval h = 4\n'
        self.assertEqual(loc.code_lines(src), 3)

    def test_escaped_quote_and_quote_char(self):
        src = 'val q = "say \\"/*\\""\nval c = \'"\'\nval d = 5\n'
        self.assertEqual(loc.code_lines(src), 3)

    def test_triple_quoted_lines_are_code(self):
        src = 'val j = s"""{\n  // not a comment\n\n  */\n}"""\n// after\n'
        self.assertEqual(loc.code_lines(src), 4)


class TableTest(unittest.TestCase):
    def test_directory_of_a_source(self):
        self.assertEqual(loc.directory("src/main/scala/graft/index/IndexStore.scala"), "index")
        self.assertEqual(loc.directory("src/main/scala/graft/Bench.scala"), ".")

    def test_delta_rows_and_total(self):
        rows = loc.table(Counter({"index": 10, "gate": 5}),
                         Counter({"index": 7, "tools": 2}), "abc")
        self.assertEqual(rows[1].split(), ["gate", "5", "0", "-5"])
        self.assertEqual(rows[2].split(), ["index", "10", "7", "-3"])
        self.assertEqual(rows[3].split(), ["tools", "0", "2", "+2"])
        self.assertEqual(rows[-1].split(), ["total", "15", "9", "-6"])


if __name__ == "__main__":
    unittest.main()
