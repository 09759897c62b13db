"""Unit tests of the unreferenced-name lister on a small fixture tree, and
a check that no top-level object of this repository's src/main is reached
only from its own unit test (no Spark):

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import unreferenced  # noqa: E402

LIB = '''package graft.a

/** Doc naming [[Caller]], which does not count. */
object Lib {
  def used(x: Int): Int = x + 1
  def onlyTested(x: Int): Int = helper(x)
  def helper(x: Int): Int = { val local = x; def inner = local; inner }
  private def hidden = 1
  private[graft] def pkgVisible = 2
  override def toString = "Lib"
  implicit val ord: Ordering[Int] = Ordering.Int
  case class Row(a: Int,
                 b: Int)
  def afterRow = {
    val notAMember = 1
    notAMember
  }
  object Nested {
    val deep = "} { not code"
    val unusedDeep = 4
    def apply(c: Char) = c == '}'
  }
  val mentioned = 3 // Caller mentions it only in a comment
}
'''

CALLER = '''package graft.b

import graft.a.Lib

object Caller {
  // mentioned
  def main(args: Array[String]): Unit = println(Lib.used(1) + Lib.Row(1, 2).a)
  def fromBench = "config: graft.a.Lib.Nested.deep"
}

class Plain
  extends Serializable {
  def member = 1
}
'''

BENCH = '''package irbench
object Run { def go = graft.b.Caller.fromBench + graft.a.Lib.afterRow }
'''

TEST = '''package graft
class LibSpec { graft.a.Lib.onlyTested(1); graft.a.Lib.hidden }
'''


class FixtureTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.TemporaryDirectory()
        files = {
            "src/main/scala/graft/a/Lib.scala": LIB,
            "src/main/scala/graft/b/Caller.scala": CALLER,
            "src/main/resources/notes.txt": "Plain\n",
            "irbench/scala/irbench/Run.scala": BENCH,
            "src/test/scala/graft/LibSpec.scala": TEST,
        }
        for path, text in files.items():
            full = os.path.join(cls.dir.name, path)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "w", encoding="utf-8") as fh:
                fh.write(text)
        cls.rows = {r[3]: r for r in unreferenced.unreferenced(cls.dir.name)}

    @classmethod
    def tearDownClass(cls):
        cls.dir.cleanup()

    def test_lists_names_no_other_program_file_uses(self):
        self.assertEqual(set(self.rows), {
            "onlyTested", "helper", "pkgVisible", "unusedDeep", "mentioned", "member"})

    def test_reports_own_file_uses_and_the_tests_that_name_it(self):
        path, line, kind, name, own, tests = self.rows["onlyTested"]
        self.assertEqual((path, line, kind, own, tests),
                         ("src/main/scala/graft/a/Lib.scala", 6, "def", 0, ["LibSpec.scala"]))
        self.assertEqual(self.rows["helper"][4:], (1, []))

    def test_uses_from_other_files_code_strings_resources_and_bench_count(self):
        for name in ("used", "Row", "Nested", "deep", "Plain", "afterRow", "fromBench",
                     "Lib"):
            self.assertNotIn(name, self.rows)

    def test_a_mention_in_a_comment_does_not_count(self):
        self.assertIn("mentioned", self.rows)

    def test_private_override_implicit_and_implicitly_called_are_skipped(self):
        for name in ("hidden", "toString", "ord", "apply"):
            self.assertNotIn(name, self.rows)

    def test_locals_and_class_parameters_are_not_members(self):
        for name in ("local", "inner", "notAMember", "a", "b"):
            self.assertNotIn(name, self.rows)

    def test_entry_point_objects_are_skipped(self):
        self.assertNotIn("Caller", self.rows)
        self.assertNotIn("main", self.rows)


class SplitSourceTest(unittest.TestCase):
    def test_keeps_line_structure_and_blanks_comments_and_literals(self):
        src = 'val s = "{x}" /* {\n } */ // {\nval c = \'{\'\n'
        code, words = unreferenced.split_source(src)
        self.assertEqual(code.count("\n"), src.count("\n"))
        self.assertNotIn("{", code)
        self.assertIn('"{x}"', words)
        self.assertNotIn("/*", words)


class RepoTest(unittest.TestCase):
    def test_no_top_level_object_is_reached_only_from_tests(self):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        only_tested = []
        for path, line, kind, name, own, _ in unreferenced.unreferenced(root):
            text = unreferenced.read(root, path).split("\n")[line - 1]
            if kind == "object" and own == 0 and not text[:1].isspace():
                only_tested.append(f"{path}:{line} {name}")
        self.assertEqual(only_tested, [])


if __name__ == "__main__":
    unittest.main()
