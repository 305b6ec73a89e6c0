"""Unit tests for tools/callers.py: the entry list and the default-parameter pass.

Run: python3 -m unittest discover -s tools
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import callers  # noqa: E402

OPS = """package graft.ops

object FooOps {
  private val Width = 8

  def byName(df: DataFrame, k: Int = 3): DataFrame = df
  def byPosition(df: DataFrame, k: Int = 3): DataFrame = df
  def equalText(df: DataFrame, k: Int = 3): DataFrame = df
  def passedThrough(df: DataFrame, k: Int = 3): DataFrame = df
  def outer(df: DataFrame, k: Int = 3): DataFrame = passedThrough(df, k)
  def binding(df: DataFrame, idCol: String = "id", keyCols: Seq[String] = Nil): DataFrame = df
  def shared(df: DataFrame, width: Int = Width): DataFrame = df
  def secondList(df: DataFrame)(k: Int = 3): DataFrame = df
}
"""

QUERIES = """package graft.queries

object Q {
  // FooOps.equalText(df, k = 9) in a comment does not count
  def a(df: DataFrame) = FooOps.byName(df, k = 4)
  def b(df: DataFrame) = FooOps.byPosition(df, 4)
  def c(df: DataFrame) = FooOps.equalText(df, k = 3)
  def d(df: DataFrame) = FooOps.outer(df)
  def e(df: DataFrame) = FooOps.binding(df)
  def f(df: DataFrame) = FooOps.secondList(df)(5)
}
"""

SPEC = """package graft.ops

class FooSpec {
  private val Width = 2
  FooOps.equalText(df, 3)
  FooOps.shared(df, width = Width)
}
"""


def write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


class ParamPassTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as root:
            write(root, "src/main/scala/graft/ops/FooOps.scala", OPS)
            write(root, "src/main/scala/graft/queries/Q.scala", QUERIES)
            write(root, "src/test/scala/graft/ops/FooSpec.scala", SPEC)
            os.makedirs(os.path.join(root, "perfbench", "src"))
            cls.params = {key: status for (key, _), (_, status)
                          in callers.scan_params(root).items()}

    def status(self, key):
        return self.params["FooOps." + key]

    def test_every_default_is_counted(self):
        self.assertEqual(len(self.params), 9)

    def test_set_by_name(self):
        self.assertEqual(self.status("byName.k"), "set")

    def test_set_by_position(self):
        self.assertEqual(self.status("byPosition.k"), "set")

    def test_set_in_a_later_argument_list(self):
        self.assertEqual(self.status("secondList.k"), "set")

    def test_literal_equal_to_the_default_does_not_set(self):
        # by name in src/main, by position in src/test; the comment's
        # k = 9 is stripped before the scan
        self.assertEqual(self.status("equalText.k"), "unset")

    def test_passing_a_parameter_through_sets(self):
        self.assertEqual(self.status("passedThrough.k"), "set")
        self.assertEqual(self.status("outer.k"), "unset")

    def test_column_bindings_are_exempt(self):
        self.assertEqual(self.status("binding.idCol"), "column")
        self.assertEqual(self.status("binding.keyCols"), "column")

    def test_a_named_default_repeated_from_another_file_sets(self):
        # the spec's `Width` is its own constant, not FooOps.Width
        self.assertEqual(self.status("shared.width"), "set")

    def test_allowlist_keeps(self):
        saved = dict(callers.PARAM_ALLOWLIST)
        try:
            callers.PARAM_ALLOWLIST["FooOps.outer.k"] = "reason"
            with tempfile.TemporaryDirectory() as root:
                write(root, "src/main/scala/graft/ops/FooOps.scala", OPS)
                write(root, "src/main/scala/graft/queries/Q.scala", QUERIES)
                os.makedirs(os.path.join(root, "perfbench", "src"))
                got = {key: status for (key, _), (_, status)
                       in callers.scan_params(root).items()}
            self.assertEqual(got["FooOps.outer.k"], "kept")
        finally:
            callers.PARAM_ALLOWLIST.clear()
            callers.PARAM_ALLOWLIST.update(saved)


ENTRY_FILES = {
    "src/main/scala/graft/Verify.scala": """package graft

object Verify {
  def main(args: Array[String]): Unit = Demo.run()
}
""",
    "src/main/scala/graft/tools/Explain.scala": """package graft.tools

object Explain {
  def main(args: Array[String]): Unit = graft.core.Plans.fromExplain()
}
""",
    "src/main/scala/graft/tools/Demo.scala": """package graft.tools

object Demo {
  def run(): Unit = ()

  def main(args: Array[String]): Unit = graft.ops.FooOps.onlyFromDemoMain()
}
""",
    "src/main/scala/graft/ops/FooOps.scala": """package graft.ops

object FooOps {
  def onlyFromDemoMain(): Unit = ()
}
""",
    "src/main/scala/graft/functions/Bar.scala": """package graft.functions

object Bar {
  def unusedFunction(): Unit = ()
}
""",
    "src/main/scala/graft/core/Plans.scala": """package graft.core

object Plans {
  def fromExplain(): Unit = ()
  def unusedCore(): Unit = ()
}
""",
}


class EntryListTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as root:
            for rel, text in ENTRY_FILES.items():
                write(root, rel, text)
            os.makedirs(os.path.join(root, "perfbench", "src"))
            cls.uncalled, cls.live = callers.scan(root)

    def test_a_main_outside_the_entry_list_keeps_nothing_alive(self):
        # Verify's own `main` names `main`, which never counts as a call
        self.assertIn("Demo.main", self.uncalled)
        self.assertIn("FooOps.onlyFromDemoMain", self.uncalled)

    def test_functions_and_core_are_scanned(self):
        self.assertIn("Bar.unusedFunction", self.uncalled)
        self.assertIn("Plans.unusedCore", self.uncalled)

    def test_entry_files_keep_members_alive(self):
        # Demo.run from Verify; Plans.fromExplain from tools/Explain
        self.assertIn("Demo.run", self.live)
        self.assertIn("Plans.fromExplain", self.live)


if __name__ == "__main__":
    unittest.main()
