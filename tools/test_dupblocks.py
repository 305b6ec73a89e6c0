"""Unit tests for tools/dupblocks.py.

Run: python3 -m unittest discover -s tools
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import dupblocks  # noqa: E402

BLOCK = """    val d = Tables.documents(spark, dir)
    val n = d.count()
    val e = d.select(col("doc_id").as("src"))
      .union(d.select(col("doc_id")))
      .filter(col("src") =!= col("dst"))
    GraphOps.pageRank(e, iters = 5)
"""

QUERIES = """package graft.queries

object Q {
  def a(spark: SparkSession, dir: String): DataFrame = {
""" + BLOCK + """  }

  // a copy at another indentation, with its own comments
  def b(spark: SparkSession, dir: String): DataFrame = {
""" + "".join("  " + l + " // copied\n" for l in BLOCK.splitlines()) + """  }

  // five of the six lines only: too short to count
  def c(spark: SparkSession, dir: String): DataFrame = {
""" + "".join(BLOCK.splitlines(True)[:5]) + """    c
  }

  // the six lines broken by a short line: no run of six
  def d(spark: SparkSession, dir: String): DataFrame = {
""" + "".join(BLOCK.splitlines(True)[:3]) + "    }\n" + "".join(BLOCK.splitlines(True)[3:]) + """  }
}
"""

BENCH = """package graft

object Bench {
  "b_x" -> ((spark, dir) => {
""" + BLOCK + """  })
}
"""


def write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def tree(root):
    write(root, "src/main/scala/graft/queries/Q.scala", QUERIES)
    write(root, "src/main/scala/graft/Bench.scala", BENCH)


class DupBlocksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as root:
            tree(root)
            cls.runs = [(os.path.basename(p), first, last, os.path.basename(op), ol)
                        for p, first, last, op, ol, _ in dupblocks.scan(root)]

    def test_copies_are_reported_at_any_indentation_and_across_files(self):
        self.assertEqual(self.runs, [("Q.scala", 15, 20, "Q.scala", 5),
                                     ("Bench.scala", 5, 10, "Q.scala", 5)])

    def test_exit_status(self):
        # the script's main on a fixture tree, with the repo's own
        # ALLOWLIST emptied: its entries name the repo's files, and
        # would read as stale here
        code = ("import sys, dupblocks; dupblocks.ALLOWLIST.clear(); "
                "sys.argv = ['dupblocks.py', sys.argv[1]]; dupblocks.main()")
        tools = os.path.dirname(os.path.abspath(__file__))

        def run(root):
            return subprocess.run([sys.executable, "-c", code, root], cwd=tools,
                                  capture_output=True, text=True)
        with tempfile.TemporaryDirectory() as root:
            tree(root)
            bad = run(root)
            write(root, "src/main/scala/graft/Bench.scala", "package graft\n")
            write(root, "src/main/scala/graft/queries/Q.scala", BENCH)
            clean = run(root)
        self.assertEqual(bad.returncode, 1)
        self.assertIn("12 copied lines in 2 runs", bad.stdout)
        self.assertEqual(clean.returncode, 0, clean.stdout)

    def test_every_package_is_scanned(self):
        with tempfile.TemporaryDirectory() as root:
            write(root, "src/main/scala/graft/Bench.scala", "package graft\n")
            for rel in ("ops/A.scala", "streaming/sub/B.scala", "functions/C.scala"):
                name = os.path.basename(rel)[0]
                write(root, "src/main/scala/graft/" + rel, "object %s {\n%s}\n" % (name, BLOCK))
            runs = [(os.path.basename(p), first, last, os.path.basename(op), ol)
                    for p, first, last, op, ol, _ in dupblocks.scan(root)]
        # queries/ and Bench.scala first, then every other file in path order
        self.assertEqual(runs, [("A.scala", 2, 7, "C.scala", 2),
                                ("B.scala", 2, 7, "C.scala", 2)])

    def test_import_lines_never_form_a_copy(self):
        imports = "".join("import org.apache.spark.sql.%s\n" % n
                          for n in ("Column", "DataFrame", "Row", "SparkSession",
                                    "functions._", "types._", "expressions.Window"))
        with tempfile.TemporaryDirectory() as root:
            write(root, "src/main/scala/graft/Bench.scala", "package graft\n")
            for name in ("A", "B"):
                write(root, "src/main/scala/graft/ops/%s.scala" % name,
                      "package graft.ops\n\n%s\nobject %s\n" % (imports, name))
            self.assertEqual(dupblocks.scan(root), [])

    def test_allowlist_covers_and_goes_stale(self):
        saved = dict(dupblocks.ALLOWLIST)
        try:
            dupblocks.ALLOWLIST[("Bench.scala", "val n = d.count()")] = "reason"
            dupblocks.ALLOWLIST[("Q.scala", "no such line")] = "reason"
            with tempfile.TemporaryDirectory() as root:
                tree(root)
                runs = dupblocks.scan(root)
                covered = [r for r in runs if dupblocks.covering(r[0], r[5])]
            self.assertEqual([os.path.basename(r[0]) for r in covered], ["Bench.scala"])
        finally:
            dupblocks.ALLOWLIST.clear()
            dupblocks.ALLOWLIST.update(saved)


if __name__ == "__main__":
    unittest.main()
