"""Tests of tools/scala_loc.py on planted Scala sources.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import scala_loc  # noqa: E402


class ScalaLocTest(unittest.TestCase):
    def test_blank_and_comment_lines_do_not_count(self):
        src = "\n".join([
            "package a",
            "",
            "   ",
            "// a line comment",
            "/** scaladoc",
            "  * more",
            "  */",
            "object A {",
            "  /* one-line block */",
            "  val x = 1 // trailing comment still counts the line",
            "}",
        ])
        self.assertEqual(scala_loc.code_lines(src), 4)

    def test_block_comments_nest(self):
        src = "/* outer /* inner */ still comment\n*/\nval y = 2\n"
        self.assertEqual(scala_loc.code_lines(src), 1)

    def test_comment_markers_inside_literals_are_code(self):
        src = "\n".join([
            'val u = "s3://bucket/*"',
            "val q = \"\"\"multi",
            "  // not a comment",
            "  */ nor this\"\"\"",
            "val c = '\"'",
            "val e = \"esc \\\" // still string\"",
            "val s = '/'",
        ])
        self.assertEqual(scala_loc.code_lines(src), 7)

    def test_code_after_a_block_comment_counts(self):
        self.assertEqual(scala_loc.code_lines("/* note */ val z = 3\n"), 1)
        self.assertEqual(scala_loc.code_lines("/* a\n b */ val z = 3\n"), 1)

    def test_per_file_and_total_over_a_directory(self):
        with tempfile.TemporaryDirectory() as d:
            Path(d, "sub").mkdir()
            Path(d, "A.scala").write_text("object A\n\n// c\n")
            Path(d, "sub", "B.scala").write_text("object B {\n  val b = 1\n}\n")
            Path(d, "notes.txt").write_text("not scala\n")
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                scala_loc.main([d])
            lines = out.getvalue().splitlines()
            self.assertEqual([ln.split()[0] for ln in lines], ["1", "3", "4"])
            self.assertTrue(lines[0].endswith("A.scala"))
            self.assertTrue(lines[-1].endswith("total"))
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                scala_loc.main(["--total", d])
            self.assertEqual(out.getvalue().strip(), "4")


if __name__ == "__main__":
    unittest.main()
