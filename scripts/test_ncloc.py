"""Tests for scripts/ncloc.py, the line-count metric.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ncloc import code_lines  # noqa: E402


class CodeLinesTest(unittest.TestCase):
    def test_blank_and_line_comments(self):
        text = "\n   \nval a = 1\n  // note\nval b = 2 // trailing\n"
        self.assertEqual(code_lines(text), 2)

    def test_block_comment(self):
        text = "/* one\n   two */\nval a = 1\n/* x */ val b = 2\n"
        self.assertEqual(code_lines(text), 2)

    def test_block_opened_after_code(self):
        text = "val a = 1 /* starts here\n still comment\n ends */\nval b = 2\n"
        self.assertEqual(code_lines(text), 2)

    def test_block_opener_inside_line_comment(self):
        text = "val a = 1 // see src/*.scala\nval b = 2\n"
        self.assertEqual(code_lines(text), 2)

    def test_code_after_block_close_counts(self):
        text = "/* a\n b */ val c = 3\n"
        self.assertEqual(code_lines(text), 1)

    def test_scaladoc(self):
        text = ("/** Doc for f.\n  *\n  * More.\n  */\n"
                "def f(x: Int): Int =\n  x + 1\n")
        self.assertEqual(code_lines(text), 2)

    def test_string_starting_with_slashes_reads_as_comment(self):
        # documented limitation: string literals are not parsed, so a
        # line of a multi-line string that starts with // is not counted
        text = 'val s = """one\n// two\nthree"""\n'
        self.assertEqual(code_lines(text), 2)


class MainTest(unittest.TestCase):
    def test_closed_stdout_exits_quietly(self):
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "ncloc.py")
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        p = subprocess.Popen([sys.executable, script, "src"], cwd=root,
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE)
        p.stdout.readline()
        p.stdout.close()
        err = p.stderr.read().decode()
        p.stderr.close()
        p.wait()
        self.assertNotIn("Traceback", err)
        self.assertEqual(p.returncode, 0)


if __name__ == "__main__":
    unittest.main()
