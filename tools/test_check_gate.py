"""The local correctness gate's command line (no Spark, no DuckDB):

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import subprocess
import sys
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check_gate.py")


class HelpTest(unittest.TestCase):
    def test_help_prints_usage_and_reads_nothing(self):
        p = subprocess.run([sys.executable, SCRIPT, "--help"],
                           capture_output=True, text=True)
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertIn("usage: check_gate.py [-h] [sfdir] [outdir]", p.stdout)
        self.assertEqual(p.stderr, "")


if __name__ == "__main__":
    unittest.main()
